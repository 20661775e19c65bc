"""The extractor bank ships once per session and compactly: one
broadcast per SparkContext and extractor set, and a pickle whose size
follows the lexicon's distinct values, not its readings."""

import pickle

import pytest

from yargy_spark.extractors import EXTRACTORS, CompiledBank
from yargy_spark.sources.transcripts import FILLERS, GOLDEN_SENTENCES


@pytest.fixture(scope='module')
def bank():
    return CompiledBank()


def test_bank_pickle_is_compact(bank):
    """The interned lexicon keeps the default bank's pickle under
    1.5 MB (2.6 MB with one gram-set object per reading)."""
    size = len(pickle.dumps(bank, protocol=pickle.HIGHEST_PROTOCOL))
    assert size < 1_500_000, size


def test_bank_pickle_roundtrip_runs_identically(bank):
    """A worker's unpickled bank gives the driver bank's output on
    every golden sentence, the fillers and an out-of-vocabulary name
    (the suffix predictor is rebuilt after unpickling)."""
    copy = pickle.loads(pickle.dumps(bank,
                                     protocol=pickle.HIGHEST_PROTOCOL))
    texts = GOLDEN_SENTENCES + FILLERS + ['пришла Аделаида Зубкова']
    for text in texts:
        assert list(copy.run(text)) == list(bank.run(text)), text


class _Broadcast:
    def __init__(self, value):
        self.payload = value

    @property
    def value(self):
        raise AssertionError('the driver must not read Broadcast.value')


class _Context:
    """Stands in for a SparkContext: records its broadcasts."""

    def __init__(self):
        self.broadcasts = []

    def broadcast(self, value):
        self.broadcasts.append(_Broadcast(value))
        return self.broadcasts[-1]


def test_session_bank_is_per_context_and_extractor_set():
    """One (bank, broadcast) pair per context and extractor set: a
    second call reuses it, another extractor set gets its own, and a
    new context never sees the old context's pair."""
    from yargy_spark.operators.extract import _session_bank
    first, second = _Context(), _Context()
    bank, payload = _session_bank(first)
    assert payload.payload is bank
    assert _session_bank(first) == (bank, payload)
    assert _session_bank(first, ['name'])[0] is not bank
    assert len(first.broadcasts) == 2

    bank2, payload2 = _session_bank(second)
    assert bank2 is not bank and payload2 is not payload
    assert len(second.broadcasts) == 1
    assert _session_bank(second) == (bank2, payload2)
    # back on the first context: its pairs were dropped, never reused
    assert _session_bank(first)[1] is not payload
    assert len(first.broadcasts) == 3


@pytest.mark.spark
def test_default_bank_broadcast_once_per_session(spark, tmp_path,
                                                 monkeypatch):
    """Two ``extract_mentions`` calls and a chunked ``run_resumable``
    (one chunk per pending bucket) broadcast the default bank at most
    once; an explicit ``bank=`` keeps its own per-call broadcast."""
    from pyspark import SparkContext
    from yargy_spark.operators.extract import extract_mentions
    from yargy_spark.pipeline import run_resumable
    from yargy_spark.sources.transcripts import (golden_only_transcripts,
                                                 synth_transcripts)
    banks = []
    orig = SparkContext.broadcast

    def spy(self, value):
        if isinstance(value, CompiledBank):
            banks.append(value)
        return orig(self, value)

    monkeypatch.setattr(SparkContext, 'broadcast', spy)
    golden = golden_only_transcripts(spark)
    first = extract_mentions(golden).count()
    assert extract_mentions(golden).count() == first > 0
    snap = run_resumable(spark, synth_transcripts(spark, n_turns=48,
                                                  partitions=2),
                         str(tmp_path / 'kg'), n_buckets=2,
                         chunk_size=1)
    assert snap['counters']['extraction_chunks'] == 2
    assert len(banks) <= 1, len(banks)
    assert all([p[0] for p in b.parsers] == list(EXTRACTORS)
               for b in banks)

    explicit = CompiledBank(['name'])
    extract_mentions(golden, bank=explicit).count()
    assert banks[-1] is explicit
