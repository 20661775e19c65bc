"""Corpus extraction operator: transcripts -> mentions/facts table.

The Spark re-expression of ``Parser.findall`` over a 10^12-turn corpus
(SURVEY.md §3.2): the per-turn Earley kernel runs inside
``mapInPandas`` over Arrow batches; the corpus axis is Spark's.

Scale design:
  - the compiled extractor bank (grammar IR + expanded gazetteers +
    interned lexicon, ~0.75 MB pickled) is compiled and broadcast ONCE
    per session and extractor set (``_session_bank``); each Python
    worker process unpickles it at most once, not once per call or
    chunk,
  - a coarse trigger regex is applied as a JVM-side ``rlike`` filter
    BEFORE the UDF (Catalyst pushes it into the scan) so non-candidate
    turns never cross the JVM->Python boundary — the corpus analog of
    the gazetteer predict-index pruning,
  - only (conv_id, turn_idx, text) columns enter the UDF (column
    pruning — everything else stays JVM-side and can be re-joined),
  - per-turn parse budget (CappedParser pattern) bounds poison turns,
  - the output is deterministic: mention ids hash
    (conv_id, turn_idx, span, rule) — no monotonically_increasing_id.
"""

from __future__ import annotations

import hashlib
import threading
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, IntegerType, LongType,
                               StringType, StructField, StructType)

from ..extractors import EXTRACTORS, CompiledBank

# SCHEMA VERSIONING: this is the persisted mention-table contract.
# v2 (round 1) inserted fact_spans before mention_id — tables written
# by v1 need a unionByName(allowMissingColumns=True) migration, not a
# positional union.  Add NEW fields at the END.
MENTION_SCHEMA = StructType([
    StructField('conv_id', StringType()),
    StructField('turn_idx', IntegerType()),
    StructField('rule_id', StringType()),
    StructField('fact_type', StringType()),
    StructField('span_start', IntegerType()),
    StructField('span_stop', IntegerType()),
    StructField('match_text', StringType()),
    StructField('lemma_text', StringType()),
    StructField('fact_json', StringType()),
    StructField('norm_key', StringType()),
    StructField('attrs', ArrayType(StructType([
        StructField('pred', StringType()),
        StructField('obj', StringType()),
    ]))),
    # span sink (Fact.spans, interpretation/fact.py:36-41,113-122):
    # char offsets of every filled attribute, sorted by start
    StructField('fact_spans', ArrayType(StructType([
        StructField('start', IntegerType()),
        StructField('stop', IntegerType()),
    ]))),
    StructField('mention_id', LongType()),
])



def mention_id(conv_id: str, turn_idx: int, start: int, stop: int,
               rule_id: str) -> int:
    """Deterministic 63-bit mention id (resumability/idempotence —
    SURVEY.md §7.1 R5)."""
    raw = '%s|%d|%d|%d|%s' % (conv_id, turn_idx, start, stop, rule_id)
    return int.from_bytes(
        hashlib.sha1(raw.encode('utf-8')).digest()[:8], 'big') >> 1


# (SparkContext, {extractor names: (bank, Broadcast)}) of the live
# context.  One slot: a process runs one SparkContext at a time, and a
# new context replaces the slot, so no entry is used past its context
# or reaches another one.  The lock keeps concurrent driver threads
# from broadcasting the same bank twice.
_SESSION_BANKS: tuple = (None, {})
_SESSION_LOCK = threading.Lock()


def _session_bank(sc, extractor_names=None, bank=None):
    """-> (bank, Broadcast) for ``extractor_names`` (default: every
    extractor), compiled and broadcast once per SparkContext; an
    explicitly passed ``bank`` gets a broadcast of its own.  The
    driver keeps its own ``CompiledBank`` beside the broadcast and
    never reads ``Broadcast.value``, which would unpickle a second
    copy on the driver."""
    global _SESSION_BANKS
    if bank is not None:
        return bank, sc.broadcast(bank)
    key = tuple(extractor_names or EXTRACTORS)
    with _SESSION_LOCK:
        owner, banks = _SESSION_BANKS
        if owner is not sc:
            banks = {}
            _SESSION_BANKS = (sc, banks)
        if key not in banks:
            bank = CompiledBank(key)
            banks[key] = (bank, sc.broadcast(bank))
        return banks[key]


def make_extract_metrics(spark) -> dict:
    """Per-stage accumulators (SURVEY.md §2.10 metrics): flushed from
    Python workers after each task; read on the driver after an
    action."""
    sc = spark.sparkContext
    return {'turns': sc.accumulator(0),
            'mentions': sc.accumulator(0),
            'budget_aborts': sc.accumulator(0),
            # non-budget kernel exceptions: a systematic fault must
            # surface distinctly, never as "budget aborts"
            'errors': sc.accumulator(0)}


def _run_bank(bank: CompiledBank, batches: Iterator[pd.DataFrame],
              passthrough, metrics=None,
              mode: str = 'findall',
              strict: bool = False) -> Iterator[pd.DataFrame]:
    columns = [f.name for f in MENTION_SCHEMA.fields] + list(passthrough)
    for pdf in batches:
        out = []
        stats: dict = {}
        extras = [pdf[c].values for c in passthrough]
        for i, (conv_id, turn_idx, text) in enumerate(zip(
                pdf['conv_id'].values, pdf['turn_idx'].values,
                pdf['text'].values)):
            if not text:
                continue
            alt_seen: dict = {}
            for row in bank.run(text, stats, mode, strict=strict):
                row['conv_id'] = conv_id
                row['turn_idx'] = int(turn_idx)
                # mode='extract' can emit several (ambiguity-distinct)
                # parses of one (span, rule); an ordinal keeps ids
                # unique while findall/match ids stay unchanged
                span_key = (row['rule_id'], row['span_start'],
                            row['span_stop'])
                alt = alt_seen.get(span_key, 0)
                alt_seen[span_key] = alt + 1
                rid = (row['rule_id'] if alt == 0
                       else '%s~%d' % (row['rule_id'], alt))
                row['mention_id'] = mention_id(
                    conv_id, int(turn_idx), row['span_start'],
                    row['span_stop'], rid)
                for c, vals in zip(passthrough, extras):
                    row[c] = vals[i]
                out.append(row)
        if metrics is not None:
            metrics['turns'] += len(pdf)
            metrics['mentions'] += len(out)
            metrics['budget_aborts'] += stats.get('budget_aborts', 0)
            if 'errors' in metrics:
                metrics['errors'] += stats.get('errors', 0)
        if out:
            yield pd.DataFrame(out, columns=columns)
        # empty outputs yield no batch: object-typed empty frames
        # cannot be Arrow-converted to list<struct> columns


AUDIT_SCHEMA = StructType([
    StructField('conv_id', StringType()),
    StructField('turn_idx', IntegerType()),
    StructField('triggered', IntegerType()),
    StructField('n_mentions', IntegerType()),
    StructField('n_budget_aborts', IntegerType()),
    StructField('n_errors', IntegerType()),
])


def extract_audit(transcripts: DataFrame,
                  extractor_names=None,
                  bank: Optional[CompiledBank] = None,
                  use_trigger: bool = True) -> DataFrame:
    """Per-turn extraction OBSERVABILITY table — the corpus-level face
    of the CappedParser budget (the accumulators in
    ``make_extract_metrics`` are driver-side job telemetry; this is
    the queryable per-turn record): one row per input turn with
    (triggered, n_mentions, n_budget_aborts, n_errors).

    Unlike ``extract_mentions``, NON-triggered turns are kept
    (triggered=0, zero counts) so trigger coverage is visible; the
    bank runs only on triggered turns, mirroring the production
    pushdown.  A poison turn that trips the parse budget shows up as
    n_budget_aborts > 0 (one count per aborted (turn, rule)) instead
    of vanishing silently; a kernel fault shows as n_errors > 0.
    Scale shape: the trigger is a JVM-side projection (no filter —
    every turn keeps its row), the kernel runs in the same
    mapInPandas shape as extraction, output is one skinny row per
    turn — at 100 TB you run this on a sampled or suspect slice, or
    aggregate it (see __spark_entry__.q_kg_extract_report)."""
    bank, payload = _session_bank(
        transcripts.sparkSession.sparkContext, extractor_names, bank)
    trigger = bank.trigger_regex if use_trigger else None
    src = transcripts.select(
        'conv_id', 'turn_idx', 'text',
        (F.col('text').isNotNull()
         & (F.col('text').rlike(trigger) if trigger is not None
            else F.length('text') > 0))
        .cast('int').alias('triggered'))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bank_ = payload.value
        for pdf in batches:
            out = []
            for conv_id, turn_idx, text, trig in zip(
                    pdf['conv_id'].values, pdf['turn_idx'].values,
                    pdf['text'].values, pdf['triggered'].values):
                n_m = n_a = n_e = 0
                if trig and text:
                    stats: dict = {}
                    n_m = sum(1 for _ in bank_.run(text, stats))
                    n_a = stats.get('budget_aborts', 0)
                    n_e = stats.get('errors', 0)
                out.append((conv_id, int(turn_idx), int(trig),
                            n_m, n_a, n_e))
            if out:   # empty object-typed frames can't Arrow-convert
                yield pd.DataFrame(
                    out, columns=[f.name for f in AUDIT_SCHEMA.fields])

    return src.mapInPandas(fn, AUDIT_SCHEMA)


def extract_mentions(transcripts: DataFrame,
                     extractor_names=None,
                     use_trigger: bool = True,
                     passthrough=(),
                     bank: Optional[CompiledBank] = None,
                     metrics: Optional[dict] = None,
                     mode: str = 'findall',
                     strict: bool = False) -> DataFrame:
    """transcripts(conv_id, turn_idx, text, ...) -> mentions table.

    One pass over the corpus evaluates every extractor in the bank
    (tokenize once, parse many rules — the reference's pre-tokenized
    source pattern, docs/cookbook.ipynb cells 14-16).  ``mode``
    selects the parser entry point per turn: 'findall' (default,
    resolved non-overlapping spans), 'extract' (every completed
    parse, the debug/ambiguity mode), or 'match' (whole-turn parses
    only).
    """
    bank, payload = _session_bank(
        transcripts.sparkSession.sparkContext, extractor_names, bank)

    passthrough = [c for c in passthrough
                   if c not in ('conv_id', 'turn_idx', 'text')]
    reserved = {f.name for f in MENTION_SCHEMA.fields}
    clash = sorted(set(passthrough) & reserved)
    if clash:
        raise ValueError(
            'passthrough columns collide with mention schema: %s'
            % clash)
    src = transcripts.select('conv_id', 'turn_idx', 'text',
                             *passthrough)
    trigger = bank.trigger_regex if use_trigger else None
    if trigger is not None:
        # JVM-side prefilter: Catalyst pushes this ahead of the
        # Python stage; at 100 TB this is the difference between
        # shipping every turn to Python and shipping candidates only.
        src = src.where(F.col('text').rlike(trigger))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Broadcast.value resolves through the worker's broadcast
        # registry, so each worker process unpickles the session's
        # bank at most once — an extra id()-keyed module cache
        # would leak banks across sessions and could alias a recycled
        # address onto a stale grammar
        return _run_bank(payload.value, batches, passthrough, metrics,
                         mode, strict)

    schema = StructType(MENTION_SCHEMA.fields
                        + [transcripts.schema[c] for c in passthrough])
    return src.mapInPandas(fn, schema)
