"""Scale-robustness guards: hot-key skew, poison turns, partition
pruning on the bucketed table layout, property-based invariants."""

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark


def test_hot_key_linking_is_linear(spark):
    """A hot entity (many mentions of one blocking key) must produce
    O(n) star edges, not O(n^2) pairs, and still link correctly."""
    from yargy_spark.operators.linking import link_entities, mention_edges
    n = 2000
    rows = [(i, 'c%05d' % (i % 50), 'иван|ульянов') for i in range(n)] \
        + [(n + i, 'c%05d' % i, 'саша|быков') for i in range(5)]
    m = spark.createDataFrame(
        rows, 'mention_id long, conv_id string, norm_key string')

    edges = mention_edges(m)
    # star topology: per-group edge count is group size - 1 per family
    assert edges.count() <= 2 * (n + 5)

    linked = link_entities(m)
    ents = {r['canonical']: r['entity_id'] for r in
            m.join(linked, 'mention_id').select('canonical',
                                                'entity_id').collect()}
    assert len(ents) == 2
    per_entity = (m.join(linked, 'mention_id')
                  .groupBy('entity_id').count().collect())
    assert sorted(r['count'] for r in per_entity) == [5, n]


def _ambiguous_rule():
    # A -> a | a a; B -> A+  (89 parses at 'a '*10, cookbook cell 4);
    # module-level so the compiled bank pickles into the broadcast
    from yargy_spark import rule, or_
    return or_(rule('a'), rule('a', 'a')).repeatable().named('AMB')


def test_poison_turn_budget(spark):
    """A combinatorially ambiguous turn trips the parse budget for the
    affected rule without killing the stage or other turns."""
    from yargy_spark.extractors import Extractor, CompiledBank
    from yargy_spark.operators.extract import (extract_mentions,
                                               make_extract_metrics)

    ext = Extractor('amb', 'Amb', _ambiguous_rule, cap=50)
    bank = CompiledBank(extractors={'amb': ext})

    turns = spark.createDataFrame(
        [('p0', 0, 'a ' * 30),          # blows the budget
         ('p1', 0, 'b b b')],           # unaffected
        'conv_id string, turn_idx int, text string')
    metrics = make_extract_metrics(spark)
    out = extract_mentions(turns, bank=bank, use_trigger=False,
                           metrics=metrics).collect()
    assert out == []                    # no partial garbage emitted
    assert metrics['budget_aborts'].value >= 1
    assert metrics['turns'].value == 2  # stage completed both turns


def test_extract_audit_per_turn(spark):
    """extract_audit: every input turn keeps a row (non-triggered
    included), the poison turn's budget abort is attributed to ITS
    row, and a kernel fault lands in n_errors — never in
    n_budget_aborts."""
    from yargy_spark.extractors import (EXTRACTORS, CompiledBank,
                                        Extractor)
    from yargy_spark.operators.extract import extract_audit
    from yargy_spark.testing import FaultyParser

    pool = dict(EXTRACTORS)
    pool['amb'] = Extractor('amb', 'Amb', _ambiguous_rule,
                            trigger='a', cap=50)
    bank = CompiledBank(names=['name', 'amb'], extractors=pool)
    bank.parsers.append(
        ('faulty', 'Faulty', FaultyParser(), None, None, False))

    turns = spark.createDataFrame(
        [('p0', 0, 'a ' * 40),            # amb budget abort + fault
         ('p1', 0, 'пришла Маша Иванова'),  # clean name match + fault
         ('p2', 0, 'zz zz'),   # no DECLARED trigger fires (the post-
                               # hoc FaultyParser doesn't widen the
                               # bank's trigger union) -> untriggered
                               # row kept with zero counts
         ('p3', 0, '')],       # empty: untriggered, zero counts
        'conv_id string, turn_idx int, text string')
    rows = {r['conv_id']: r for r in extract_audit(
        turns, bank=bank).collect()}
    assert set(rows) == {'p0', 'p1', 'p2', 'p3'}
    assert rows['p0']['triggered'] == 1
    assert rows['p0']['n_budget_aborts'] == 1
    assert rows['p0']['n_errors'] == 1          # FaultyParser raises
    assert rows['p1']['n_budget_aborts'] == 0
    assert rows['p1']['n_mentions'] > 0
    assert rows['p1']['n_errors'] == 1
    assert rows['p2']['triggered'] == 0 and rows['p2']['n_mentions'] == 0
    assert rows['p3']['triggered'] == 0 and rows['p3']['n_errors'] == 0


def test_kernel_fault_is_not_a_budget_abort(spark):
    """A non-budget kernel exception must surface in the ``errors``
    metric — never as ``budget_aborts`` — and must not disturb other
    extractors' findall results; strict mode re-raises."""
    from yargy_spark.extractors import CompiledBank
    from yargy_spark.operators.extract import (extract_mentions,
                                               make_extract_metrics)
    from yargy_spark.testing import FaultyParser

    bank = CompiledBank(names=['date'])
    bank.parsers.append(
        ('faulty', 'Faulty', FaultyParser(), None, None, False))

    turns = spark.createDataFrame(
        [('f0', 0, 'с 8 июня 2015 года')],
        'conv_id string, turn_idx int, text string')
    metrics = make_extract_metrics(spark)
    out = extract_mentions(turns, bank=bank, use_trigger=False,
                           metrics=metrics).collect()
    assert [r['rule_id'] for r in out] == ['date']  # date unaffected
    assert metrics['errors'].value == 1
    assert metrics['budget_aborts'].value == 0

    with pytest.raises(Exception, match='injected kernel fault'):
        extract_mentions(turns, bank=bank, use_trigger=False,
                         strict=True).collect()


def test_bucket_partition_pruning(spark, tmp_path):
    """Reading one bucket of the iceberg-like table scans only that
    partition directory (partition pruning in the plan)."""
    from yargy_spark.sources import manifest as mf
    from yargy_spark.sources.transcripts import synth_transcripts

    t = mf.with_bucket(synth_transcripts(spark, n_turns=256,
                                         partitions=4), 8)
    root = str(tmp_path / 'tbl')
    mf.commit_append(t, root)

    df = mf.read_table(spark, root).where(F.col('bucket') == 3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert 'bucket' in plan
    # pruned scan: only rows of bucket 3 come back
    assert df.select('bucket').distinct().collect()[0][0] == 3
    done = mf.committed_partitions(root)
    assert sum(s['rows'] for s in done.values()) == 256


# ---------------------------------------------------------- properties

@settings(max_examples=50, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=32,
                                      max_codepoint=1200),
               max_size=80))
def test_tokenizer_span_invariants(text):
    """Tokens tile the non-space text: spans are in-order,
    non-overlapping, and each token's value equals its span slice."""
    from yargy_spark.tokenizer import Tokenizer
    toks = list(Tokenizer()(text))
    prev_stop = 0
    for t in toks:
        assert t.start >= prev_stop
        assert text[t.start:t.stop] == t.value
        prev_stop = t.stop


@settings(max_examples=50, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 30), st.integers(1, 10)),
                max_size=12))
def test_span_dp_invariants(raw):
    """Max-coverage selection is non-overlapping and covers at least as
    much as any single span."""
    from yargy_spark.kernel.spans import pick_max_coverage, span_len
    spans = sorted({(a, a + w) for a, w in raw},
                   key=lambda s: (s[0], -s[1]))
    chosen = list(pick_max_coverage(spans))
    for (a0, a1), (b0, b1) in zip(chosen, chosen[1:]):
        assert a1 <= b0
    if spans:
        assert sum(map(span_len, chosen)) >= max(map(span_len, spans))


@settings(max_examples=25, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 40), st.integers(0, 40)),
                max_size=30))
def test_connected_components_property(spark_edges):
    """Distributed CC must agree with a local union-find."""
    edges = [(a, b) for a, b in spark_edges if a != b]
    if not edges:
        return
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {}
    for node in parent:
        expected.setdefault(find(node), set()).add(node)
    test_connected_components_property.cases.append(
        (edges, {frozenset(v) for v in expected.values()}))


test_connected_components_property.cases = []


def test_connected_components_vs_union_find(spark):
    """Replay every hypothesis-generated graph through the distributed
    algorithm (one SparkSession, many graphs): same partition as the
    union-find, one row per node, each component named by its min
    node."""
    from yargy_spark.operators.linking import connected_components
    cases = test_connected_components_property.cases
    assert cases, 'hypothesis generation ran first'
    for edges, expected in cases:
        df = spark.createDataFrame(edges, 'src long, dst long')
        rows = connected_components(df).collect()
        assert len(rows) == len({r['node'] for r in rows})
        got = {}
        for r in rows:
            got.setdefault(r['component'], set()).add(r['node'])
        assert {frozenset(v) for v in got.values()} == expected
        assert all(c == min(v) for c, v in got.items())


def test_connected_components_long_path(spark):
    """A path over shuffled labels needs several rounds; the rounds
    stop at the star forest with every node on the path's min, and a
    round budget too small for it still raises."""
    import random
    from yargy_spark.operators.linking import connected_components
    labels = list(range(100, 164))
    random.Random(7).shuffle(labels)
    edges = list(zip(labels, labels[1:]))
    df = spark.createDataFrame(edges, 'src long, dst long')
    got = {r['node']: r['component']
           for r in connected_components(df).collect()}
    assert got == {n: 100 for n in labels}
    with pytest.raises(RuntimeError, match='did not converge'):
        connected_components(df, max_iter=1)


def test_connected_components_stops_at_first_star_forest(spark):
    """Two stars centred on their min nodes, given in mixed
    orientation: the first round already yields the star forest,
    which is the answer — one round must be enough, with no extra
    round just to see an unchanged edge set."""
    from yargy_spark.operators.linking import connected_components
    edges = [(1, 5), (9, 1), (1, 7), (11, 30), (20, 11)]
    df = spark.createDataFrame(edges, 'src long, dst long')
    got = {r['node']: r['component']
           for r in connected_components(df, max_iter=1).collect()}
    assert got == {1: 1, 5: 1, 7: 1, 9: 1, 11: 11, 20: 11, 30: 11}


def test_round4_plan_shapes(spark):
    """Plan-shape guards for the round-4 operators (the claims in
    SCALE.md/PLANS.md §12-13, asserted so refactors can't silently
    regress them): map-only banding after the one state agg; no
    CartesianProduct anywhere in the dedup increment."""
    import re

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def exchanges(p):
        # count real shuffles only (ReusedExchange re-reads one)
        return len(re.findall(r'(?<!Reused)Exchange ', p))

    docs = spark.createDataFrame(
        [(i, 'alpha beta gamma delta epsilon zeta eta theta '
              'word%d tail' % i) for i in range(30)],
        'doc_id long, text string')

    from yargy_spark.operators.dedup import (_exact_groups, _sig_bands,
                                             _state_rows,
                                             dedup_increment,
                                             minhash_state)

    reps, _ = _exact_groups(docs)
    p = plan(_sig_bands(_state_rows(reps)))
    # exact-group window + ONE state agg; banding itself adds none
    assert exchanges(p) <= 2

    state = minhash_state(docs.where('doc_id % 2 = 0'))
    pairs, new_state = dedup_increment(docs.where('doc_id % 2 = 1'),
                                       state)
    assert 'CartesianProduct' not in plan(pairs)
    assert 'CartesianProduct' not in plan(new_state)
