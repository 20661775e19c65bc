"""End-to-end Spark tests: extraction P/R vs the reference-derived
golden oracle, entity linking, connected components, triples and
partition-granular resume."""

import json

import pytest
from pyspark.sql import functions as F

from tests.goldens import expected_set

pytestmark = pytest.mark.spark


@pytest.fixture(scope='module')
def golden_mentions(spark):
    from yargy_spark.sources.transcripts import golden_only_transcripts
    from yargy_spark.operators.extract import extract_mentions
    df = extract_mentions(golden_only_transcripts(spark)).persist()
    df.count()
    return df


def test_extraction_precision_recall(golden_mentions):
    got = {(r['conv_id'], r['rule_id'], r['fact_json'])
           for r in golden_mentions.collect()}
    want = expected_set()
    tp = len(got & want)
    precision = tp / len(got)
    recall = tp / len(want)
    assert precision >= 0.95, (precision, sorted(got - want))
    assert recall >= 0.95, (recall, sorted(want - got))
    # and in fact exact parity on the golden corpus:
    assert got == want


def test_mention_ids_deterministic(golden_mentions):
    a = {r['mention_id'] for r in golden_mentions.collect()}
    b = {r['mention_id'] for r in golden_mentions.collect()}
    assert a == b
    assert len(a) == golden_mentions.count()


def test_metrics_and_passthrough(spark):
    from yargy_spark.operators.extract import (extract_mentions,
                                               make_extract_metrics)
    from yargy_spark.sources.transcripts import golden_only_transcripts
    t = golden_only_transcripts(spark)
    metrics = make_extract_metrics(spark)
    m = extract_mentions(t, passthrough=('ts',), metrics=metrics)
    rows = m.collect()
    assert rows and all(r['ts'] is not None for r in rows)
    assert metrics['mentions'].value == len(rows)
    assert metrics['turns'].value > 0
    assert metrics['budget_aborts'].value == 0


def test_may_dates_carry_month(spark):
    """Regression: 'N мая YYYY' must produce month=5 (the month map is
    keyed by nominative lemma, not the genitive surface)."""
    import json as _json
    from yargy_spark.operators.extract import extract_mentions
    df = spark.createDataFrame(
        [('m1', 0, 'user', 'встреча 8 мая 2015 года', None)],
        'conv_id string, turn_idx int, role string, text string, '
        'tool string')
    rows = extract_mentions(df, ['date']).collect()
    assert _json.loads(rows[0]['fact_json']) == {
        'day': 8, 'month': 5, 'year': 2015}


def test_entity_linking(spark, golden_mentions):
    from yargy_spark.operators.linking import link_entities
    entities = link_entities(golden_mentions)
    joined = golden_mentions.join(entities, 'mention_id')
    rows = joined.select('conv_id', 'norm_key', 'entity_id',
                         'canonical').collect()

    # all four inflected Иван Ульянов mentions resolve to one entity
    ivan = {r['entity_id'] for r in rows
            if r['norm_key'] == 'иван|ульянов'}
    assert len(ivan) == 1
    canon = {r['canonical'] for r in rows
             if r['norm_key'] == 'иван|ульянов'}
    assert canon == {'иван|ульянов'}

    # conversation-local surname coref: саша|иванов and саша|иванова in
    # different conversations stay separate entities (no shared conv)
    sasha = {r['entity_id'] for r in rows
             if r['norm_key'] in ('саша|иванов', 'саша|иванова')}
    assert len(sasha) == 2


def test_connected_components(spark):
    from yargy_spark.operators.linking import connected_components
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 5), (9, 9), (10, 11)],
        'src long, dst long')
    got = {(r['node'], r['component'])
           for r in connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (5, 5), (7, 5),
                   (10, 10), (11, 10)}


def test_triples(spark, golden_mentions):
    from yargy_spark.operators.linking import link_entities
    from yargy_spark.operators.triples import materialize_triples
    entities = link_entities(golden_mentions)
    triples = materialize_triples(golden_mentions, entities).persist()

    date_rows = {(r['pred'], r['obj']) for r in triples.where(
        (F.col('conv_id') == 'g000003') & (F.col('rule_id') == 'date')
    ).collect()}
    assert date_rows == {('day', '8'), ('month', '6'), ('year', '2015')}

    # one subject for all Ivan Ulyanov name mentions, with provenance
    ivan = triples.where(
        (F.col('rule_id') == 'name') & (F.col('pred') == 'first')
        & (F.col('obj') == 'иван'))
    assert ivan.select('subj').distinct().count() == 1
    canon = triples.where(F.col('pred') == 'canonical_name') \
                   .where(F.col('obj') == 'иван|ульянов')
    assert canon.count() == 1
    # provenance columns present and sane
    row = ivan.first()
    assert row['conv_id'].startswith('g') and row['span_stop'] > \
        row['span_start']


def test_canonical_name_provenance_is_plan_independent(
        spark, golden_mentions):
    """One corpus linked once, triples materialized under two plan
    shapes (mentions and links checkpointed in ascending, then in
    descending mention_id order), gives the same triples: each
    canonical_name row cites the entity's mention with the least
    (conv_id, turn_idx, span_start, span_stop, mention_id), not
    whichever row the plan reaches first."""
    from yargy_spark.operators.linking import link_entities
    from yargy_spark.operators.triples import materialize_triples
    links = link_entities(golden_mentions)

    def ordered(df, order):
        return df.coalesce(1).sortWithinPartitions(order) \
            .localCheckpoint()

    shapes = [materialize_triples(ordered(golden_mentions, o),
                                  ordered(links, o))
              for o in (F.asc('mention_id'), F.desc('mention_id'))]
    rows = [sorted(repr(tuple(r)) for r in t.collect()) for t in shapes]
    assert rows[0] == rows[1]

    cited = {}
    for r in golden_mentions.join(links, 'mention_id').collect():
        cited.setdefault(r['entity_id'], []).append(
            (r['conv_id'], r['turn_idx'], r['span_start'],
             r['span_stop'], r['mention_id']))
    assert any(len(set(k[:4] for k in v)) > 1 for v in cited.values()), \
        'fixture must have entities cited from more than one place'
    got = {r['subj']: (r['conv_id'], r['turn_idx'], r['span_start'],
                       r['span_stop'])
           for r in shapes[0].where(F.col('pred') == 'canonical_name')
           .collect()}
    assert got == {e: min(v)[:4] for e, v in cited.items()}


def test_resumable_pipeline(spark, tmp_path):
    """Two-phase resume contract: extraction commits mention chunks
    bucket-granularly; triples are a globally-consistent REPLACE
    snapshot derived from the mentions head."""
    import os
    import pytest as _pytest
    from yargy_spark.pipeline import run_resumable
    from yargy_spark.sources import manifest as mf
    from yargy_spark.sources.transcripts import synth_transcripts

    out = str(tmp_path / 'kg_tbl')
    m_root, t_root = out + '/mentions', out + '/triples'
    t = synth_transcripts(spark, n_turns=96, partitions=4)

    snap1 = run_resumable(spark, t, out, n_buckets=4, chunk_size=2)
    assert snap1 is not None
    assert set(snap1['counters']['buckets']) == {0, 1, 2, 3}
    assert snap1['counters']['mentions'] > 0
    # chunked extraction: 4 pending buckets / chunk_size 2 = 2 commits
    assert snap1['counters']['extraction_chunks'] == 2
    assert len(mf.snapshots(m_root)) == 2

    # second run: extraction AND derivation up to date -> no-op
    assert run_resumable(spark, t, out, n_buckets=4) is None

    # bucket-count drift is refused, never silently duplicated
    with _pytest.raises(ValueError, match='n_buckets'):
        run_resumable(spark, t, out, n_buckets=8)

    # simulate a mid-run crash: one extraction chunk's manifest never
    # landed (the manifest write IS the commit point, so its data dir
    # is invisible); restart re-extracts exactly that chunk's buckets
    mdir = os.path.join(m_root, '_manifests')
    name = sorted(n for n in os.listdir(mdir)
                  if n.startswith('snap-'))[0]
    with open(os.path.join(mdir, name)) as fh:
        lost = json.load(fh)
    os.remove(os.path.join(mdir, name))

    before = {r['subj'] for r in
              mf.read_table(spark, t_root).select('subj').collect()}
    snap2 = run_resumable(spark, t, out, n_buckets=4)
    assert snap2 is not None
    assert set(snap2['counters']['buckets']) == \
        {int(b) for b in lost['partitions']}

    # triples replaced as ONE consistent snapshot: same entity set,
    # no duplicated rows from the re-extracted bucket
    total = mf.read_table(spark, t_root)
    assert total.count() == total.distinct().count()
    after = {r['subj'] for r in total.select('subj').collect()}
    assert after == before
    # lineage: per-partition mention counts recorded
    done = mf.committed_partitions(m_root)
    assert set(done) == {0, 1, 2, 3}


def test_resumable_pipeline_empty_corpus(spark, tmp_path):
    """Regression: a corpus where NO turn yields a mention must still
    reach the no-op state on rerun (empty chunks commit zero-row
    lineage; the triples table gets an empty replace snapshot stamped
    with the mentions head — never a crash loop)."""
    from pyspark.sql import functions as F
    from yargy_spark.pipeline import run_resumable
    from yargy_spark.sources import manifest as mf

    out = str(tmp_path / 'empty_tbl')
    t = spark.range(16).select(
        F.format_string('e%04d', F.col('id')).alias('conv_id'),
        F.lit(0).alias('turn_idx'),
        F.lit('no facts here at all').alias('text'))
    snap1 = run_resumable(spark, t, out, n_buckets=2)
    assert snap1 is not None
    assert snap1['totals']['rows'] == 0
    # second run is a clean no-op, not a FileNotFoundError loop
    assert run_resumable(spark, t, out, n_buckets=2) is None
    done = mf.committed_partitions(out + '/mentions')
    assert set(done) == {0, 1}


def test_read_or_empty_folds_to_empty_relation(spark, tmp_path):
    """With nothing committed, ``_read_or_empty`` returns an empty
    relation at plan time: its optimized plan holds no LogicalRDD, so
    no action scans the Python-side rows of ``createDataFrame`` (a scan
    that starts Python workers)."""
    from yargy_spark.operators.extract import MENTION_SCHEMA
    from yargy_spark.pipeline import _read_or_empty
    from yargy_spark.sources import manifest as mf

    df = _read_or_empty(spark, str(tmp_path / 'none'), MENTION_SCHEMA)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert 'LogicalRDD' not in plan, plan
    assert df.columns == MENTION_SCHEMA.fieldNames() + [mf.BUCKET_COL]
    assert df.count() == 0


def test_per_turn_text_equality_invariant(spark, golden_mentions):
    """north_rule/input_hint invariant: each turn's text crosses the
    Spark boundary byte-identical under stable (conv_id, turn_idx)
    ordering — every emitted span indexes into the ORIGINAL turn text
    and reproduces match_text exactly."""
    from yargy_spark.sources.transcripts import golden_only_transcripts
    turns = golden_only_transcripts(spark).select(
        'conv_id', 'turn_idx', 'text')
    joined = golden_mentions.join(turns, ['conv_id', 'turn_idx'])
    bad = joined.where(
        F.expr('substring(text, span_start + 1, '
               'span_stop - span_start)') != F.col('match_text'))
    assert bad.count() == 0
    # and the kernel applied to the same text yields the same rows
    # (driver-side replay of a sample = cross-boundary determinism)
    from yargy_spark.extractors import CompiledBank
    bank = CompiledBank()
    sample = joined.where(F.col('conv_id').isin('g000000', 'g000009')) \
        .select('conv_id', 'text', 'rule_id', 'span_start',
                'span_stop').distinct().collect()
    texts = {r['conv_id']: r['text'] for r in sample}
    spark_rows = {(r['conv_id'], r['rule_id'],
                   r['span_start'], r['span_stop']) for r in sample}
    local_rows = {(conv, row['rule_id'], row['span_start'],
                   row['span_stop'])
                  for conv, text in texts.items()
                  for row in bank.run(text)}
    assert spark_rows == local_rows


def test_supplementary_plane_span_agreement(spark):
    """Emoji (4-byte UTF-8 / surrogate pairs in UTF-16) before a match
    must not skew char offsets between Python and the JVM: both count
    code points."""
    from yargy_spark.operators.extract import extract_mentions
    text = ('🎉🎉 управляющий директор Иван Ульянов 🚀 '
            'приехал 8 июня 2015 года')
    df = spark.createDataFrame(
        [('e0', 0, 'user', text, None)],
        'conv_id string, turn_idx int, role string, text string, '
        'tool string')
    rows = extract_mentions(df).select(
        'rule_id', 'span_start', 'span_stop', 'match_text').collect()
    assert {r['rule_id'] for r in rows} == {'person', 'name', 'date'}
    for r in rows:
        assert text[r['span_start']:r['span_stop']] == r['match_text']


def test_entity_cooccurrence(spark, golden_mentions):
    """Entity-graph materialization: pairs bounded by distinct
    (group, entity), not mention count."""
    from yargy_spark.operators.linking import (entity_cooccurrence,
                                               link_entities)
    m = golden_mentions.withColumn(
        'grp', F.pmod(F.substring('conv_id', 2, 6).cast('int'),
                      F.lit(4)))
    e = link_entities(m)
    got = {(r['a'], r['b']): r['n_groups']
           for r in entity_cooccurrence(m, e, 'grp').collect()}
    assert got == {('владимир|путин', 'иван|ульянов'): 1,
                   ('иван|ульянов', 'саша|иванова'): 1,
                   ('саша|быков', 'саша|иванов'): 1}
