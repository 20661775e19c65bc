"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: the full KG pipeline (extract -> link ->
triples) over the deterministic transcript corpus, plus document
near-dup edges from the sf0.001 documents table, as one triples frame.

``queries()`` / ``oracle_sql()`` — one entry per operator family:
  * kg_* — extraction/linking/triples over the golden transcript
    corpus; oracles are VALUES literals transcribed from the
    reference's committed test assertions (the only executable oracle
    for yargy semantics in this sandbox — see FIXTURES.md).
  * dedup — document dedup ops over the provided documents table;
    oracles replay the exact same algorithm in DuckDB SQL (portable
    md5-based hashing, integer-scaled ratios).
  * relational corpus ops (agg/join/window) over the TPC-H-ish tables.
"""

from __future__ import annotations

import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# ------------------------------------------------------------------ helpers


def _docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))


def _golden_mentions(spark):
    from yargy_spark.operators.extract import extract_mentions
    from yargy_spark.sources.transcripts import golden_only_transcripts
    return extract_mentions(golden_only_transcripts(spark))


# ------------------------------------------------------------------ entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: KG triples from transcripts + near-dup edges from the
    sf0.001 documents table, one unified (subj, pred, obj) frame."""
    from yargy_spark.pipeline import run_pipeline
    from yargy_spark.operators.dedup import minhash_lsh_pairs
    from yargy_spark.sources.transcripts import synth_transcripts

    transcripts = synth_transcripts(spark, n_turns=512, partitions=8)
    kg = run_pipeline(transcripts)['triples'] \
        .select('subj', 'pred', 'obj')

    docs = _docs(spark, '/root/testdata/sf0.001')
    dup_edges = minhash_lsh_pairs(docs).select(
        F.format_string('doc_%d', F.col('a')).alias('subj'),
        F.lit('near_duplicate_of').alias('pred'),
        F.format_string('doc_%d', F.col('b')).alias('obj'))
    return kg.unionByName(dup_edges)


# ------------------------------------------------------------------ queries


def q_kg_facts_golden(spark, sf_dir) -> DataFrame:
    return _golden_mentions(spark).select('conv_id', 'rule_id',
                                          'fact_json')


def q_kg_triples_date(spark, sf_dir) -> DataFrame:
    from yargy_spark.operators.triples import materialize_triples
    m = _golden_mentions(spark)
    t = materialize_triples(m.where(F.col('rule_id') == 'date'))
    return t.select('conv_id', 'pred', 'obj')


def q_kg_entities(spark, sf_dir) -> DataFrame:
    from yargy_spark.operators.linking import link_entities
    m = _golden_mentions(spark)
    e = link_entities(m)
    return (m.join(e, 'mention_id')
            .groupBy('canonical')
            .agg(F.count('*').alias('n_mentions')))


def q_kg_incremental(spark, sf_dir) -> DataFrame:
    """Incremental linking (linking.py::link_entities_incremental):
    even-parity golden conversations are the batch-linked PRIOR
    corpus, odd-parity conversations arrive as the increment and link
    against the compact entity-key state without global CC.  One row
    per entity over the increment: canonical, mention count, and
    whether the entity was adopted from the prior state (1) or
    freshly minted (0) — deterministic because adoption is an
    equi-join against the key state plus the same deterministic
    CC/canonicalization the batch path runs over the increment."""
    from yargy_spark.operators.extract import extract_mentions
    from yargy_spark.operators.linking import (
        empty_keys, link_entities_incremental)
    from yargy_spark.sources.transcripts import golden_only_transcripts
    t = golden_only_transcripts(spark)
    parity = (F.substring('conv_id', 2, 6).cast('int') % 2)
    prior_m = extract_mentions(t.where(parity == 0))
    # the prior corpus's key state, as run_resumable commits it
    _links, _merges, keys = link_entities_incremental(
        prior_m, empty_keys(spark))
    new_m = extract_mentions(t.where(parity == 1))
    links, _merges, _ = link_entities_incremental(new_m, keys)
    prior_ids = (keys.select('entity_id').distinct()
                 .withColumn('flag', F.lit(1)))
    return (links
            .join(prior_ids, 'entity_id', 'left')
            .groupBy('canonical')
            .agg(F.count('*').alias('n_mentions'),
                 F.max(F.coalesce('flag', F.lit(0)))
                 .cast('int').alias('adopted')))


def q_kg_merge_candidates(spark, sf_dir) -> DataFrame:
    """Merge-candidate work-list
    (linking.py::link_entities_incremental): prior entities bridged
    by one increment component surface as candidates — and are NOT
    merged in the links output.  The fixture frames are inline
    because the golden corpus's parity split never bridges prior
    entities; the driver hash pins the operator's full output
    contract (pair orientation, witness conversation and lemma)."""
    from yargy_spark.operators.linking import link_entities_incremental
    prior_keys = spark.createDataFrame(
        [('анна|петров', 'ent_100', 'анна|петров'),
         ('борис|петров', 'ent_200', 'борис|петров'),
         ('иван|ульянов', 'ent_300', 'иван|ульянов'),
         ('пётр|ульянов', 'ent_400', 'пётр|ульянов')],
        'norm_key string, entity_id string, canonical string')
    new_mentions = spark.createDataFrame(
        [(1, 'cX', 'анна|петров'),    # direct -> ent_100
         (2, 'cX', 'вера|петров'),    # coref: joins the cX component
         (3, 'cX', 'борис|петров'),   # direct -> ent_200 (bridge!)
         (4, 'cY', 'иван|ульянов'),   # direct -> ent_300
         (5, 'cY', 'пётр|ульянов'),   # direct -> ent_400 (bridge!)
         (6, 'cZ', 'глеб|сидоров')],  # fresh, no candidates
        'mention_id long, conv_id string, norm_key string')
    _links, merges, _ = link_entities_incremental(new_mentions,
                                                  prior_keys)
    return merges


# apply_entity_merges fixtures (inline like kg_merge_candidates: the
# golden corpus's parity split never bridges prior entities).  The
# chain (100-200, 200-300) must collapse to ONE survivor; the
# (1000, 999) pair pins NUMERIC-min survivor election (string min
# would pick ent_1000); duplicate pairs from different increments
# must be harmless.
MERGE_APPLY_KEYS = [
    ('анна|петров', 'ent_100', 'анна|петров'),
    ('аня|петров', 'ent_200', 'аня|петров'),
    ('анюта|петров', 'ent_300', 'анюта|петров'),
    ('иван|ульянов', 'ent_999', 'иван|ульянов'),
    ('ваня|ульянов', 'ent_1000', 'ваня|ульянов'),
    ('глеб|сидоров', 'ent_600', 'глеб|сидоров'),
]
MERGE_APPLY_CANDS = [
    ('ent_100', 'ent_200', 'c1', 'петров'),
    ('ent_200', 'ent_300', 'c2', 'петров'),
    ('ent_100', 'ent_200', 'c9', 'петров'),
    ('ent_1000', 'ent_999', 'c3', 'ульянов'),
]


def q_kg_merge_apply(spark, sf_dir) -> DataFrame:
    """Merge application (linking.py::apply_entity_merges): CC over
    the candidate graph, numeric-min survivor, key state rewritten.
    Output joins each norm_key's prior entity to its post-merge
    entity; the oracle recomputes the transitive closure with a
    recursive CTE (independent CC implementation, not pinned
    literals)."""
    from yargy_spark.operators.linking import apply_entity_merges
    keys = spark.createDataFrame(
        MERGE_APPLY_KEYS,
        'norm_key string, entity_id string, canonical string')
    cands = spark.createDataFrame(
        MERGE_APPLY_CANDS,
        'entity_a string, entity_b string, conv_id string, '
        'last_lemma string')
    _mapping, new_keys = apply_entity_merges(cands, keys)
    orig = spark.createDataFrame(
        [(k, e) for k, e, _ in MERGE_APPLY_KEYS],
        'norm_key string, prior_entity string')
    return (new_keys.join(orig, 'norm_key')
            .select('norm_key', 'prior_entity', 'entity_id',
                    'canonical'))


def q_kg_person_triples(spark, sf_dir) -> DataFrame:
    from yargy_spark.operators.linking import link_entities
    from yargy_spark.operators.triples import materialize_triples
    m = _golden_mentions(spark)
    e = link_entities(m)
    t = materialize_triples(m, e)
    canon = (t.where(F.col('pred') == 'canonical_name')
             .select(F.col('subj'), F.col('obj').alias('canonical'))
             .distinct())
    return (t.where(F.col('rule_id') == 'person')
            .where(~F.col('pred').isin('canonical_name', 'mentioned_as'))
            .join(canon, 'subj')
            .select('canonical', 'pred', 'obj'))


_TOKEN_CONVS = ('g000000', 'g000003', 'g000007', 'g000009')

# rule_id -> fact_type (extractor bank, yargy_spark/extractors.py)
_FACT_TYPES = {'person': 'Person', 'person_norm': 'Person',
               'name': 'Name', 'date': 'Date', 'money': 'Money',
               'geo': 'Geo', 'era': 'Era'}


def q_kg_money_triples(spark, sf_dir) -> DataFrame:
    from yargy_spark.operators.triples import materialize_triples
    m = _golden_mentions(spark)
    t = materialize_triples(m.where(F.col('rule_id').isin('money',
                                                          'era')))
    return t.select('conv_id', 'rule_id', 'pred', 'obj')


def q_kg_geo_triples(spark, sf_dir) -> DataFrame:
    from yargy_spark.operators.triples import materialize_triples
    m = _golden_mentions(spark)
    t = materialize_triples(m.where(F.col('rule_id') == 'geo'))
    return t.select('conv_id', 'pred', 'obj')


def q_kg_fact_spans(spark, sf_dir) -> DataFrame:
    """Span sink (Fact.spans): char offsets of filled attributes."""
    m = _golden_mentions(spark).where(
        F.col('conv_id').isin(*_TOKEN_CONVS))
    return (m.select('conv_id', 'rule_id',
                     F.explode('fact_spans').alias('sp'))
            .select('conv_id', 'rule_id',
                    F.col('sp.start').alias('start'),
                    F.col('sp.stop').alias('stop')))


# Sentences whose name words are OUTSIDE the embedded golden lexicon
# (several outside the generated dictionary too): coverage comes from
# the suffix-based OOV predictor (kernel/predictor.py) + the generated
# multi-thousand-lemma dictionary (tools/gen_lexicon.py) — the
# pymorphy2 production behavior the reference relies on
# (morph.py:118-130).
_OOV_TURNS = (
    ('v000000', 0, 'вчера приехала Эльвира Зубкова'),
    ('v000001', 0, 'письмо от Аделаиды Брусникиной'),
    ('v000002', 0, 'договор подписан Трофимом Зюзиным'),
    ('v000003', 0, 'встреча с Максимом Кочергиным'),
    ('v000004', 0, 'отчет для Эльвиры Зубковой'),
)


def q_kg_oov_person(spark, sf_dir) -> DataFrame:
    """Name extraction over OOV vocabulary: every (first, last) pair
    normalizes to nominative lemmas even though the surface forms are
    oblique and absent from the shipped lexicons."""
    from yargy_spark.operators.extract import extract_mentions
    t = spark.createDataFrame(
        list(_OOV_TURNS), 'conv_id string, turn_idx int, text string')
    m = extract_mentions(t, extractor_names=['name'])
    return m.select('conv_id', 'rule_id', 'fact_json')


_ADDRESS_TURNS = (
    ('a000000', 0, 'живу на улице Ленина дом 5'),
    ('a000001', 0, 'офис на Первомайской улице'),
    ('a000002', 0, 'магазин на проспекте Мира д. 12'),
    ('a000003', 0, 'свернул в Глухой переулок 3'),
)


def q_kg_address(spark, sf_dir) -> DataFrame:
    """Address — the fourth canonical fact type (north_star:
    Person/Name, Date, Money, Address).  Runs in its OWN bank so the
    default-bank golden oracles stay byte-stable."""
    from yargy_spark.extractors import Extractor, CompiledBank, \
        build_address
    from yargy_spark.operators.extract import extract_mentions
    bank = CompiledBank(extractors={
        'address': Extractor('address', 'Address', build_address,
                             trigger=r'[а-яёА-ЯЁ]')})
    t = spark.createDataFrame(
        list(_ADDRESS_TURNS),
        'conv_id string, turn_idx int, text string')
    m = extract_mentions(t, bank=bank)
    return m.select('conv_id', 'rule_id', 'fact_json')


def q_kg_lemma_tokens(spark, sf_dir) -> DataFrame:
    """Morphology as a broadcast-joined dimension table (the
    'A-alternative' of SURVEY.md §2.2/§2.3)."""
    from yargy_spark.operators.tokens import (annotate_lemmas,
                                              lexicon_table,
                                              token_table)
    from yargy_spark.sources.transcripts import golden_only_transcripts
    t = golden_only_transcripts(spark).where(
        F.col('conv_id').isin(*_TOKEN_CONVS))
    toks = token_table(t)
    return (annotate_lemmas(toks, lexicon_table(spark))
            .select('conv_id', 'tok_idx', 'value',
                    F.array_join('lemmas', ',').alias('lemmas')))


def q_kg_entity_degree(spark, sf_dir) -> DataFrame:
    """Graph analytics over the materialized entity graph
    (linking.py::entity_degree): neighbor count + total co-mention
    weight per canonical entity, derived from the same edges
    kg_entity_cooccurrence gates."""
    from yargy_spark.operators.linking import entity_degree
    return entity_degree(q_kg_entity_cooccurrence(spark, sf_dir))


def q_kg_entity_cooccurrence(spark, sf_dir) -> DataFrame:
    """Entity-graph materialization: canonical entity pairs
    co-mentioned in the same group (golden convs folded into 4 groups
    so pairs exist at this corpus size)."""
    from yargy_spark.operators.linking import (entity_cooccurrence,
                                               link_entities)
    m = _golden_mentions(spark).withColumn(
        'grp', F.pmod(F.substring('conv_id', 2, 6).cast('int'),
                      F.lit(4)))
    e = link_entities(m)
    return entity_cooccurrence(m, e, group_col='grp')


def q_transcripts_tool_stats(spark, sf_dir) -> DataFrame:
    """Input-schema rollup over the deterministic transcript source
    (role/tool/conv columns); the oracle replays the id-derived
    generator expressions in SQL."""
    from yargy_spark.sources.transcripts import synth_transcripts
    t = synth_transcripts(spark, n_turns=1024, partitions=8)
    return (t.groupBy('role', 'tool')
            .agg(F.count('*').alias('n_turns'),
                 F.countDistinct('conv_id').alias('n_convs')))


def q_stream_mention_rollup(spark, sf_dir) -> DataFrame:
    """Structured Streaming: file source -> extraction kernel ->
    watermarked event-time rollup, drained with availableNow."""
    import tempfile
    from yargy_spark.sources.transcripts import write_stream_fixture
    from yargy_spark.streaming.ingest import (stream_transcripts,
                                              windowed_mention_counts)
    base = tempfile.mkdtemp(prefix='ys_stream_q_')
    src = os.path.join(base, 'src')
    # corpus + timestamps come from the ONE shared fixture definition
    # (sources/transcripts.golden_stream_rows) — the oracle reads the
    # same rows, so query and oracle cannot drift
    write_stream_fixture(src)
    agg = windowed_mention_counts(stream_transcripts(spark, src),
                                  watermark='30 minutes',
                                  window='10 minutes')
    name = 'rollup_' + os.path.basename(base)[-8:]
    q = (agg.writeStream.format('memory').queryName(name)
         .outputMode('complete').trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(name)
            .select(F.col('window.start').cast('long')
                    .alias('win_start'), 'fact_type', 'n_mentions'))


def q_stream_dedup(spark, sf_dir) -> DataFrame:
    """Structured Streaming first-copy-wins dedup
    (streaming/dedup.py): documents replayed as a file stream with
    deterministic synthetic event times, drained with availableNow.
    The emitted KEY SET is arrival-order-independent, so the query
    projects the portable text hash — fully value-hash gated against
    a batch DISTINCT oracle."""
    from yargy_spark.streaming.dedup import stream_exact_dedup
    stream, tag = _stream_docs(spark, sf_dir, 'ys_sdedup_q_')
    deduped = stream_exact_dedup(stream, watermark='30 minutes')
    name = 'sdedup_' + tag
    q = (deduped.writeStream.format('memory').queryName(name)
         .outputMode('append').trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(name).select('text_hash')


# synthetic event-time scheme shared by BOTH streaming document
# queries AND the stream_band_collisions oracle — one definition
# (review finding: three verbatim copies would let the oracle gate
# the wrong windows after a scheme change).  The epoch is 5-minute
# aligned so window floors agree across engines.
STREAM_EPOCH = 1767225600
STREAM_TS_MOD = 600

# dedup_incremental gate: batch doc_ids are shifted above the state
# half's (dedup_increment's ids-time-order-after-state contract);
# comfortably above any test-SF corpus, well inside int64
DEDUP_INC_OFFSET = 1_000_000_000


def _stream_docs(spark, sf_dir, prefix):
    """documents replayed as a JSON file stream with deterministic
    synthetic event times ts = STREAM_EPOCH + doc_id % STREAM_TS_MOD."""
    import tempfile
    base = tempfile.mkdtemp(prefix=prefix)
    src = os.path.join(base, 'src')
    (_docs(spark, sf_dir)
     .select('doc_id', 'text',
             F.timestamp_seconds(F.lit(STREAM_EPOCH)
                                 + F.col('doc_id') % STREAM_TS_MOD)
             .alias('ts'))
     .coalesce(4).write.mode('overwrite').json(src))
    stream = (spark.readStream
              .schema('doc_id long, text string, ts timestamp')
              .json(src))
    return stream, os.path.basename(base)[-8:]


def q_stream_band_collisions(spark, sf_dir) -> DataFrame:
    """Streaming NEAR-dup detection (streaming/dedup.py
    stream_band_collisions): per event-time window, MinHash band
    buckets with >= 2 documents — the LSH candidate signal as a
    stream.  Signatures compute IN-ROW (map-only), the only stateful
    op is the watermarked windowed count.  Drained with
    availableNow + complete mode so every window is observable in
    one shot (production runs append and emits on watermark
    closure); results are batch-replayable, so the oracle recomputes
    the same windows/bands in DuckDB."""
    from yargy_spark.streaming.dedup import stream_band_collisions
    stream, tag = _stream_docs(spark, sf_dir, 'ys_sband_q_')
    coll = stream_band_collisions(stream, watermark='30 minutes',
                                  window='5 minutes')
    name = 'sband_' + tag
    q = (coll.writeStream.format('memory').queryName(name)
         .outputMode('complete').trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(name)


def q_kg_token_table(spark, sf_dir) -> DataFrame:
    from yargy_spark.operators.tokens import token_table
    from yargy_spark.sources.transcripts import golden_only_transcripts
    t = golden_only_transcripts(spark).where(
        F.col('conv_id').isin(*_TOKEN_CONVS))
    return token_table(t)


def q_exact_dedup(spark, sf_dir) -> DataFrame:
    from yargy_spark.operators.dedup import exact_dedup
    return exact_dedup(_docs(spark, sf_dir))


def q_ngram_jaccard_dups(spark, sf_dir) -> DataFrame:
    from yargy_spark.operators.dedup import ngram_jaccard_pairs
    return ngram_jaccard_pairs(_docs(spark, sf_dir))


def q_minhash_lsh_dups(spark, sf_dir) -> DataFrame:
    from yargy_spark.operators.dedup import minhash_lsh_pairs
    return minhash_lsh_pairs(_docs(spark, sf_dir))


def q_dedup_incremental(spark, sf_dir) -> DataFrame:
    """Incremental near-dup dedup: the even-doc_id half of the corpus
    is the committed state (minhash_state), the odd half arrives as a
    new batch (dedup_increment) with its ids OFFSET above the state's
    max — the operator's documented caller contract (batch ids are
    disjoint and time-order AFTER the state's, exactly how
    jobs/run_dedup_increment.py feeds it; a round-4 gate fed
    interleaved ids, normalizing a contract-violating call shape).
    vs_state=1 rows pair state docs with batch docs (verified on the
    state's STORED shingle arrays — prior text never rescanned);
    vs_state=0 rows are the batch-internal minhash_lsh_pairs
    semantics."""
    from yargy_spark.operators.dedup import (dedup_increment,
                                             minhash_state)
    docs = _docs(spark, sf_dir)
    state = minhash_state(docs.where(F.col('doc_id') % 2 == 0))
    batch = (docs.where(F.col('doc_id') % 2 == 1)
             .withColumn('doc_id',
                         F.col('doc_id') + F.lit(DEDUP_INC_OFFSET)))
    pairs, _new_state = dedup_increment(batch, state)
    return pairs


def q_dedup_report(spark, sf_dir) -> DataFrame:
    """Corpus dedup OBSERVABILITY: one (metric, value) row per dedup
    measure — what an operator reads before choosing a cleanup plan.
    Exercises that the families compose in one job: exact groups
    (count + surplus copies), LSH near-dup pairs and the LSH
    hot-bucket governor's count."""
    from yargy_spark.operators.dedup import (exact_dedup,
                                             lsh_hot_buckets,
                                             minhash_lsh_pairs)
    docs = _docs(spark, sf_dir)

    def one(name, df):
        return df.select(F.lit(name).alias('metric'),
                         F.coalesce(F.col(df.columns[0]), F.lit(0))
                         .cast('long').alias('value'))

    groups = exact_dedup(docs).where(F.col('group_size') > 1)
    rows = [
        one('exact_dup_groups', groups.agg(F.count('*'))),
        one('exact_surplus_docs',
            groups.agg(F.sum(F.col('group_size') - 1))),
        one('lsh_dup_pairs', minhash_lsh_pairs(docs).agg(F.count('*'))),
        # the hot-bucket governor's loud counter: band buckets that
        # degraded to star edges this run (0 on a healthy corpus)
        one('lsh_hot_buckets', lsh_hot_buckets(docs).agg(F.count('*'))),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def q_dup_clusters(spark, sf_dir) -> DataFrame:
    """Near-duplicate clusters: MinHash/LSH pairs fed into the SAME
    alternating large/small-star connected-components operator the
    KG entity linker uses (operators/linking.py) — cluster_id = min
    doc_id of the component.  Gated against a DuckDB RECURSIVE-CTE
    transitive closure of the identical pair set, putting the CC
    kernel itself under the value-hash gate."""
    from yargy_spark.operators.dedup import minhash_lsh_pairs
    from yargy_spark.operators.linking import connected_components
    pairs = minhash_lsh_pairs(_docs(spark, sf_dir))
    cc = connected_components(
        pairs.select(F.col('a').alias('src'), F.col('b').alias('dst')))
    return cc.select(F.col('node').alias('doc_id'),
                     F.col('component').alias('cluster_id'))


def q_kg_extract_report(spark, sf_dir) -> DataFrame:
    """CappedParser observability at corpus level (extract_audit):
    the golden corpus plus one pathological 'a 'x40 turn (the
    cookbook cells 5-7 ambiguous grammar at cap=50 — combinatorial
    parse count, budget trips mid-chart) plus one never-triggered
    turn.  The report proves the poison turn's abort FIRES and is
    COUNTED per-turn (not silently swallowed), kernel errors stay
    zero, and trigger coverage is visible — the extraction analog of
    dedup_report."""
    from yargy_spark import or_, rule
    from yargy_spark.extractors import (EXTRACTORS, CompiledBank,
                                        Extractor)
    from yargy_spark.operators.extract import extract_audit
    from yargy_spark.sources.transcripts import golden_only_transcripts

    def _amb():
        return or_(rule('a'), rule('a', 'a')).repeatable().named('AMB')

    pool = dict(EXTRACTORS)
    pool['amb'] = Extractor('amb', 'Amb', _amb, trigger='a', cap=50)
    bank = CompiledBank(names=list(pool), extractors=pool)

    extra = spark.createDataFrame(
        [('poison0', 0, 'user', 'a ' * 40, None),   # trips the budget
         ('quiet0', 0, 'user', 'zz zz zz', None)],  # never triggers
        'conv_id string, turn_idx int, role string, text string, '
        'tool string').withColumn(
            'ts', F.timestamp_seconds(F.lit(1_700_000_000)))
    audit = extract_audit(
        golden_only_transcripts(spark).unionByName(extra), bank=bank)
    agg = audit.agg(
        F.count('*').cast('long').alias('turns_total'),
        F.sum('triggered').cast('long').alias('turns_triggered'),
        F.sum((F.col('n_budget_aborts') > 0).cast('int'))
        .cast('long').alias('turns_budget_aborted'),
        F.sum('n_budget_aborts').cast('long').alias('budget_aborts'),
        F.sum('n_mentions').cast('long').alias('mentions'),
        F.sum('n_errors').cast('long').alias('kernel_errors'))
    return agg.selectExpr(
        "stack(6, 'turns_total', turns_total, "
        "'turns_triggered', turns_triggered, "
        "'turns_budget_aborted', turns_budget_aborted, "
        "'budget_aborts', budget_aborts, "
        "'mentions', mentions, "
        "'kernel_errors', kernel_errors) AS (metric, value)")


def q_pricing_summary(spark, sf_dir) -> DataFrame:
    """TPC-H Q1-style rollup. Money/quantity emitted as integer
    hundredths (BIGINT): floor(x*100) is IEEE-deterministic in both
    engines and integer sums are order-independent, so the result is
    hash-stable in every serializer (Decimal outputs were not —
    VERDICT r2 #1)."""
    li = spark.read.parquet(os.path.join(sf_dir, 'lineitem.parquet'))
    cents = lambda c: F.floor(F.col(c) * 100).cast('long')  # noqa: E731
    return (li.groupBy('l_returnflag', 'l_linestatus')
            .agg(F.sum(cents('l_quantity')).alias('sum_qty'),
                 F.sum(cents('l_extendedprice')).alias('sum_price'),
                 F.count('*').alias('count_order')))


def q_top_customers(spark, sf_dir) -> DataFrame:
    from pyspark.sql import Window
    orders = spark.read.parquet(os.path.join(sf_dir, 'orders.parquet'))
    cust = spark.read.parquet(os.path.join(sf_dir, 'customer.parquet'))
    # total_spent in integer cents (see q_pricing_summary docstring);
    # monotonic in the Decimal value, so the ranking is unchanged.
    per = (orders.groupBy('o_custkey')
           .agg(F.count('*').alias('n_orders'),
                F.sum(F.floor(F.col('o_totalprice') * 100).cast('long'))
                .alias('total_spent')))
    joined = per.join(F.broadcast(cust),
                      per.o_custkey == cust.c_custkey)
    w = Window.partitionBy('c_mktsegment').orderBy(
        F.desc('n_orders'), F.desc('total_spent'), F.asc('c_custkey'))
    return (joined.withColumn('rnk', F.row_number().over(w))
            .where(F.col('rnk') <= 3)
            .select('c_mktsegment', 'c_custkey', 'n_orders',
                    'total_spent', 'rnk'))


def q_idle_customers(spark, sf_dir) -> DataFrame:
    """Anti-join: customers with no orders (except-semantics analog,
    SURVEY.md §2.7 relational view)."""
    orders = spark.read.parquet(os.path.join(sf_dir, 'orders.parquet'))
    cust = spark.read.parquet(os.path.join(sf_dir, 'customer.parquet'))
    big = orders.where(F.col('o_totalprice') > 300000)
    return (cust.join(big, cust.c_custkey == big.o_custkey,
                      'left_anti')
            .select('c_custkey', 'c_mktsegment'))


def q_orders_rollup(spark, sf_dir) -> DataFrame:
    """Grouping-sets rollup over order status x priority."""
    orders = spark.read.parquet(os.path.join(sf_dir, 'orders.parquet'))
    return (orders
            .rollup('o_orderstatus', 'o_orderpriority')
            .agg(F.count('*').alias('n_orders'))
            .select(F.coalesce('o_orderstatus', F.lit('ALL'))
                    .alias('status'),
                    F.coalesce('o_orderpriority', F.lit('ALL'))
                    .alias('priority'),
                    'n_orders'))


def q_event_sessions(spark, sf_dir) -> DataFrame:
    from pyspark.sql import Window
    ev = spark.read.parquet(os.path.join(sf_dir, 'events.parquet'))
    w = Window.partitionBy('user_id').orderBy('ts', 'event_id')
    gap = (F.unix_timestamp('ts')
           - F.unix_timestamp(F.lag('ts').over(w)))
    marked = ev.withColumn(
        'new_session',
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    return (marked.groupBy('user_id')
            .agg(F.sum('new_session').alias('n_sessions'),
                 F.count('*').alias('n_events')))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # The correctness gate reports only the FIRST 50 entries; all 32
    # entries below fit under that cap.
    return {
        'kg_facts_golden': q_kg_facts_golden,
        'kg_triples_date': q_kg_triples_date,
        'kg_entities': q_kg_entities,
        'kg_incremental': q_kg_incremental,
        'kg_merge_candidates': q_kg_merge_candidates,
        'kg_person_triples': q_kg_person_triples,
        'kg_token_table': q_kg_token_table,
        'kg_money_triples': q_kg_money_triples,
        'kg_geo_triples': q_kg_geo_triples,
        'kg_fact_spans': q_kg_fact_spans,
        'kg_oov_person': q_kg_oov_person,
        'kg_address': q_kg_address,
        'kg_lemma_tokens': q_kg_lemma_tokens,
        'kg_entity_cooccurrence': q_kg_entity_cooccurrence,
        'kg_entity_degree': q_kg_entity_degree,
        'kg_extract_report': q_kg_extract_report,
        'minhash_lsh_dups': q_minhash_lsh_dups,
        'dup_clusters': q_dup_clusters,
        'dedup_incremental': q_dedup_incremental,
        'dedup_report': q_dedup_report,
        'exact_dedup': q_exact_dedup,
        'stream_dedup': q_stream_dedup,
        'stream_mention_rollup': q_stream_mention_rollup,
        'kg_merge_apply': q_kg_merge_apply,
        'pricing_summary': q_pricing_summary,
        'top_customers': q_top_customers,
        'idle_customers': q_idle_customers,
        'orders_rollup': q_orders_rollup,
        'event_sessions': q_event_sessions,
        'stream_band_collisions': q_stream_band_collisions,
        'transcripts_tool_stats': q_transcripts_tool_stats,
        'ngram_jaccard_dups': q_ngram_jaccard_dups,
    }


# ------------------------------------------------------------- oracle SQL

def _values_rows(rows, cols, casts=None):
    """VALUES-literal oracle.  ``casts`` maps column -> SQL type so the
    oracle's declared dtype matches the Spark side exactly (bare int
    literals infer as INTEGER in DuckDB while Spark counts are
    BIGINT; the driver hashes typed values)."""
    body = ',\n  '.join(
        '(%s)' % ', '.join(_sql_lit(v) for v in row) for row in rows)
    casts = casts or {}
    sel = ', '.join(
        'CAST(%s AS %s) AS %s' % (c, casts[c], c) if c in casts else c
        for c in cols)
    return 'SELECT %s FROM (VALUES\n  %s\n) AS t(%s)' % (
        sel, body, ', '.join(cols))


def _sql_lit(v):
    if isinstance(v, str):
        return "'%s'" % v.replace("'", "''")
    return str(v)


def _kg_expected():
    from tests.goldens import EXPECTED_FACTS
    return [(c, r, json.dumps(f, ensure_ascii=False, sort_keys=True))
            for c, r, f in EXPECTED_FACTS]


_NORM = r"regexp_replace(trim(lower(text)), '\s+', ' ', 'g')"

_H60 = "('0x' || substr(md5({x}), 1, 15))::int64"


def _shingles_sql(src):
    """norm + shingles CTEs over ``src`` (documents or repdocs)."""
    return """
  norm AS (SELECT doc_id, string_split({norm}, ' ') AS w FROM {src}),
  shingles AS (
    SELECT DISTINCT doc_id,
           w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
    FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
          FROM norm WHERE len(w) >= 3))
""".format(norm=_NORM, src=src)


_SHINGLES = _shingles_sql('documents')

_JACCARD_VERIFY = """
  sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
  inter AS (
    SELECT c.a, c.b, count(*) AS inter
    FROM cands c
    JOIN shingles sa ON sa.doc_id = c.a
    JOIN shingles sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
    GROUP BY c.a, c.b),
  verified AS (
    SELECT i.a, i.b,
           CAST(floor(10000.0 * i.inter /
                (za.sz + zb.sz - i.inter)) AS BIGINT) AS jaccard_x10000
    FROM inter i
    JOIN sizes za ON za.doc_id = i.a
    JOIN sizes zb ON zb.doc_id = i.b)
"""


# dedup-first replay (operators/dedup._exact_groups/_expand_groups):
# candidates and Jaccard verification run over one representative per
# distinct normalized text; member pairs (and within-group pairs of
# exact copies with >= k words, jaccard 10000) are expanded at the end.
# grp + repdocs CTEs over documents:
_DEDUP_FIRST = """
  grp AS (
    SELECT doc_id,
           min(doc_id) OVER (
             PARTITION BY ('0x' || substr(md5({norm}), 1, 15))::int64
           ) AS rep_id
    FROM documents),
  repdocs AS (
    SELECT d.doc_id, d.text FROM documents d
    JOIN grp g ON d.doc_id = g.doc_id AND g.doc_id = g.rep_id)
""".format(norm=_NORM)

_SHINGLES_REPS = _shingles_sql('repdocs')

# MinHash banding over the repdocs shingle table (operators/dedup.
# _minhash_rep_pairs): shared verbatim by the minhash_lsh_dups and
# dedup_report oracles so the two can never band differently.
# Candidate generation carries the round-5 hot-bucket governor
# (operators/dedup._band_candidates): buckets over {cap} reps emit
# star edges to the bucket-min doc only — in SQL the star edge is
# exactly "left side IS the bucket min" since bmin < every member.
# Placeholders: {fam} hash-family VALUES rows, {m} Mersenne modulus,
# {rpb} rows per band, {h} the 60-bit shingle hash expression,
# {cap} the governor threshold (LSH_MAX_BUCKET).
_MINHASH_CANDS = """
  fam(i, a, b) AS (VALUES
    {fam}),
  xs AS (SELECT doc_id, {h} % {m} AS x FROM shingles),
  sig AS (
    SELECT doc_id, fam.i AS hash_idx,
           min((fam.a * xs.x + fam.b) % {m}) AS minhash
    FROM xs CROSS JOIN fam GROUP BY doc_id, fam.i),
  bands AS (
    -- integer floor division: CAST(x / 2 AS INT) would ROUND in
    -- DuckDB and run a different banding than Spark's
    SELECT doc_id, CAST(hash_idx // {rpb} AS INT) AS band,
           string_agg(CAST(minhash AS VARCHAR), '_'
                      ORDER BY hash_idx) AS sig_key
    FROM sig GROUP BY doc_id, CAST(hash_idx // {rpb} AS INT)),
  bstats AS (
    SELECT band, sig_key, count(*) AS bn, min(doc_id) AS bmin
    FROM bands GROUP BY band, sig_key),
  cands AS (
    SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
    FROM bands l JOIN bands r
      ON l.band = r.band AND l.sig_key = r.sig_key
    JOIN bstats s ON s.band = l.band AND s.sig_key = l.sig_key
    WHERE l.doc_id < r.doc_id
      AND (s.bn <= {cap} OR l.doc_id = s.bmin))
"""

def _mh_split_sql(pred, p, id_expr='doc_id'):
    """Prefixed dedup-first + shingle + minhash sig/band CTE chain
    over ``documents WHERE pred`` — the dedup_incremental oracle runs
    TWO of these (base state / new batch), so every CTE name takes
    prefix ``p``.  ``id_expr`` lets the batch chain remap doc_ids
    (the gate offsets the batch half above the state half, honoring
    dedup_increment's ids-time-order-after-state contract).  Formulas
    mirror _DEDUP_FIRST / _shingles_sql / _MINHASH_CANDS verbatim
    (same hash family ``fam`` CTE, Mersenne modulus, banding
    arithmetic, k=3 shingles); placeholders {h60s} (60-bit shingle
    hash) and {m} are closed by the caller's .format alongside fam."""
    return """
  {p}src AS (SELECT {id_expr} AS doc_id, text
             FROM documents WHERE {pred}),
  {p}grp AS (
    SELECT doc_id,
           min(doc_id) OVER (
             PARTITION BY ('0x' || substr(md5({norm}), 1, 15))::int64
           ) AS rep_id
    FROM {p}src),
  {p}rep AS (
    SELECT d.doc_id, d.text FROM {p}src d
    JOIN {p}grp g ON d.doc_id = g.doc_id AND g.doc_id = g.rep_id),
  {p}norm AS (SELECT doc_id, string_split({norm}, ' ') AS w
              FROM {p}rep),
  {p}sh AS (
    SELECT DISTINCT doc_id,
           w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
    FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
          FROM {p}norm WHERE len(w) >= 3)),
  {p}sig AS (
    SELECT doc_id, fam.i AS hash_idx,
           min((fam.a * x + fam.b) % {{m}}) AS minhash
    FROM (SELECT doc_id, {{h60s}} % {{m}} AS x FROM {p}sh)
    CROSS JOIN fam GROUP BY doc_id, fam.i),
  {p}bands AS (
    SELECT doc_id, CAST(hash_idx // {rpb} AS INT) AS band,
           string_agg(CAST(minhash AS VARCHAR), '_'
                      ORDER BY hash_idx) AS sig_key
    FROM {p}sig GROUP BY doc_id, CAST(hash_idx // {rpb} AS INT)),
  {p}sizes AS (SELECT doc_id, count(*) AS sz FROM {p}sh
               GROUP BY doc_id)""".format(
        p=p, pred=pred, id_expr=id_expr, norm=_NORM, rpb='{rpb}')


# Member expansion over the dedup-first rep_pairs CTE — the ONE SQL
# twin of operators/dedup._expand_groups (exact copies with >= 3
# words pair at jaccard 10000).
_EXPAND_GROUPS = """
  self_pairs AS (
    SELECT doc_id AS a, doc_id AS b,
           CAST(10000 AS BIGINT) AS jaccard_x10000
    FROM norm WHERE len(w) >= 3),
  allp AS (SELECT a, b, jaccard_x10000 FROM rep_pairs
           UNION ALL SELECT a, b, jaccard_x10000 FROM self_pairs),
  ga AS (SELECT rep_id AS a, doc_id AS ma FROM grp),
  gb AS (SELECT rep_id AS b, doc_id AS mb FROM grp)
SELECT least(ga.ma, gb.mb) AS a, greatest(ga.ma, gb.mb) AS b,
       jaccard_x10000
FROM allp JOIN ga USING (a) JOIN gb USING (b)
WHERE allp.a != allp.b OR ga.ma < gb.mb
"""

def oracle_sql() -> dict[str, str]:
    from yargy_spark.operators.dedup import (HASH_FAMILY,
                                             LSH_DEFAULT_THRESHOLD,
                                             LSH_MAX_BUCKET,
                                             MERSENNE, ROWS_PER_BAND)

    kg = _kg_expected()
    family_rows = ',\n    '.join(
        '(%d, %d, %d)' % (i, a, b)
        for i, (a, b) in enumerate(HASH_FAMILY))

    oracles = {}

    oracles['kg_facts_golden'] = _values_rows(
        kg, ['conv_id', 'rule_id', 'fact_json'])

    # CappedParser observability (q_kg_extract_report): fixture =
    # golden corpus + 1 poison turn ('a 'x40, ambiguous grammar at
    # cap=50 -> exactly one (turn, rule) budget abort) + 1 turn no
    # trigger matches; mentions = the golden fact count (the same
    # EXPECTED_FACTS the kg_facts_golden oracle pins — the poison and
    # quiet turns contribute zero)
    from yargy_spark.sources.transcripts import GOLDEN_SENTENCES
    oracles['kg_extract_report'] = _values_rows([
        ('turns_total', len(GOLDEN_SENTENCES) + 2),
        ('turns_triggered', len(GOLDEN_SENTENCES) + 1),
        ('turns_budget_aborted', 1),
        ('budget_aborts', 1),
        ('mentions', len(kg)),
        ('kernel_errors', 0),
    ], ['metric', 'value'], casts={'value': 'BIGINT'})

    oracles['kg_triples_date'] = _values_rows([
        ('g000003', 'day', '8'), ('g000003', 'month', '6'),
        ('g000003', 'year', '2015'),
        ('g000004', 'day', '18'), ('g000004', 'month', '7'),
        ('g000004', 'year', '2016'),
        ('g000005', 'day', '2'), ('g000005', 'month', '1'),
        ('g000005', 'year', '2016'),
        ('g000006', 'year', '2015'),
    ], ['conv_id', 'pred', 'obj'])

    oracles['kg_entities'] = _values_rows([
        ('иван|ульянов', 5), ('владимир|путин', 2),
        ('саша|иванов', 1), ('саша|иванова', 1), ('саша|быков', 1),
    ], ['canonical', 'n_mentions'], casts={'n_mentions': 'BIGINT'})

    # incremental linking over the parity-split golden corpus: the
    # lone odd-half Иван Ульянов mention adopts the even-half entity
    # (its norm_key is in the prior state); the two odd-half Саша
    # keys never occur in the even half, so they mint fresh entities
    oracles['kg_incremental'] = _values_rows([
        ('иван|ульянов', 1, 1),
        ('саша|быков', 1, 0), ('саша|иванов', 1, 0),
    ], ['canonical', 'n_mentions', 'adopted'],
        casts={'n_mentions': 'BIGINT', 'adopted': 'INT'})

    # merge work-list over the inline bridge fixture: each increment
    # conversation that connects two prior entities emits exactly one
    # oriented pair with its witness conversation and surname lemma
    oracles['kg_merge_candidates'] = _values_rows([
        ('ent_100', 'ent_200', 'cX', 'петров'),
        ('ent_300', 'ent_400', 'cY', 'ульянов'),
    ], ['entity_a', 'entity_b', 'conv_id', 'last_lemma'])

    # merge APPLICATION: the oracle recomputes the candidate graph's
    # transitive closure with a recursive CTE and the numeric-min
    # survivor election — an independent CC implementation checking
    # apply_entity_merges' large/small-star run, not pinned literals
    ma_keys = ',\n    '.join(
        "('%s', '%s', '%s')" % row for row in MERGE_APPLY_KEYS)
    ma_cands = ',\n    '.join(
        "('%s', '%s')" % (a, b) for a, b, _c, _l in MERGE_APPLY_CANDS)
    oracles['kg_merge_apply'] = """
WITH RECURSIVE
keys(norm_key, entity_id, canonical) AS (VALUES
    %(keys)s),
cands(entity_a, entity_b) AS (VALUES
    %(cands)s),
e0 AS (
  SELECT CAST(regexp_extract(entity_a, 'ent_([0-9]+)', 1) AS BIGINT)
           AS a,
         CAST(regexp_extract(entity_b, 'ent_([0-9]+)', 1) AS BIGINT)
           AS b
  FROM cands),
edges AS (SELECT a AS src, b AS dst FROM e0
          UNION SELECT b AS src, a AS dst FROM e0),
reach(node, r) AS (
  SELECT src AS node, src AS r FROM edges
  UNION SELECT src AS node, dst AS r FROM edges
  UNION SELECT e.src AS node, r.r
        FROM edges e JOIN reach r ON e.dst = r.node),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
mapping AS (
  SELECT 'ent_' || CAST(node AS VARCHAR) AS entity_id,
         'ent_' || CAST(component AS VARCHAR) AS merged_id
  FROM comp WHERE node <> component),
surv AS (SELECT DISTINCT entity_id AS merged_id,
                canonical AS merged_canonical FROM keys)
SELECT k.norm_key, k.entity_id AS prior_entity,
       COALESCE(m.merged_id, k.entity_id) AS entity_id,
       COALESCE(s.merged_canonical, k.canonical) AS canonical
FROM keys k
LEFT JOIN mapping m ON k.entity_id = m.entity_id
LEFT JOIN surv s ON m.merged_id = s.merged_id
""" % {'keys': ma_keys, 'cands': ma_cands}

    oracles['kg_oov_person'] = _values_rows([
        ('v000000', 'name',
         '{"first": "эльвира", "last": "зубкова"}'),
        ('v000001', 'name',
         '{"first": "аделаида", "last": "брусникина"}'),
        ('v000002', 'name',
         '{"first": "трофим", "last": "зюзин"}'),
        ('v000003', 'name',
         '{"first": "максим", "last": "кочергин"}'),
        ('v000004', 'name',
         '{"first": "эльвира", "last": "зубкова"}'),
    ], ['conv_id', 'rule_id', 'fact_json'])

    oracles['kg_address'] = _values_rows([
        ('a000000', 'address',
         '{"house": 5, "street": "ленина", "street_type": "улица"}'),
        ('a000001', 'address',
         '{"street": "первомайская", "street_type": "улица"}'),
        ('a000002', 'address',
         '{"house": 12, "street": "мира", "street_type": "проспект"}'),
        ('a000003', 'address',
         '{"house": 3, "street": "глухой", '
         '"street_type": "переулок"}'),
    ], ['conv_id', 'rule_id', 'fact_json'])

    oracles['kg_person_triples'] = _values_rows([
        ('иван|ульянов', 'name.first', 'Иван'),
        ('иван|ульянов', 'name.last', 'Ульянов'),
        ('иван|ульянов', 'position', 'управляющий директор'),
    ], ['canonical', 'pred', 'obj'])

    # token-table oracle: the kernel tokenizer is the oracle generator;
    # its own behavior is pinned byte-for-byte by the reference golden
    # suite (tests/test_tokenizer.py), so these VALUES are
    # reference-derived, and the query validates the Spark plumbing.
    from yargy_spark.kernel.tokenize import TokenSpec
    from yargy_spark.sources.transcripts import GOLDEN_SENTENCES
    spec = TokenSpec()
    token_rows = []
    for conv in _TOKEN_CONVS:
        sentence = GOLDEN_SENTENCES[int(conv[1:])]
        for i, tok in enumerate(spec(sentence)):
            token_rows.append((conv, 0, i, tok.value, tok.start,
                               tok.stop, tok.type))
    oracles['kg_token_table'] = _values_rows(
        token_rows, ['conv_id', 'turn_idx', 'tok_idx', 'value',
                     'start', 'stop', 'type'])

    oracles['kg_money_triples'] = _values_rows([
        ('g000007', 'money', 'currency', '$'),
        ('g000007', 'money', 'value', '5 тысяч'),
        ('g000008', 'era', 'value', 'AD'),
        ('g000008', 'era', 'value', 'BC'),
    ], ['conv_id', 'rule_id', 'pred', 'obj'])

    oracles['kg_geo_triples'] = _values_rows([
        ('g000009', 'name', 'красная площадь'),
        ('g000009', 'name', 'первомайская улица'),
        ('g000010', 'name', 'чеченский республика'),
        ('g000011', 'name', 'донецкий народный республика'),
    ], ['conv_id', 'pred', 'obj'])

    # span-sink oracle: kernel-generated like kg_token_table — the
    # kernel's span behavior is pinned by the reference-derived golden
    # suite (tests/test_interpretation.py spans cases); the query
    # validates the Spark plumbing end-to-end.
    from yargy_spark.extractors import CompiledBank
    from yargy_spark.sources.transcripts import GOLDEN_SENTENCES
    bank = CompiledBank()
    span_rows = []
    for conv in _TOKEN_CONVS:
        for row in bank.run(GOLDEN_SENTENCES[int(conv[1:])]):
            for sp in row['fact_spans']:
                span_rows.append((conv, row['rule_id'],
                                  sp['start'], sp['stop']))
    oracles['kg_fact_spans'] = _values_rows(
        span_rows, ['conv_id', 'rule_id', 'start', 'stop'])

    # lemma-annotation oracle: built from the SAME merged dictionary
    # lexicon_table() serves (embedded golden + generated), so the
    # oracle replays the query's lookup exactly — an embedded-only
    # replica would silently diverge the moment a golden-sentence
    # token lands in the generated vocabulary
    from yargy_spark.kernel.morphology import default_morphology
    from yargy_spark.kernel.tokenize import TokenSpec as _TS
    lemma_sets: dict = {}
    for word, readings in default_morphology().entries.items():
        for lemma, _g in readings:
            lemma_sets.setdefault(word.lower(), set()).add(lemma)
    _spec = _TS()
    lemma_rows = []
    for conv in _TOKEN_CONVS:
        for i, tok in enumerate(_spec(GOLDEN_SENTENCES[int(conv[1:])])):
            low = tok.value.lower()
            lemmas = sorted(lemma_sets.get(low) or [low])
            lemma_rows.append((conv, i, tok.value, ','.join(lemmas)))
    oracles['kg_lemma_tokens'] = _values_rows(
        lemma_rows, ['conv_id', 'tok_idx', 'value', 'lemmas'])

    # co-occurrence oracle: conv -> canonical entity (from the
    # kg_entities golden), folded into grp = conv_idx % 4:
    #   grp0 {ульянов(0,16), путин(12)}  grp1 {иванов(1), быков(13)}
    #   grp2 {иванова(2), ульянов(14)}   grp3 {ульянов(15)} -> no pair
    oracles['kg_entity_cooccurrence'] = _values_rows([
        ('владимир|путин', 'иван|ульянов', 1),
        ('иван|ульянов', 'саша|иванова', 1),
        ('саша|быков', 'саша|иванов', 1),
    ], ['a', 'b', 'n_groups'], casts={'n_groups': 'BIGINT'})

    # degree over the same three gated edges: each undirected edge
    # contributes both endpoints
    oracles['kg_entity_degree'] = _values_rows([
        ('владимир|путин', 1, 1), ('иван|ульянов', 2, 2),
        ('саша|быков', 1, 1), ('саша|иванов', 1, 1),
        ('саша|иванова', 1, 1),
    ], ['entity', 'n_neighbors', 'degree_weight'],
        casts={'n_neighbors': 'BIGINT', 'degree_weight': 'BIGINT'})


    oracles['transcripts_tool_stats'] = """
WITH t AS (
  SELECT i AS id, (i % 8) % 3 AS role_idx, i // 8 AS conv
  FROM (SELECT unnest(generate_series(0, 1023)) AS i)),
r AS (
  SELECT conv,
    ['user','assistant','tool'][role_idx + 1] AS role,
    CASE WHEN role_idx = 2
         THEN ['search','calculator','db'][id % 3 + 1] END AS tool
  FROM t)
SELECT role, tool, count(*) AS n_turns,
       count(DISTINCT conv) AS n_convs
FROM r GROUP BY role, tool
"""

    # streaming rollup oracle: event-time windows computed from the
    # SAME fixture rows the query streams (sources/transcripts.
    # golden_stream_rows) — one source of truth for the timestamps
    from yargy_spark.sources.transcripts import golden_stream_rows
    epoch_by_conv = {row['conv_id']: row['epoch']
                     for row in golden_stream_rows()}
    win_counts: dict = {}
    for c, r, _f in kg:
        win = epoch_by_conv[c] // 600 * 600
        key = (win, _FACT_TYPES[r])
        win_counts[key] = win_counts.get(key, 0) + 1
    oracles['stream_mention_rollup'] = _values_rows(
        [(w, ft, n) for (w, ft), n in sorted(win_counts.items())],
        ['win_start', 'fact_type', 'n_mentions'],
        casts={'win_start': 'BIGINT', 'n_mentions': 'BIGINT'})

    # group key is (hash, normalized text) — collision guard parity
    # with operators/dedup.py::exact_dedup
    oracles['exact_dedup'] = """
WITH hashed AS (
  SELECT doc_id, {h} AS h, {norm} AS t FROM documents)
SELECT min(doc_id) AS rep_id, count(*) AS group_size
FROM hashed GROUP BY h, t
""".format(h=_H60.format(x=_NORM), norm=_NORM)

    oracles['ngram_jaccard_dups'] = """
WITH {df},
  {sh},
  dfreq AS (SELECT shingle, count(*) AS df FROM shingles GROUP BY shingle),
  rare AS (SELECT s.doc_id, s.shingle FROM shingles s
           JOIN dfreq USING (shingle) WHERE dfreq.df <= 100),
  cands AS (
    SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
    FROM rare l JOIN rare r ON l.shingle = r.shingle
    WHERE l.doc_id < r.doc_id),
  {jv},
  rep_pairs AS (SELECT a, b, jaccard_x10000 FROM verified
                WHERE jaccard_x10000 >= 2000),
  {exp}
""".format(df=_DEDUP_FIRST, sh=_SHINGLES_REPS, jv=_JACCARD_VERIFY,
           exp=_EXPAND_GROUPS)

    minhash_cands = _MINHASH_CANDS.format(
        fam=family_rows, m=MERSENNE, rpb=ROWS_PER_BAND,
        h=_H60.format(x='shingle'), cap=LSH_MAX_BUCKET)

    oracles['minhash_lsh_dups'] = """
WITH {df},
  {sh},
  {mc},
  {jv},
  rep_pairs AS (SELECT a, b, jaccard_x10000 FROM verified
                WHERE jaccard_x10000 >= {thr}),
  {exp}
""".format(df=_DEDUP_FIRST, sh=_SHINGLES_REPS, mc=minhash_cands,
           jv=_JACCARD_VERIFY, thr=LSH_DEFAULT_THRESHOLD,
           exp=_EXPAND_GROUPS)

    # incremental near-dup: TWO independent split chains (even half =
    # committed state, odd half = arriving batch) built by the SAME
    # prefixed fragment; within-batch pairs replay the batch operator
    # (threshold -> group expansion incl. reflexive self pairs), cross
    # pairs band-join state vs batch and expand only the batch side —
    # exactly dedup_increment's contract, independently in DuckDB
    oracles['dedup_incremental'] = ("""
WITH fam(i, a, b) AS (VALUES
    {fam}),""" + _mh_split_sql('doc_id % 2 = 0', 'b_') + ','
        + _mh_split_sql('doc_id % 2 = 1', 'i_',
                        id_expr='doc_id + %d' % DEDUP_INC_OFFSET)
        + ',' + """
  i_bstats AS (
    SELECT band, sig_key, count(*) AS bn, min(doc_id) AS bmin
    FROM i_bands GROUP BY band, sig_key),
  w_cands AS (
    -- hot-bucket governor (dedup._band_candidates): buckets over
    -- {cap} reps emit star edges to the bucket-min doc only
    SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
    FROM i_bands l JOIN i_bands r
      ON l.band = r.band AND l.sig_key = r.sig_key
    JOIN i_bstats s ON s.band = l.band AND s.sig_key = l.sig_key
    WHERE l.doc_id < r.doc_id
      AND (s.bn <= {cap} OR l.doc_id = s.bmin)),
  w_inter AS (
    SELECT c.a, c.b, count(*) AS inter
    FROM w_cands c
    JOIN i_sh sa ON sa.doc_id = c.a
    JOIN i_sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
    GROUP BY c.a, c.b),
  w_rep_pairs AS (
    SELECT i.a, i.b,
           CAST(floor(10000.0 * i.inter / (za.sz + zb.sz - i.inter))
                AS BIGINT) AS jaccard_x10000
    FROM w_inter i
    JOIN i_sizes za ON za.doc_id = i.a
    JOIN i_sizes zb ON zb.doc_id = i.b
    WHERE floor(10000.0 * i.inter / (za.sz + zb.sz - i.inter))
          >= {thr}),
  w_self AS (
    SELECT doc_id AS a, doc_id AS b,
           CAST(10000 AS BIGINT) AS jaccard_x10000
    FROM i_norm WHERE len(w) >= 3),
  w_allp AS (SELECT a, b, jaccard_x10000 FROM w_rep_pairs
             UNION ALL SELECT a, b, jaccard_x10000 FROM w_self),
  w_exp AS (
    SELECT least(ga.ma, gb.mb) AS a, greatest(ga.ma, gb.mb) AS b,
           jaccard_x10000
    FROM w_allp
    JOIN (SELECT rep_id AS a, doc_id AS ma FROM i_grp) ga USING (a)
    JOIN (SELECT rep_id AS b, doc_id AS mb FROM i_grp) gb USING (b)
    WHERE w_allp.a != w_allp.b OR ga.ma < gb.mb),
  b_bstats AS (
    SELECT band, sig_key, count(*) AS bn, min(doc_id) AS bmin
    FROM b_bands GROUP BY band, sig_key),
  x_cands AS (
    -- bipartite governor form: a HOT state bucket contributes only
    -- its min-doc rep to the cross band join
    SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
    FROM b_bands l JOIN i_bands r
      ON l.band = r.band AND l.sig_key = r.sig_key
    JOIN b_bstats s ON s.band = l.band AND s.sig_key = l.sig_key
    WHERE s.bn <= {cap} OR l.doc_id = s.bmin),
  x_inter AS (
    SELECT c.a, c.b, count(*) AS inter
    FROM x_cands c
    JOIN b_sh sa ON sa.doc_id = c.a
    JOIN i_sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
    GROUP BY c.a, c.b),
  x_rep AS (
    SELECT i.a, i.b,
           CAST(floor(10000.0 * i.inter / (za.sz + zb.sz - i.inter))
                AS BIGINT) AS jaccard_x10000
    FROM x_inter i
    JOIN b_sizes za ON za.doc_id = i.a
    JOIN i_sizes zb ON zb.doc_id = i.b
    WHERE floor(10000.0 * i.inter / (za.sz + zb.sz - i.inter))
          >= {thr}),
  x_exp AS (
    SELECT x.a, g.doc_id AS b, x.jaccard_x10000
    FROM x_rep x JOIN i_grp g ON g.rep_id = x.b)
SELECT a, b, jaccard_x10000, CAST(0 AS INT) AS vs_state FROM w_exp
UNION ALL
SELECT a, b, jaccard_x10000, CAST(1 AS INT) AS vs_state FROM x_exp
""").format(fam=family_rows, m=MERSENNE, rpb=ROWS_PER_BAND,
            h60s=_H60.format(x='shingle'), thr=LSH_DEFAULT_THRESHOLD,
            cap=LSH_MAX_BUCKET)

    # streaming band collisions: the windowed bucket counts are
    # batch-replayable — per-doc signatures over the SAME shingle
    # fragment + hash family, 5-minute windows floored on the epoch
    oracles['stream_band_collisions'] = """
WITH fam(i, a, b) AS (VALUES
    {fam}),{sh}
  , xs AS (SELECT doc_id, {h} % {m} AS x FROM shingles),
  sig AS (
    SELECT doc_id, fam.i AS hash_idx,
           min((fam.a * x + fam.b) % {m}) AS minhash
    FROM xs CROSS JOIN fam GROUP BY doc_id, fam.i),
  bands AS (
    SELECT doc_id, CAST(hash_idx // {rpb} AS INT) AS band,
           string_agg(CAST(minhash AS VARCHAR), '_'
                      ORDER BY hash_idx) AS sig_key
    FROM sig GROUP BY doc_id, CAST(hash_idx // {rpb} AS INT)),
  ev AS (
    SELECT b.doc_id, b.band,
           ('0x' || substr(md5(b.sig_key), 1, 15))::int64 AS band_hash,
           ({epoch} + d.doc_id % {mod}) // 300 * 300 AS win_start
    FROM bands b JOIN documents d ON d.doc_id = b.doc_id)
SELECT CAST(win_start AS BIGINT) AS win_start, band, band_hash,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS min_doc
FROM ev GROUP BY 1, 2, 3 HAVING count(*) > 1
""".format(fam=family_rows, sh=_SHINGLES, m=MERSENNE,
           rpb=ROWS_PER_BAND, h=_H60.format(x='shingle'),
           epoch=STREAM_EPOCH, mod=STREAM_TS_MOD)

    # streaming dedup: whichever copy survives arrival order, the
    # emitted key set equals batch DISTINCT over normalized text
    oracles['stream_dedup'] = """
SELECT DISTINCT {h} AS text_hash FROM documents
""".format(h=_H60.format(x=_NORM))

    # dup_clusters: the SAME minhash pair oracle, closed transitively
    # by a recursive CTE (UNION dedups, so the fixpoint terminates);
    # component id = min reachable node, exactly the CC contract
    oracles['dup_clusters'] = """
WITH RECURSIVE pairs AS ({mh}),
edges AS (SELECT a AS src, b AS dst FROM pairs
          UNION SELECT b AS src, a AS dst FROM pairs),
reach(node, r) AS (
  SELECT src AS node, src AS r FROM edges
  UNION SELECT src AS node, dst AS r FROM edges
  UNION SELECT e.src AS node, r.r
        FROM edges e JOIN reach r ON e.dst = r.node)
SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
FROM reach GROUP BY node
""".format(mh=oracles['minhash_lsh_dups'])

    oracles['pricing_summary'] = """
SELECT l_returnflag, l_linestatus,
       -- integer hundredths: floor(x*100) is IEEE-identical across
       -- engines; sum(BIGINT) is HUGEINT in DuckDB -> cast back
       CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT))
            AS BIGINT) AS sum_qty,
       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
            AS BIGINT) AS sum_price,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""

    oracles['top_customers'] = """
WITH per AS (
  SELECT o_custkey, count(*) AS n_orders,
         -- integer cents (see pricing_summary note)
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS total_spent
  FROM orders GROUP BY o_custkey),
ranked AS (
  SELECT c.c_mktsegment, c.c_custkey, p.n_orders, p.total_spent,
         row_number() OVER (
           PARTITION BY c.c_mktsegment
           ORDER BY p.n_orders DESC, p.total_spent DESC,
                    c.c_custkey ASC) AS rnk
  FROM per p JOIN customer c ON p.o_custkey = c.c_custkey)
SELECT c_mktsegment, c_custkey, n_orders, total_spent,
       -- CAST: DuckDB row_number() is BIGINT; Spark's is INT
       CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 3
"""

    oracles['idle_customers'] = """
SELECT c_custkey, c_mktsegment FROM customer c
WHERE NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
"""

    oracles['orders_rollup'] = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n_orders
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""

    oracles['event_sessions'] = """
WITH marked AS (
  -- floor to whole seconds like Spark's unix_timestamp: fractional
  -- epoch would flip sessions at the +/-1s gap boundary
  SELECT user_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT)
                   > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id,
       -- CAST: DuckDB sum(INT) widens to HUGEINT; Spark emits LONG
       CAST(sum(new_session) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM marked GROUP BY user_id
"""

    # the governor's loud counter (dedup.lsh_hot_buckets): band
    # buckets whose rep population exceeds the cap, recomputed
    # through the SAME dedup-first/shingle/banding CTEs the pair
    # oracle uses (bstats comes from _MINHASH_CANDS verbatim)
    hot_sql = """
WITH {df},
  {sh},
  {mc}
SELECT CAST(count(*) AS BIGINT) AS value
FROM bstats WHERE bn > {cap}
""".format(df=_DEDUP_FIRST, sh=_SHINGLES_REPS, mc=minhash_cands,
           cap=LSH_MAX_BUCKET)

    # dedup observability report: each metric recomputes through the
    # SAME oracle the family query gates on (nested as subqueries),
    # so the report can never disagree with its constituent gates
    oracles['dedup_report'] = """
SELECT 'exact_dup_groups' AS metric, CAST(count(*) AS BIGINT) AS value
FROM ({exact}) WHERE group_size > 1
UNION ALL
SELECT 'exact_surplus_docs',
       CAST(coalesce(sum(group_size - 1), 0) AS BIGINT)
FROM ({exact}) WHERE group_size > 1
UNION ALL
SELECT 'lsh_dup_pairs', CAST(count(*) AS BIGINT) FROM ({mh})
UNION ALL
SELECT 'lsh_hot_buckets', value FROM ({hot})
""".format(exact=oracles['exact_dedup'],
           mh=oracles['minhash_lsh_dups'],
           hot=hot_sql)

    return oracles
