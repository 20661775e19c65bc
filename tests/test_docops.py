"""Document dedup operator tests over the provided sf0.001 tables:
exact, n-gram Jaccard, MinHash/LSH and the incremental state.

Cross-engine value equality vs DuckDB oracles is exercised separately
by tools/verify_entry.py (and the round driver); these tests pin
algebraic invariants that hold at any scale.
"""

import pytest

pytestmark = pytest.mark.spark

SF_DIR = '/root/testdata/sf0.001'


@pytest.fixture(scope='module')
def docs(spark):
    return spark.read.parquet(SF_DIR + '/documents.parquet').persist()


def test_exact_dedup_partitions_corpus(spark, docs):
    from yargy_spark.operators.dedup import exact_dedup
    groups = exact_dedup(docs).collect()
    assert sum(r['group_size'] for r in groups) == docs.count()


def test_minhash_lsh_subset_of_exact_jaccard(spark, docs):
    from yargy_spark.operators.dedup import (minhash_lsh_pairs,
                                             ngram_jaccard_pairs)
    lsh = {(r['a'], r['b'], r['jaccard_x10000'])
           for r in minhash_lsh_pairs(docs).collect()}
    exact = {(r['a'], r['b'], r['jaccard_x10000'])
             for r in ngram_jaccard_pairs(docs).collect()}
    # LSH candidates are verified with exact Jaccard, so every LSH
    # pair must appear in the exhaustive set
    assert lsh <= exact
    # and on this corpus the band settings reach full recall
    assert lsh == exact


def test_dedup_increment_chain(spark):
    """Committed state pattern for near-dup dedup (mirrors
    test_incremental's entity-key chaining): day-1 batch checks
    against day-0 state, the rolled state carries day-1 survivors
    into day-2, dropped docs never re-enter, and within-batch pairs
    are exactly the batch operator's."""
    from yargy_spark.operators.dedup import (dedup_increment,
                                             minhash_lsh_pairs,
                                             minhash_state)
    base = ('the quick brown fox jumps over the lazy dog near '
            'the river bank today')
    near = base.replace('today', 'tonight')     # jaccard 11/13=0.846
    other = ('completely different words about spark clusters '
             'shuffling partitions everywhere constantly')
    fresh = ('unrelated prose discussing morphology grammars '
             'parsers and knowledge graph triples')

    day0 = spark.createDataFrame([(1, base), (2, other)],
                                 'doc_id long, text string')
    state0 = minhash_state(day0)
    assert {r['doc_id'] for r in state0.collect()} == {1, 2}

    day1 = spark.createDataFrame(
        [(10, near), (11, base), (12, fresh), (13, fresh)],
        'doc_id long, text string')
    pairs1, state1 = dedup_increment(day1, state0)
    got1 = {(r['a'], r['b'], r['jaccard_x10000'], r['vs_state'])
            for r in pairs1.collect()}
    # cross: exact copy of state doc 1 and its near variant both
    # surface oriented (state, new); old text never rescanned
    assert (1, 11, 10000, 1) in got1
    assert (1, 10, 8461, 1) in got1
    # within-batch rows replay the batch operator exactly
    wb = {(a, b, j) for a, b, j, v in got1 if v == 0}
    batch = {(r['a'], r['b'], r['jaccard_x10000'])
             for r in minhash_lsh_pairs(day1).collect()}
    assert wb == batch and (12, 13, 10000) in wb

    # roll-forward: cross-dups (10, 11) and the non-rep exact copy
    # (13) are gone; the fresh representative (12) joins the state
    assert ({r['doc_id'] for r in state1.collect()} == {1, 2, 12})

    day2 = spark.createDataFrame([(20, fresh), (21, near)],
                                 'doc_id long, text string')
    pairs2, state2 = dedup_increment(day2, state1)
    got2 = {(r['a'], r['b'], r['jaccard_x10000'], r['vs_state'])
            for r in pairs2.collect()}
    # doc 20 duplicates a DAY-1 survivor -> only reachable through
    # the rolled-forward state; doc 21 matches dropped doc 10's
    # SURVIVOR (doc 1) at the pair's true jaccard
    assert (12, 20, 10000, 1) in got2
    assert (1, 21, 8461, 1) in got2
    assert {r['doc_id'] for r in state2.collect()} == {1, 2, 12}


def test_row_signatures_match_aggregated(spark, docs):
    """The map-only in-row minhash (row_signatures — the streaming
    shape) is value-identical to the aggregated batch path
    (minhash_signatures) on every doc that has >= k words."""
    from yargy_spark.operators.dedup import (minhash_signatures,
                                             row_signatures)
    agg = {}
    for r in minhash_signatures(docs).collect():
        agg.setdefault(r['doc_id'], {})[r['hash_idx']] = r['minhash']
    agg = {d: [m[i] for i in sorted(m)] for d, m in agg.items()}
    row = {r['doc_id']: list(r['sig'])
           for r in row_signatures(docs).collect()
           if r['sig'][0] is not None}
    assert row == agg and len(row) > 0


def test_boilerplate_cluster_candidates_linear(spark, monkeypatch):
    """m exact copies of one text must reach the (expensive) Jaccard
    verify stage as ONE representative — candidate pairs are
    O(distinct texts), never O(m^2) — while the expanded output still
    contains every member pair at jaccard 10000."""
    from yargy_spark.operators import dedup
    m = 200
    boiler = ('общий шаблонный текст страницы каталога номер '
              'один два три четыре пять')
    rows = ([(i, boiler) for i in range(m)]
            + [(1000, 'совсем другой документ про стальные диски '
                      'и крупные заводы области'),
               (1001, 'совсем другой документ про стальные диски '
                      'и крупные цеха области')])
    docs = spark.createDataFrame(rows, 'doc_id long, text string')

    seen = {}
    orig = dedup._pair_jaccard

    def spy(shingles, candidates):
        seen['cands'] = candidates.count()
        return orig(shingles, candidates)

    monkeypatch.setattr(dedup, '_pair_jaccard', spy)
    out = dedup.ngram_jaccard_pairs(docs).collect()
    assert seen['cands'] == 1            # 1 near-dup rep pair
    boiler_pairs = {(r['a'], r['b']) for r in out
                    if r['jaccard_x10000'] == 10000}
    assert len(boiler_pairs) == m * (m - 1) // 2
    near = {(r['a'], r['b']) for r in out
            if r['jaccard_x10000'] < 10000}
    assert near == {(1000, 1001)}

    # rep-level mode: output is linear too (scale recommendation)
    rep_out = dedup.minhash_lsh_pairs(
        docs, threshold_x10000=2000, expand_groups=False).collect()
    assert {(r['a'], r['b']) for r in rep_out} == {(1000, 1001)}


def test_viral_neardup_cluster_candidates_linear(spark, monkeypatch,
                                                 tmp_path):
    """The hot-band-bucket governor: m NEAR-identical copies (same
    boilerplate, a differing trailing token — so exact-first CANNOT
    collapse them) must reach the Jaccard verify stage with O(m)
    candidate pairs (star edges to the bucket-min doc), never
    O(m^2); the verified output must still CONNECT every member (the
    dup_clusters CC path recovers the cluster), lsh_hot_buckets must
    report the governed buckets loudly, and the DuckDB oracle must
    replay the governed candidate set exactly."""
    import duckdb
    import __spark_entry__ as entry_mod
    from yargy_spark.operators import dedup

    m = 200
    base = ('общий шаблонный текст страницы каталога товаров '
            'магазина запчастей номер один два три четыре пять')
    rows = ([(i, '%s метка %d' % (base, i)) for i in range(m)]
            + [(1000, 'совсем другой документ про стальные диски '
                      'и крупные заводы области')])
    docs = spark.createDataFrame(rows, 'doc_id long, text string')

    seen = {}
    orig = dedup._verify_pairs

    def spy(cands, left_rows, right_rows):
        seen['cands'] = cands.count()
        return orig(cands, left_rows, right_rows)

    monkeypatch.setattr(dedup, '_verify_pairs', spy)
    out = dedup.minhash_lsh_pairs(docs).collect()

    # O(m) candidates: ungoverned this corpus emits up to
    # m*(m-1)/2 = 19900 pairs (every doc shares every band bucket);
    # star edges bound it by ~N_BANDS * m before the distinct
    assert seen['cands'] <= 8 * m
    # ...but connectivity survives: every member appears in a
    # verified pair, and one CC over the pairs is the whole cluster
    from yargy_spark.operators.linking import connected_components
    edges = spark.createDataFrame(
        [(r['a'], r['b']) for r in out], 'src long, dst long')
    cc = {r['node']: r['component']
          for r in connected_components(edges).collect()}
    cluster = {cc[i] for i in range(m)}
    assert len(cluster) == 1
    assert 1000 not in cc          # the unrelated doc never pairs

    # the loud counter fires: every band bucket holding the cluster
    # exceeds the cap with the full population
    hot = dedup.lsh_hot_buckets(docs).collect()
    assert hot and all(r['bn'] > dedup.LSH_MAX_BUCKET for r in hot)
    # the differing suffix token perturbs a few bands' minhashes, so
    # the hottest bucket holds MOST (not all) of the cluster
    assert max(r['bn'] for r in hot) > m // 2

    # the SQL twin replays the governed semantics exactly
    path = str(tmp_path / 'documents.parquet')
    docs.toPandas().to_parquet(path)
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM '%s'" % path)
    oracle = {(r[0], r[1], r[2]) for r in con.execute(
        entry_mod.oracle_sql()['minhash_lsh_dups']).fetchall()}
    got = {(r['a'], r['b'], r['jaccard_x10000']) for r in out}
    assert got == oracle


def test_neardup_oracle_replays_duplicates(spark, tmp_path):
    """The DuckDB oracle must replay dedup-first semantics on a corpus
    that CONTAINS exact duplicates (the sf gate corpora have none, so
    this divergence would otherwise stay latent)."""
    import duckdb
    import __spark_entry__ as entry_mod
    from yargy_spark.operators.dedup import ngram_jaccard_pairs

    rows = [
        (1, 'общий шаблонный текст страницы каталога номер один'),
        (2, 'общий шаблонный текст страницы каталога номер один'),
        (7, 'общий шаблонный текст страницы каталога номер один'),
        (3, 'совсем другой документ про стальные диски и заводы'),
        (4, 'совсем другой документ про стальные диски и цеха'),
        (5, 'пустой'),       # < k words: never pairs
        (6, 'пустой'),
    ]
    docs = spark.createDataFrame(rows, 'doc_id long, text string')
    got = {(r['a'], r['b'], r['jaccard_x10000'])
           for r in ngram_jaccard_pairs(docs).collect()}

    path = str(tmp_path / 'documents.parquet')
    docs.toPandas().to_parquet(path)
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM '%s'" % path)
    oracle = {(r[0], r[1], r[2]) for r in con.execute(
        entry_mod.oracle_sql()['ngram_jaccard_dups']).fetchall()}
    assert got == oracle
    # sanity on content: all boilerplate member pairs + the near pair
    assert (1, 2, 10000) in got and (2, 7, 10000) in got \
        and (1, 7, 10000) in got
    assert any(a == 3 and b == 4 for a, b, _ in got)
    assert not any(a == 5 or b == 6 for a, b, _ in got)


def test_dup_clusters_composition(spark, docs):
    """minhash pairs -> connected components: members of a returned
    cluster are mutually reachable, cluster_id is the min member, and
    every pair endpoint lands in one cluster."""
    from yargy_spark.operators.dedup import minhash_lsh_pairs
    from yargy_spark.operators.linking import connected_components
    from pyspark.sql import functions as F
    pairs = minhash_lsh_pairs(docs).persist()
    cc = connected_components(
        pairs.select(F.col('a').alias('src'),
                     F.col('b').alias('dst'))).persist()
    comp = {r['node']: r['component'] for r in cc.collect()}
    if comp:  # sf0.001 may have few dups; property still must hold
        # cluster id is the min member id
        by = {}
        for n, c in comp.items():
            by.setdefault(c, []).append(n)
        for c, members in by.items():
            assert c == min(members)
        # both endpoints of every edge share a cluster
        for r in pairs.collect():
            assert comp[r['a']] == comp[r['b']]
    pairs.unpersist(); cc.unpersist()
