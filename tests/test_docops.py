"""Training-data operator tests over the provided sf0.001 tables:
dedup (exact / jaccard / minhash / simhash), text stats.

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


def test_paragraph_dedup_semantics(spark):
    """Keeper = lowest (doc_id, pos) corpus-wide; within-doc repeats
    drop too; order is preserved; line-less docs keep an empty row;
    token totals are conserved (kept + dropped = non-empty lines)."""
    from yargy_spark.operators.dedup import paragraph_dedup
    rows = [
        (1, 'alpha\nshared line\nbeta\nshared line'),
        (2, 'shared line\ngamma'),
        (3, '\n\n'),
        (4, 'Shared   LINE\ndelta'),     # normalized match drops too
    ]
    df = spark.createDataFrame(rows, 'doc_id long, text string')
    got = {r['doc_id']: r for r in paragraph_dedup(df).collect()}
    assert got[1]['clean_text'] == 'alpha\nshared line\nbeta'
    assert (got[1]['n_kept'], got[1]['n_dropped']) == (3, 1)
    assert got[2]['clean_text'] == 'gamma'
    assert got[3]['clean_text'] == '' and got[3]['n_kept'] == 0
    assert got[4]['clean_text'] == 'delta'
    assert len(got) == 4


def test_dup_spans_and_rare_tokens(spark):
    """dup_span_scores: positional 8-gram occurrences count — a doc
    repeating its own 8-gram flags without any other doc; short docs
    score 0/0/0.  rare_token_scores: document frequency decides
    rarity (within-doc repeats don't inflate df)."""
    from yargy_spark.operators.dedup import dup_span_scores
    from yargy_spark.operators.textstats import rare_token_scores
    eight = 'w1 w2 w3 w4 w5 w6 w7 w8'
    rows = [
        (1, eight),                        # one gram, shared with 2
        (2, eight + ' tail'),              # grams: [eight, w2..tail]
        (3, eight + ' ' + eight),          # self-repeat inside one doc
        (4, 'too short'),
    ]
    df = spark.createDataFrame(rows, 'doc_id long, text string')
    got = {r['doc_id']: (r['n_grams'], r['n_dup_grams'],
                         r['dup_gram_ratio_x10000'])
           for r in dup_span_scores(df).collect()}
    assert got[4] == (0, 0, 0)
    assert got[1] == (1, 1, 10000)         # duplicated in docs 2, 3
    assert got[2][0] == 2 and got[2][1] >= 1
    # doc 3: 9 grams; 'w1..w8' occurs at pos 1 and 9 -> both flagged
    assert got[3][0] == 9 and got[3][1] >= 2

    rt = {r['doc_id']: (r['n_tokens'], r['n_rare'])
          for r in rare_token_scores(spark.createDataFrame(
              [(1, 'common common unique'),
               (2, 'common other'),
               (3, 'common третий'),
               (4, '')],
              'doc_id long, text string'), rare_df=1).collect()}
    # 'common' df=3 (within-doc repeat doesn't inflate df);
    # 'unique'/'other'/'третий' df=1 -> rare
    assert rt[1] == (3, 1)
    assert rt[2] == (2, 1)
    assert rt[3] == (2, 1)
    assert rt[4] == (0, 0)


def test_remove_dup_spans_keep_first(spark):
    """The corpus-first occurrence of a duplicated 8-gram survives;
    later occurrences lose exactly the covered tokens; unique text
    is untouched; empty docs stay empty rows."""
    from yargy_spark.operators.dedup import remove_dup_spans
    eight = 'w1 w2 w3 w4 w5 w6 w7 w8'
    rows = [
        (1, 'intro ' + eight + ' outro'),
        (2, eight + ' unique tail here'),
        (3, ''),
        (4, 'totally unique words nothing shared at all right here'),
    ]
    df = spark.createDataFrame(rows, 'doc_id long, text string')
    got = {r['doc_id']: r for r in remove_dup_spans(df).collect()}
    # doc 1 holds the keeper (slot 1*2^20+2 < 2*2^20+1): intact
    assert got[1]['clean_text'] == 'intro ' + eight + ' outro'
    assert got[1]['n_removed'] == 0
    # doc 2 loses the 8 covered tokens, keeps its unique tail
    assert got[2]['clean_text'] == 'unique tail here'
    assert (got[2]['n_tokens'], got[2]['n_removed']) == (11, 8)
    assert got[3]['clean_text'] == '' and got[3]['n_tokens'] == 0
    assert got[4]['n_removed'] == 0


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


def test_simhash_stability(spark, docs):
    from yargy_spark.operators.dedup import simhash_docs
    a = {(r['doc_id'], r['simhash'])
         for r in simhash_docs(docs).collect()}
    b = {(r['doc_id'], r['simhash'])
         for r in simhash_docs(docs).collect()}
    assert a == b and len(a) == docs.count()


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


def test_clean_corpus_composition(spark, tmp_path):
    """clean_corpus = quality gate -> exact dedup -> near-dup pruning
    (greater-id of each verified pair dropped), and its DuckDB oracle
    replays the identical composition."""
    import duckdb
    import __spark_entry__ as entry_mod
    from yargy_spark.operators.dedup import clean_corpus

    boiler = ('общий шаблонный текст страницы каталога интернет '
              'магазина автозапчастей номер один сегодня')
    near_a = ('совсем другой документ про стальные диски заводы '
              'цеха станки оборудование металл')
    near_b = near_a.rsplit(' ', 1)[0] + ' прокат'
    uniq = ('ещё один совершенно независимый документ про погоду '
            'море горы и путешествия летом')
    rows = [
        (10, boiler, 'ru', 'web'),   # exact trio: min id survives
        (11, boiler, 'ru', 'web'),
        (12, boiler, 'ru', 'crawl'),
        (20, near_a, 'ru', 'web'),   # near pair: 20 kept, 21 dropped
        (21, near_b, 'ru', 'web'),
        (30, 'короткий', 'ru', 'web'),   # fails the quality gate
        (40, uniq, 'ru', 'books'),
    ]
    docs = spark.createDataFrame(
        rows, 'doc_id long, text string, lang string, source string')
    got = {(r['doc_id'], r['lang'], r['source'])
           for r in clean_corpus(
               docs, meta_cols=('lang', 'source')).collect()}
    assert got == {(10, 'ru', 'web'), (20, 'ru', 'web'),
                   (40, 'ru', 'books')}
    # schema-generic default: a bare (doc_id, text) frame works and
    # returns retained ids only
    bare = {r['doc_id'] for r in
            clean_corpus(docs.select('doc_id', 'text')).collect()}
    assert bare == {10, 20, 40}

    path = str(tmp_path / 'documents.parquet')
    docs.toPandas().to_parquet(path)
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM '%s'" % path)
    oracle = {(r[0], r[1], r[2]) for r in con.execute(
        entry_mod.oracle_sql()['clean_corpus']).fetchall()}
    assert got == oracle


def test_simhash_banding_full_recall(spark, docs):
    """Pigeonhole guarantee: with 4 bands, every pair within Hamming
    distance 2 shares at least one band — the banded join must equal
    brute force exactly (unlike MinHash banding, no probabilistic
    miss)."""
    import itertools
    from yargy_spark.operators.dedup import (simhash_docs,
                                             simhash_dup_pairs)
    got = {(r['a'], r['b']): r['hamming']
           for r in simhash_dup_pairs(docs, max_hamming=2).collect()}
    hs = {r['doc_id']: r['simhash']
          for r in simhash_docs(docs).collect()}
    brute = {}
    for a, b in itertools.combinations(sorted(hs), 2):
        d = bin(hs[a] ^ hs[b]).count('1')
        if d <= 2:
            brute[(a, b)] = d
    assert got == brute and len(got) > 0


def test_simhash_pairs_expand_exact_copies(spark):
    """Exact copies collapse before banding and re-expand at
    hamming 0."""
    from yargy_spark.operators.dedup import simhash_dup_pairs
    rows = [(1, 'текст про стальные диски и заводы области'),
            (2, 'текст про стальные диски и заводы области'),
            (3, 'совсем иной разговор о погоде и природе')]
    docs = spark.createDataFrame(rows, 'doc_id long, text string')
    got = {(r['a'], r['b']): r['hamming']
           for r in simhash_dup_pairs(docs).collect()}
    assert got.get((1, 2)) == 0
    assert all(a != 3 and b != 3 for a, b in got)


def test_quality_and_tokens(spark, docs):
    from yargy_spark.operators.textstats import (quality_scores,
                                                 token_counts)
    q = quality_scores(docs).collect()
    assert all(0 <= r['punct_ratio_x10000'] <= 10000 for r in q)
    t = {r['doc_id']: r for r in token_counts(docs).collect()}
    assert all(r['re_tokens'] >= r['ws_tokens'] > 0
               for r in t.values())


def test_repetition_scores(spark):
    """Gopher repetition filters, hand-computed goldens:
    duplicate-line and duplicate-line-char fractions from the sorted
    run-length scan, the (overlap-counting) top-2gram char share, and
    the >= 20-word guard on the drop flag."""
    from yargy_spark.operators.textstats import repetition_scores
    rows = [
        # 4 lines, 'aaa' twice: dup 1/4; dup chars 6/12; top 2-gram
        # 'aaa bbb' (1 of 3, 7 chars over 15); 4 words -> flag 0
        (1, 'aaa\nbbb\naaa\nccc'),
        # one line, overlapping 'spam spam' x3: 3*9/19 > 1.0 -> the
        # share legitimately exceeds 10000 on degenerate docs
        (2, 'spam spam spam spam'),
        # 25 repeated words: flag trips via the 2-gram share
        (3, ('ля ' * 25).strip()),
        (4, ''),
    ]
    df = spark.createDataFrame(rows, 'doc_id long, text string')
    got = {r['doc_id']: (r['dup_line_ratio_x10000'],
                         r['dup_line_char_ratio_x10000'],
                         r['top_2gram_char_ratio_x10000'],
                         r['repetitive'])
           for r in repetition_scores(df).collect()}
    assert got[1] == (2500, 5000, 4666, 0)
    assert got[2] == (0, 0, 14210, 0)
    assert got[3] == (0, 0, 16216, 1)
    assert got[4] == (0, 0, 0, 0)


def test_textstats_whitespace_and_degenerate(spark):
    """Regressions: newline/tab-separated documents are real prose
    (not punctuation, not one-word docs); Russian text has word-level
    regex tokens, not per-character; empty and null text degrade to
    zeros, never to off-by-ones or NULL keep flags."""
    from yargy_spark.operators.textstats import (lang_id,
                                                 quality_scores,
                                                 token_counts)
    nl_doc = ('хорошее предложение про важные вещи\n' * 5
              + 'и ещё немного длинного связного текста здесь')
    df = spark.createDataFrame(
        [(1, nl_doc),
         (2, 'привет мир'),
         (3, ''),
         (4, None),
         (5, 'the\ncat\nis\non\nthe\nmat and the dog is here too')],
        'doc_id long, text string')

    q = {r['doc_id']: r for r in quality_scores(df).collect()}
    assert q[1]['n_words'] >= 30          # not collapsed to 1
    assert q[1]['punct_ratio_x10000'] == 0  # newlines != punctuation
    assert q[1]['keep'] == 1
    assert q[4]['keep'] == 0              # null text: 0, never NULL

    t = {r['doc_id']: r for r in token_counts(df).collect()}
    assert t[3]['ws_tokens'] == 0         # empty: no phantom token
    assert t[1]['ws_tokens'] >= 30
    # Cyrillic runs are single tokens, not one per character
    assert t[2]['re_tokens'] == 2
    assert t[1]['re_tokens'] < len(nl_doc) // 2

    langs = {r['doc_id']: r['detected_lang']
             for r in lang_id(df).collect()}
    assert langs[1] == 'ru'
    assert langs[5] == 'en'               # newline-separated English


def test_quality_scores_unicode(spark):
    """Regression: non-Latin text must not be scored as punctuation
    (the primary corpus is Russian)."""
    from yargy_spark.operators.textstats import quality_scores
    ru = ('пользователь задал длинный вопрос о статусе заявки и '
          'попросил уточнить сроки обработки документов в ближайшие '
          'рабочие дни')
    df = spark.createDataFrame([(1, ru)], 'doc_id long, text string')
    row = quality_scores(df).collect()[0]
    assert row['punct_ratio_x10000'] == 0
    assert row['keep'] == 1


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


def test_decontaminate_flags_overlap_and_stays_broadcast(spark):
    """A training doc sharing >=min_hits shingles with an eval doc is
    flagged with the exact hit count; disjoint docs are not; the eval
    side must enter as a broadcast (no corpus-side shuffle join)."""
    from yargy_spark.operators.dedup import decontaminate
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, 'doc_id long, text string')
    train = mk([
        (1, 'alpha beta gamma delta epsilon'),   # 2 shared 3-grams
        (2, 'alpha beta gamma zeta eta'),        # 1 shared 3-gram
        (3, 'completely different words here'),  # none
    ])
    ev = mk([(100, 'alpha beta gamma delta epsilon theta')])
    got = {(r['doc_id'], r['eval_id']): r['n_hits']
           for r in decontaminate(train, ev, k=3, min_hits=2).collect()}
    # doc 1 shares 'alpha beta gamma','beta gamma delta','gamma delta
    # epsilon' = 3 hits; doc 2 only 'alpha beta gamma'; doc 3 nothing
    assert got == {(1, 100): 3}
    one = {(r['doc_id'], r['eval_id']): r['n_hits']
           for r in decontaminate(train, ev, k=3, min_hits=1).collect()}
    assert one == {(1, 100): 3, (2, 100): 1}
    plan = decontaminate(train, ev)._jdf \
        .queryExecution().executedPlan().toString()
    assert 'BroadcastHashJoin' in plan and 'SortMergeJoin' not in plan
    import pytest as _pt
    with _pt.raises(ValueError):
        decontaminate(train, ev, min_hits=0)


def test_decontaminate_clean_corpus_is_empty(spark, docs):
    """An eval set with no lexical overlap yields zero pairs."""
    from yargy_spark.operators.dedup import decontaminate
    ev = spark.createDataFrame(
        [(999999, 'zzz yyy xxx www vvv uuu')],
        'doc_id long, text string')
    assert decontaminate(docs, ev, k=3, min_hits=1).count() == 0


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


def test_pii_scrub_redaction(spark):
    """Emails redact before phones (an address's digits must not be
    half-eaten), counts come from the same strings the replacements
    see, and PII-free text passes through byte-identical."""
    from yargy_spark.operators.textstats import pii_scrub
    rows = [
        (1, 'contact me at john.doe@example.com or call '
            '+7 (495) 123-45-67 today'),
        (2, 'two mails: a@b.io and c.d@e.org; fax 84951234567'),
        (3, 'no pii here, just words'),
        (4, None),
        # formatted money, space-grouped IDs and ISO dates must
        # SURVIVE (round-3 VERDICT: the old pattern ate '1 500 000')
        (5, 'цена выросла до 1 500 000 $ или 12 500 000 руб'),
        (6, 'invoice 2026-08-18 for 10 000 units, ref 1234-5678'),
        # ...while hyphen-grouped and paren-anchored phones redact
        (7, 'call 555-123-4567 or 8 (916) 123-45-67 now'),
        (8, 'тел 495-123-45-67, добавочный 12'),
    ]
    df = spark.createDataFrame(rows, 'doc_id long, text string')
    got = {r['doc_id']: (r['n_emails'], r['n_phones'],
                         r['clean_text'])
           for r in pii_scrub(df).collect()}
    assert got[1] == (1, 1,
                      'contact me at <EMAIL> or call <PHONE> today')
    assert got[2] == (2, 1, 'two mails: <EMAIL> and <EMAIL>; '
                            'fax <PHONE>')
    assert got[3] == (0, 0, 'no pii here, just words')
    assert got[4] == (0, 0, '')
    assert got[5] == (0, 0,
                      'цена выросла до 1 500 000 $ или 12 500 000 руб')
    assert got[6] == (0, 0,
                      'invoice 2026-08-18 for 10 000 units, '
                      'ref 1234-5678')
    assert got[7] == (0, 2, 'call <PHONE> or 8 <PHONE> now')
    assert got[8] == (0, 1, 'тел <PHONE>, добавочный 12')


def test_filter_corpus_one_pass(spark, docs):
    """The composed quality -> repetition -> PII chain stays ONE
    map-only projection (no Exchange in the executed plan over a
    parquet scan), and each stage actually drops/redacts."""
    from yargy_spark.operators.textstats import filter_corpus
    plan = (filter_corpus(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert 'Exchange' not in plan

    rows = [
        # survives quality and repetition; email gets redacted
        (1, 'please write to support at team dot example dot com '
            'or email me directly at help.desk@example.com '
            'whenever anything breaks'),
        (2, ('ля ' * 25).strip()),     # repetitive: dropped
        (3, 'короткий'),               # fails the quality gate
    ]
    df = spark.createDataFrame(rows, 'doc_id long, text string')
    got = {r['doc_id']: (r['n_emails'], r['clean_text'])
           for r in filter_corpus(df).collect()}
    assert set(got) == {1}
    assert got[1][0] == 1 and '<EMAIL>' in got[1][1]
    assert 'help.desk' not in got[1][1]


def test_repetition_scores_randomized_reference(spark):
    """300 seeded random documents (newlines, runs of repeated words,
    degenerate whitespace) cross-checked against an independent
    pure-Python reference of the three repetition metrics — the
    in-array run-length scans must agree everywhere, not just on the
    hand-picked goldens.  Mirrors Spark's exact semantics: F.trim
    strips SPACES only, split('\\s+') keeps a leading empty token."""
    import math
    import random
    import re
    from collections import Counter
    from yargy_spark.operators.textstats import repetition_scores

    rng = random.Random(20260817)
    vocab = ['ля', 'тра', 'слово', 'aaa', 'b', 'длинное']

    def gen_doc():
        n_lines = rng.randint(0, 6)
        lines = []
        for _ in range(n_lines):
            n_words = rng.randint(0, 12)
            words = [rng.choice(vocab) for _ in range(n_words)]
            if words and rng.random() < 0.5:  # repetition bursts
                words += [words[-1]] * rng.randint(0, 10)
            lines.append(' '.join(words))
        if lines and rng.random() < 0.4:      # duplicate whole lines
            lines += [rng.choice(lines)] * rng.randint(1, 3)
        return '\n'.join(lines)

    def ref(text):
        lines = [l.strip(' ') for l in (text or '').split('\n')]
        lines = [l for l in lines if l]
        lc = Counter(lines)
        n_l, tot = len(lines), sum(len(l) for l in lines)
        dup = n_l - len(lc)
        dupch = sum(c * len(l) for l, c in lc.items() if c > 1)
        dl = math.floor(10000.0 * dup / n_l) if n_l else 0
        dc = math.floor(10000.0 * dupch / tot) if n_l else 0
        words = re.split(r'\s+', (text or '').lower().strip(' '))
        grams = [words[i] + ' ' + words[i + 1]
                 for i in range(len(words) - 1)]
        if grams:
            gc = Counter(grams)
            best = max(gc.values())
            g = min(x for x, c in gc.items() if c == best)
            tg = math.floor(10000.0 * best * len(g)
                            / len(' '.join(words)))
        else:
            tg = 0
        flag = int(len(words) >= 20
                   and (dl > 3000 or dc > 3000 or tg > 2000))
        return (dl, dc, tg, flag)

    docs = [(i, gen_doc()) for i in range(300)]
    df = spark.createDataFrame(docs, 'doc_id long, text string')
    got = {r['doc_id']: (r['dup_line_ratio_x10000'],
                         r['dup_line_char_ratio_x10000'],
                         r['top_2gram_char_ratio_x10000'],
                         r['repetitive'])
           for r in repetition_scores(df).collect()}
    for i, text in docs:
        assert got[i] == ref(text), (i, repr(text), got[i], ref(text))


def test_pii_scrub_randomized_reference(spark):
    """200 seeded random documents with embedded emails, phones and
    near-miss tokens, cross-checked against Python's re module — a
    THIRD regex engine agreeing with the Java-regex (Spark) and RE2
    (DuckDB oracle) implementations on counts and scrubbed text."""
    import random
    import re
    from yargy_spark.operators.textstats import (
        EMAIL_PATTERN, PHONE_ANCHORED_PATTERN, PHONE_GROUPED_PATTERN,
        pii_scrub)
    rng = random.Random(20260818)
    fill = ['привет', 'data', 'про', 'order', 'сегодня']
    piis = [
        lambda: '%s.%s@%s.%s' % (rng.choice(fill), rng.choice(fill),
                                 rng.choice(['mail', 'ex-a.b']),
                                 rng.choice(['com', 'io', 'org'])),
        lambda: '+7 (4%d5) 123-45-6%d' % (rng.randint(0, 9),
                                          rng.randint(0, 9)),
        lambda: '8%d951234567' % rng.randint(0, 9),
        lambda: '(9%d6) 123-45-6%d' % (rng.randint(0, 9),
                                       rng.randint(0, 9)),
        lambda: '555-12%d-456%d' % (rng.randint(0, 9),
                                    rng.randint(0, 9)),
        lambda: '49%d-123-45-67' % rng.randint(0, 9),
        # near-misses: too short / no TLD / trailing letters
        lambda: 'a@b', lambda: '12-34', lambda: 'x@y.z',
        lambda: '%d-%d' % (rng.randint(10, 99), rng.randint(10, 99)),
        # must-survive shapes: money, space-grouped ids, ISO dates
        lambda: '%d 500 000' % rng.randint(1, 9),
        lambda: '12 %d00 000 руб' % rng.randint(1, 9),
        lambda: '20%d6-08-1%d' % (rng.randint(0, 9),
                                  rng.randint(0, 9)),
        lambda: '123%d-567%d' % (rng.randint(0, 9),
                                 rng.randint(0, 9)),
    ]

    def gen_doc():
        toks = [rng.choice(fill) if rng.random() < 0.7
                else rng.choice(piis)()
                for _ in range(rng.randint(0, 14))]
        return ' '.join(toks)

    def ref(text):
        t = text or ''
        n_e = len(re.findall(EMAIL_PATTERN, t))
        t1 = re.sub(EMAIL_PATTERN, '<EMAIL>', t)
        n_a = len(re.findall(PHONE_ANCHORED_PATTERN, t1))
        t2 = re.sub(PHONE_ANCHORED_PATTERN, '<PHONE>', t1)
        n_g = len(re.findall(PHONE_GROUPED_PATTERN, t2))
        return (n_e, n_a + n_g, re.sub(PHONE_GROUPED_PATTERN,
                                       '<PHONE>', t2))

    docs = [(i, gen_doc()) for i in range(200)]
    df = spark.createDataFrame(docs, 'doc_id long, text string')
    got = {r['doc_id']: (r['n_emails'], r['n_phones'], r['clean_text'])
           for r in pii_scrub(df).collect()}
    for i, text in docs:
        assert got[i] == ref(text), (i, repr(text), got[i], ref(text))
    assert any(got[i][0] > 0 for i, _ in docs)    # fixtures fired
    assert any(got[i][1] > 0 for i, _ in docs)


def test_corpus_vocabulary_feeds_filtered_dictionary(spark):
    """The loop the scale docs describe: extract the corpus
    vocabulary with the Spark operator, load ONLY those rows of the
    dictionary via Morphology.from_parquet(words=...), and the
    filtered dictionary analyzes corpus words exactly like the full
    load does."""
    from importlib import resources
    from yargy_spark.kernel.morphology import Morphology
    from yargy_spark.operators.textstats import corpus_vocabulary
    from yargy_spark.sources.transcripts import golden_only_transcripts

    t = golden_only_transcripts(spark)
    vocab = sorted(r['word'] for r in corpus_vocabulary(t).collect())
    assert 'ульянов' in vocab and len(vocab) > 20

    data = resources.files('yargy_spark') / 'data'
    with resources.as_file(data / 'lexicon_entries.parquet') as ep, \
            resources.as_file(data / 'lexicon_paradigms.parquet') as pp:
        full = Morphology.from_parquet(str(ep), str(pp))
        small = Morphology.from_parquet(str(ep), str(pp), words=vocab)
    # filtered load: strictly smaller, identical analyses for every
    # corpus word the dictionary knows
    assert len(small.entries) < len(full.entries)
    indict = [w for w in vocab if w in full.entries]
    assert 'ульянов' in indict
    for w in indict:
        assert [(f.lemma, sorted(f.grams)) for f in small(w)] == \
            [(f.lemma, sorted(f.grams)) for f in full(w)], w
    # OOV words: the suffix predictor derives from the LOADED entries,
    # so predictions may legitimately differ from the full build —
    # the filtered analyzer must still answer every corpus word
    for w in vocab:
        assert small(w), w


def test_dedup_rewrites_randomized_reference(spark):
    """150 seeded random documents (shared boilerplate lines, shared
    8-gram spans, unique filler, empty docs) checked against
    independent pure-Python implementations of paragraph_dedup and
    remove_dup_spans — a third engine beside Spark and the DuckDB
    oracle, catching bugs both could share."""
    import random
    from yargy_spark.operators.dedup import (paragraph_dedup,
                                             remove_dup_spans)

    rng = random.Random(20260818)
    vocab = ['w%d' % i for i in range(120)]
    boiler_lines = [' '.join(rng.choices(vocab, k=rng.randint(3, 7)))
                    for _ in range(6)]
    span8 = [' '.join(rng.choices(vocab, k=8)) for _ in range(4)]
    rows = []
    for i in range(150):
        if rng.random() < 0.05:
            rows.append((i, ''))
            continue
        lines = []
        for _ in range(rng.randint(1, 5)):
            r = rng.random()
            if r < 0.25:
                lines.append(rng.choice(boiler_lines))
            elif r < 0.45:
                lines.append(rng.choice(span8) + ' ' + ' '.join(
                    rng.choices(vocab, k=rng.randint(0, 4))))
            else:
                lines.append(' '.join(
                    rng.choices(vocab, k=rng.randint(1, 12))))
        rows.append((i, '\n'.join(lines)))
    df = spark.createDataFrame(rows, 'doc_id long, text string')

    # --- paragraph_dedup reference -------------------------------
    def norm(s):
        return ' '.join(s.lower().split())

    keeper = {}
    for doc_id, text in rows:
        for pos, line in enumerate(text.split('\n')):
            if not line.strip():
                continue
            key = norm(line)
            slot = doc_id * 1048576 + pos
            if key not in keeper or slot < keeper[key]:
                keeper[key] = slot
    expect_para = {}
    for doc_id, text in rows:
        kept, dropped = [], 0
        for pos, line in enumerate(text.split('\n')):
            if not line.strip():
                continue
            if keeper[norm(line)] == doc_id * 1048576 + pos:
                kept.append(line)
            else:
                dropped += 1
        expect_para[doc_id] = ('\n'.join(kept), len(kept), dropped)
    got = {r['doc_id']: (r['clean_text'], r['n_kept'], r['n_dropped'])
           for r in paragraph_dedup(df).collect()}
    assert got == expect_para

    # --- remove_dup_spans reference ------------------------------
    grams = {}
    doc_words = {}
    for doc_id, text in rows:
        words = norm(text).split() if norm(text) else []
        doc_words[doc_id] = words
        for i in range(len(words) - 7):
            g = ' '.join(words[i:i + 8])
            grams.setdefault(g, []).append(doc_id * 1048576 + i + 1)
    expect_spans = {}
    for doc_id, words in doc_words.items():
        marked = set()
        for i in range(len(words) - 7):
            g = ' '.join(words[i:i + 8])
            slots = grams[g]
            slot = doc_id * 1048576 + i + 1
            if len(slots) > 1 and slot != min(slots):
                marked.update(range(i, i + 8))
        kept = [w for j, w in enumerate(words) if j not in marked]
        expect_spans[doc_id] = (' '.join(kept), len(words),
                                len(words) - len(kept))
    got2 = {r['doc_id']: (r['clean_text'], r['n_tokens'],
                          r['n_removed'])
            for r in remove_dup_spans(df).collect()}
    assert got2 == expect_spans
