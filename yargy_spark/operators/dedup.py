"""Deduplication operators over a document corpus.

Three dedup families, all expressed with built-in Spark SQL functions
(JVM-side, whole-stage codegen — no Python in the data path):

  * exact           — hash-groupBy on normalized text
  * n-gram Jaccard  — word-shingle set-similarity join (exact baseline)
  * MinHash + LSH   — shingle -> K minhashes -> banded buckets ->
                      candidate pairs -> exact-Jaccard verify

Cross-engine determinism: every hash bottoms out in
``conv(substr(md5(x),1,15),16,10)`` (60-bit int), reproducible in any
SQL engine, so a DuckDB oracle can replay the exact computation.
Ratios are scaled to integers (x10000) to avoid float hashing skew.

Scale notes (100 TB): the shingle self-join prunes "stop shingles"
with document frequency above ``max_df`` before pairing (candidate
recall loss only for pairs sharing exclusively ultra-common shingles);
MinHash/LSH replaces the quadratic join with banded bucketing; both
shuffles key on shingle/bucket ids which salt naturally via banding.
"""

from __future__ import annotations

from typing import Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# fixed MinHash family: h_i(x) = (a_i * x31 + b_i) mod M, M = 2^31-1.
# x31 < 2^31 and a_i < 2^31 keep the product under 2^62 (no ANSI
# overflow in either engine).  16 functions = 8 bands x 2 rows.
MERSENNE = 2_147_483_647
HASH_FAMILY = [
    (1_103_515_245, 12_345), (1_566_083_941, 54_321),
    (1_812_433_253, 29_573), (1_664_525, 1_013_904_223),
    (22_695_477, 1), (134_775_813, 10_013),
    (214_013, 2_531_011), (69_069, 362_437),
    (1_103_515_247, 98_765), (1_566_083_943, 11_111),
    (1_812_433_255, 77_777), (1_664_527, 33_533),
    (22_695_479, 2_222), (134_775_815, 4_444),
    (214_015, 8_888), (69_071, 16_161),
]
N_BANDS, ROWS_PER_BAND = 8, 2
# 8 bands x 2 rows puts the LSH S-curve midpoint at (1/8)^(1/2)≈0.35:
# P(candidate) at Jaccard j is 1-(1-j^2)^8 (j=0.35 -> ~0.65,
# j=0.5 -> ~0.90, j=0.7 -> ~0.997).  The default verify threshold
# sits at that midpoint so pairs the banding reliably surfaces are
# the pairs the operator claims; ngram_jaccard_pairs is the exact
# (full-recall) baseline for lower thresholds.
LSH_DEFAULT_THRESHOLD = 3500
# hot-band-bucket governor: a band bucket with more than this many
# representatives emits STAR edges to the bucket-min doc instead of
# all pairs (see _band_candidates).  Exact-first collapse already
# removes identical-text clusters; what this bounds is the
# NEAR-identical viral cluster (10^5 copies differing by a timestamp)
# that would otherwise produce O(cluster^2) candidate rows.
LSH_MAX_BUCKET = 64


def _norm_text(col):
    return F.regexp_replace(F.trim(F.lower(col)), r'\s+', ' ')


def md5_int(col):
    """Portable 60-bit integer hash (md5 hex prefix)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast('long')


def content_stamp(docs: DataFrame) -> Tuple[int, str]:
    """-> (document count, deterministic content stamp) of a (doc_id,
    text) table, one aggregation.  The stamp is
    ``'<count>:<id sum>:<id max>:<text hash sum>'``.
    The text enters as an order-independent sum of content hashes, so
    re-extracted text under unchanged doc_ids changes the stamp; each
    hash is reduced mod ``MERSENNE`` before summing, so ANSI sum
    cannot overflow below ~2^32-doc tables."""
    row = docs.agg(F.count('*').alias('n'),
                   F.sum('doc_id').alias('s'),
                   F.max('doc_id').alias('m'),
                   F.sum(md5_int(F.col('text')) % F.lit(MERSENNE))
                   .alias('t')).collect()[0]
    return row['n'], '%s:%s:%s:%s' % (row['n'], row['s'], row['m'],
                                      row['t'])


def word_shingles(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct word k-grams of the normalized text.

    Per-doc dedup happens MAP-SIDE via ``array_distinct`` before the
    explode — a doc's shingles all live in its own row, so a
    ``.distinct()`` here would shuffle the entire (doc_id, shingle)
    stream just to remove within-row repeats.  Dropping it removes
    one full-corpus Exchange from every shingle consumer (minhash,
    n-gram Jaccard).

    Contract: one row per ``doc_id`` (the standard row-identity
    contract).  A doc_id appearing in several input rows emits its
    shingles once PER ROW, inflating consumers that count per-doc
    shingles (the n-gram Jaccard set sizes) — run
    ``exact_dedup``/key-dedup upstream on dirty re-ingested
    corpora."""
    arr = F.split(_norm_text(F.col('text')), ' ')
    # guard: sequence(1, 0) would generate a DESCENDING [1, 0] in Spark
    grams = F.expr(
        "CASE WHEN size(words) >= {k} THEN "
        "transform(sequence(1, size(words) - {k} + 1), "
        "i -> concat_ws(' ', slice(words, i, {k}))) "
        "ELSE array() END".format(k=k))
    return (docs
            .select('doc_id', arr.alias('words'))
            .select('doc_id',
                    F.explode(F.array_distinct(grams))
                    .alias('shingle')))


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup on normalized text: one representative
    (min doc_id) per distinct text + group size.

    The group key is (hash, normalized text), not the hash alone —
    the same birthday-collision guard as ``_exact_groups``: at the
    10^9-doc design point a 60-bit collision merging two DISTINCT
    texts is plausible (~50% at ~1.3e9 texts) and would silently
    fold one text's documents into the other's group.  The hash is a
    shuffle-balancing prefix; equality is decided on the text."""
    norm = _norm_text(F.col('text'))
    return (docs
            .select('doc_id', md5_int(norm).alias('text_hash'),
                    norm.alias('_norm'))
            .groupBy('text_hash', '_norm')
            .agg(F.min('doc_id').alias('rep_id'),
                 F.count('*').alias('group_size'))
            .select('rep_id', 'group_size'))


def _pair_jaccard(shingles: DataFrame, candidates: DataFrame
                  ) -> DataFrame:
    """Exact Jaccard for candidate (a, b) pairs given the shingle
    table; returns (a, b, jaccard_x10000).

    Joins candidates against per-doc shingle-HASH arrays (one row per
    doc, 60-bit ints so array rows stay ~8 B/shingle through the
    second join's shuffle) and intersects with ``array_intersect``
    inside codegen — two equi-joins of |candidates| rows, instead of
    exploding each pair into its |shingles(a)| shingle rows (~50x the
    shuffle volume; measured 2x end-to-end, ~5x on the verify stage).
    Hash collisions within one document pair are ~|shingles|²/2^61 —
    negligible vs the x10000 integer truncation.  Per-doc array state
    is bounded by document length; docs with pathological shingle
    counts should be length-capped upstream.
    Skewed hub docs (in many pairs) are handled by AQE skew-join."""
    doc_sets = (shingles
                .select('doc_id',
                        md5_int(F.col('shingle')).alias('hsh'))
                .groupBy('doc_id')
                .agg(F.collect_set('hsh').alias('shs'),
                     F.count('*').alias('sz')))
    return _verify_pairs(candidates, doc_sets, doc_sets)


def _verify_pairs(candidates: DataFrame, sets_a: DataFrame,
                  sets_b: DataFrame) -> DataFrame:
    """Exact Jaccard for (a, b) candidates against two (possibly
    distinct) per-doc (doc_id, shs, sz) set tables — the verify stage
    of ``_pair_jaccard``, factored so incremental dedup can verify a
    new batch against a COMMITTED state table's stored arrays."""
    return (candidates
            .join(sets_a.select(F.col('doc_id').alias('a'),
                                F.col('shs').alias('sh_a'),
                                F.col('sz').alias('sz_a')), 'a')
            .join(sets_b.select(F.col('doc_id').alias('b'),
                                F.col('shs').alias('sh_b'),
                                F.col('sz').alias('sz_b')), 'b')
            .select('a', 'b', 'sz_a', 'sz_b',
                    F.size(F.array_intersect('sh_a', 'sh_b'))
                    .alias('inter'))
            .select('a', 'b',
                    F.floor(F.lit(10000.0) * F.col('inter')
                            / (F.col('sz_a') + F.col('sz_b')
                               - F.col('inter')))
                    .cast('long').alias('jaccard_x10000')))


def _exact_groups(docs: DataFrame) -> tuple:
    """-> (reps, groups): one representative doc per distinct
    normalized text + the (doc_id, rep_id) membership map.

    This is THE near-dup scale guard: real crawl corpora contain
    10^5-copy boilerplate clusters, and m identical docs sharing one
    rare shingle/band would otherwise produce m(m-1)/2 candidate rows
    before dedup.  Collapsing to representatives first makes candidate
    generation O(distinct texts); identical copies rejoin at the end
    via the membership map.

    The window partitions by (text_hash, text), not the hash alone:
    the hash is 60-bit, and at the 10^9-doc design point a birthday
    collision merging two DISTINCT texts into one "exact" group is
    plausible (~50% at ~1.3e9 texts) — it would emit false
    jaccard-10000 pairs and suppress the collided doc's
    real candidates.  Including the text makes the hash a pure
    shuffle-balancing prefix; equality is decided on the text
    itself."""
    from pyspark.sql import Window
    hashed = docs.select(
        'doc_id', 'text',
        md5_int(_norm_text(F.col('text'))).alias('text_hash'))
    w = Window.partitionBy('text_hash', _norm_text(F.col('text')))
    tagged = hashed.withColumn('rep_id', F.min('doc_id').over(w))
    groups = tagged.select('doc_id', 'rep_id')
    reps = (tagged.where(F.col('doc_id') == F.col('rep_id'))
            .select('doc_id', 'text'))
    return reps, groups


def _expand_groups(rep_pairs: DataFrame, groups: DataFrame,
                   reps: DataFrame, k: int) -> DataFrame:
    """Rep-level (a, b, jaccard_x10000) pairs -> member-level pairs,
    plus the within-group pairs of exact copies (jaccard 10000,
    guarded to docs that actually have >= k words so empty-shingle
    docs never pair, matching the verify stage's behavior).

    Within-group pairs ride the SAME two joins as cross-group pairs:
    each eligible rep contributes a reflexive (rep, rep, 10000) row,
    which the member x member expansion turns into that group's pairs
    (the a < b filter drops the self-row) — no separate self-join."""
    self_pairs = (reps
                  .where(F.size(F.split(_norm_text(F.col('text')),
                                        ' ')) >= k)
                  .select(F.col('doc_id').alias('a'),
                          F.col('doc_id').alias('b'),
                          F.lit(10000).cast('long')
                          .alias('jaccard_x10000')))
    all_pairs = rep_pairs.unionByName(self_pairs)
    ga = groups.select(F.col('rep_id').alias('a'),
                       F.col('doc_id').alias('ma'))
    gb = groups.select(F.col('rep_id').alias('b'),
                       F.col('doc_id').alias('mb'))
    return (all_pairs.join(ga, 'a').join(gb, 'b')
            # reflexive rows produce each member pair in BOTH orders;
            # keep one (and drop the ma == mb self-row).  Cross-group
            # rows exist in a single order and pass untouched.
            .where((F.col('a') != F.col('b'))
                   | (F.col('ma') < F.col('mb')))
            .select(F.least('ma', 'mb').alias('a'),
                    F.greatest('ma', 'mb').alias('b'), 'jaccard_x10000'))


def ngram_jaccard_pairs(docs: DataFrame, k: int = 3,
                        threshold_x10000: int = 2000,
                        max_df: int = 100,
                        expand_groups: bool = True) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (a < b).  Exact-duplicate
    texts collapse to representatives BEFORE candidate generation
    (see ``_exact_groups``); candidates then come from a shingle
    equi-join with stop-shingle pruning (df > max_df) over
    representatives only, and Jaccard is verified on the full shingle
    sets.  With ``expand_groups=False`` the result stays at rep level
    (recommended at corpus scale: a 10^5-copy cluster would otherwise
    materialize ~10^10 output rows; join ``exact_dedup`` for the
    membership)."""
    reps, groups = _exact_groups(docs)
    sh = word_shingles(reps, k)
    df_counts = sh.groupBy('shingle').agg(F.count('*').alias('df'))
    rare = sh.join(df_counts.where(F.col('df') <= max_df), 'shingle')
    left = rare.select(F.col('doc_id').alias('a'), 'shingle')
    right = rare.select(F.col('doc_id').alias('b'), 'shingle')
    # count-filter (round 4): the shingle equi-join's output was
    # already being shuffled once for .distinct(); aggregating it to
    # per-pair shared-rare-shingle COUNTS instead costs the same
    # shuffle but yields a PROVABLY SAFE upper bound on Jaccard —
    # inter <= cnt + min(nonrare_a, nonrare_b) (a pair can share at
    # most every df-pruned shingle of its smaller side), so pairs
    # whose bound misses the threshold never reach the array verify.
    # Full recall by construction; on shingle-dense corpora (templated
    # synthetic text, boilerplate) this cuts the verify join from
    # ~half of all pairs to ~the true pairs (measured 37 s -> ~8 s at
    # sf0.1).
    cnt = (left.join(right, 'shingle')
           .where(F.col('a') < F.col('b'))
           .groupBy('a', 'b')
           .agg(F.count('*').alias('cnt')))
    sizes = (sh.groupBy('doc_id')
             .agg(F.count('*').alias('sz'))
             .join(rare.groupBy('doc_id')
                   .agg(F.count('*').alias('rare_sz')), 'doc_id')
             .select('doc_id', 'sz',
                     (F.col('sz') - F.col('rare_sz')).alias('nr')))
    # sizes is rep-bounded (one skinny row per doc) but still
    # corpus-scale — equi-join and let AQE broadcast when it fits
    ub = F.col('cnt') + F.least('nr_a', 'nr_b')
    cands = (cnt
             .join(sizes.select(
                 F.col('doc_id').alias('a'),
                 F.col('sz').alias('sz_a'), F.col('nr').alias('nr_a')),
                 'a')
             .join(sizes.select(
                 F.col('doc_id').alias('b'),
                 F.col('sz').alias('sz_b'), F.col('nr').alias('nr_b')),
                 'b')
             .where(F.floor(F.lit(10000.0) * ub
                            / (F.col('sz_a') + F.col('sz_b') - ub))
                    >= threshold_x10000)
             .select('a', 'b'))
    pairs = _pair_jaccard(sh, cands)
    rep_pairs = (pairs
                 .where(F.col('jaccard_x10000') >= threshold_x10000)
                 .select('a', 'b', 'jaccard_x10000'))
    if not expand_groups:
        return rep_pairs
    return _expand_groups(rep_pairs, groups, reps, k)


def _state_rows(reps: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, sig array<long>[K], shs array<long>, sz) per doc with
    >= k words — the K minhashes AND the hashed shingle set in ONE
    wide aggregation over the shingle stream (map-side partial agg;
    one Exchange serves both the banding and the verify arrays).
    This row is also the incremental-dedup STATE unit: ~8 B/shingle
    + 128 B signature per retained representative."""
    sh = word_shingles(reps, k).select(
        'doc_id', md5_int(F.col('shingle')).alias('hsh'))
    x = F.col('hsh') % MERSENNE
    wide = sh.groupBy('doc_id').agg(
        *([F.min((F.lit(a) * x + F.lit(b)) % MERSENNE).alias('m%d' % i)
           for i, (a, b) in enumerate(HASH_FAMILY)]
          + [F.collect_set('hsh').alias('shs'),
             F.count('*').alias('sz')]))
    arr = F.array(*['m%d' % i for i in range(len(HASH_FAMILY))])
    return wide.select('doc_id', arr.alias('sig'), 'shs', 'sz')


def _sig_bands(sigged: DataFrame, extra_cols: Sequence[str] = (),
               hashed: bool = False) -> DataFrame:
    """(doc_id, *extra_cols, band, sig_key|band_hash) from the K-wide
    ``sig`` array — MAP-ONLY (band keys are array slices: band i
    joins elements [i*R, (i+1)*R) in hash_idx order), no groupBy
    Exchange.  The ONE band-layout definition: batch LSH, the
    incremental state and the streaming collision detector all band
    through here, so they can never desynchronize.  ``hashed``
    replaces the string key with its 60-bit hash (compact streaming
    state)."""
    entries = F.array(*[
        F.struct(
            F.lit(band).cast('int').alias('band'),
            F.concat_ws('_', *[
                F.col('sig')[band * ROWS_PER_BAND + r].cast('string')
                for r in range(ROWS_PER_BAND)]).alias('sig_key'))
        for band in range(N_BANDS)])
    out = (sigged
           .select('doc_id', *extra_cols, F.explode(entries)
                   .alias('e')))
    if hashed:
        return out.select('doc_id', *extra_cols, 'e.band',
                          md5_int(F.col('e.sig_key'))
                          .alias('band_hash'))
    return out.select('doc_id', *extra_cols, 'e.band', 'e.sig_key')


def row_signatures(docs: DataFrame, k: int = 3,
                   extra_cols: Sequence[str] = ()) -> DataFrame:
    """(doc_id, sig array<long>[K], *extra_cols) computed IN-ROW —
    the MAP-ONLY variant of ``_state_rows``'s aggregation: a doc's
    shingles all live in its own row, so each minhash is an
    ``array_min`` over a ``transform`` of the hashed shingle array,
    no groupBy anywhere.  This is the streaming-friendly shape
    (stateless per row; Structured Streaming needs no shuffle before
    its own stateful op) and is value-identical to
    ``minhash_signatures`` (equivalence pinned in test_docops).
    Docs with fewer than ``k`` words get a NULL-element sig and
    should be filtered by the caller (``sig[0] IS NOT NULL``) —
    exactly the docs the aggregated path never emits."""
    arr = F.split(_norm_text(F.col('text')), ' ')
    grams = F.expr(
        "CASE WHEN size(words) >= {k} THEN "
        "transform(sequence(1, size(words) - {k} + 1), "
        "i -> concat_ws(' ', slice(words, i, {k}))) "
        "ELSE array() END".format(k=k))
    xs = F.transform(F.array_distinct(grams),
                     lambda s: md5_int(s) % MERSENNE)
    sig = F.array(*[
        F.array_min(F.transform(
            xs, lambda x: (F.lit(a) * x + F.lit(b)) % MERSENNE))
        for a, b in HASH_FAMILY])
    return (docs
            .select('doc_id', *extra_cols, arr.alias('words'))
            .select('doc_id', *extra_cols, sig.alias('sig')))


def minhash_signatures(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, hash_idx, minhash) — K minhashes per document.

    All K minhashes are computed in ONE wide aggregation (K ``min``
    columns with map-side partial aggregation), so the shuffle carries
    |docs| x K values instead of |shingles| x K exploded rows; the
    per-hash rows are recovered by exploding the K-wide result (|docs|
    rows, negligible)."""
    sh = word_shingles(docs, k).select(
        'doc_id', (md5_int(F.col('shingle')) % MERSENNE).alias('x'))
    wide = sh.groupBy('doc_id').agg(*[
        F.min((F.lit(a) * F.col('x') + F.lit(b)) % MERSENNE)
        .alias('m%d' % i)
        for i, (a, b) in enumerate(HASH_FAMILY)])
    arr = F.array(*['m%d' % i for i in range(len(HASH_FAMILY))])
    return wide.select(
        'doc_id',
        F.posexplode(arr).alias('hash_idx', 'minhash'))


def minhash_lsh_pairs(docs: DataFrame, k: int = 3,
                      threshold_x10000: int = LSH_DEFAULT_THRESHOLD,
                      expand_groups: bool = True) -> DataFrame:
    """MinHash+LSH near-dup pairs: banded signatures bucket candidate
    pairs, exact Jaccard verifies them (a < b).  The banded bucket join
    is the 100 TB path — no all-pairs comparison ever happens, and
    exact-duplicate texts collapse to representatives before banding
    (identical docs share every band; a boilerplate cluster would
    otherwise blow up the bucket join — see ``_exact_groups``).
    Band buckets larger than ``LSH_MAX_BUCKET`` emit star edges only
    (see ``_band_candidates``)."""
    reps, groups = _exact_groups(docs)
    rep_pairs = _minhash_rep_pairs(_state_rows(reps, k),
                                   threshold_x10000)
    if not expand_groups:
        return rep_pairs
    return _expand_groups(rep_pairs, groups, reps, k)


def _band_candidates(bands: DataFrame) -> DataFrame:
    """(a, b) candidate pairs (a < b) from a banded-signature frame,
    with the HOT-BUCKET GOVERNOR: buckets of ``LSH_MAX_BUCKET`` or fewer
    docs pair all members; larger buckets emit only STAR edges to the
    bucket-min doc — O(members) instead of O(members^2).

    Why this is safe for clustering and what it trades: exact-first
    collapse removes identical-text clusters, but a NEAR-identical
    viral cluster (10^5 boilerplate copies differing by a timestamp)
    lands every member in the same buckets and would emit O(m^2)
    candidate rows.  With star edges every member is still verified
    against the bucket-min rep, so ``connected_components`` over the
    verified pairs (the ``dup_clusters`` path, linking.py's
    large/small-star CC) recovers the cluster; what is lost is the
    DIRECT pair (x, y) where neither is the bucket min AND the pair
    shares no small bucket — acceptable for dedup (survivor pruning
    and clustering both key off connectivity, not pair completeness).
    Make it LOUD, not silent: ``lsh_hot_buckets`` reports the
    governed buckets, and ``dedup_report`` carries the count.

    Shape: bucket stats groupBy + two joins, all keyed on
    (band, sig_key) — the same partitioning end-to-end, so AQE plans
    one logical exchange family; the hot-star branch is a map-side
    filter of the stats-joined stream."""
    left = bands.select(F.col('doc_id').alias('a'), 'band', 'sig_key')
    stats = (bands.groupBy('band', 'sig_key')
             .agg(F.count('*').alias('bn'),
                  F.min('doc_id').alias('bmin')))
    sized = bands.join(stats, ['band', 'sig_key'])
    small = (sized.where(F.col('bn') <= LSH_MAX_BUCKET)
             .select(F.col('doc_id').alias('b'), 'band', 'sig_key'))
    all_pairs = (left.join(small, ['band', 'sig_key'])
                 .where(F.col('a') < F.col('b'))
                 .select('a', 'b'))
    star = (sized.where((F.col('bn') > LSH_MAX_BUCKET)
                        & (F.col('doc_id') != F.col('bmin')))
            .select(F.col('bmin').alias('a'),
                    F.col('doc_id').alias('b')))
    return all_pairs.unionByName(star).distinct()


def lsh_hot_buckets(docs: DataFrame, k: int = 3) -> DataFrame:
    """The governor's observability face: every (band, sig_key)
    bucket whose representative population exceeds ``LSH_MAX_BUCKET`` —
    i.e. the buckets ``_band_candidates`` degrades to star edges —
    with its population and min-doc witness.  Empty on a healthy
    corpus; rows here mean a near-identical mega-cluster (or a
    degenerate band) that deserves operator eyes."""
    reps, _groups = _exact_groups(docs)
    bands = _sig_bands(_state_rows(reps, k))
    return (bands.groupBy('band', 'sig_key')
            .agg(F.count('*').alias('bn'),
                 F.min('doc_id').alias('bmin'))
            .where(F.col('bn') > LSH_MAX_BUCKET)
            .select('band', 'sig_key', 'bn', 'bmin'))


def _minhash_rep_pairs(rows: DataFrame,
                       threshold_x10000: int) -> DataFrame:
    """Banded-signature candidates + exact-Jaccard verify over the
    ``_state_rows`` of already exact-dedup'd representatives — shared
    by ``minhash_lsh_pairs`` and ``dedup_increment``'s within-batch
    pairs, so neither recomputes the exact-group window.

    Everything hangs off that ONE aggregation: banding is
    map-only array slicing over its ``sig`` column (band key =
    '_'-joined minhashes in hash_idx order), candidate generation is
    the governed bucket join (``_band_candidates``), and the verify
    stage uses the stored ``shs``/``sz`` arrays — one shingle-stream
    Exchange total, where the pre-round-4 plan paid three (band
    groupBy + signature agg + verify doc_sets agg)."""
    bands = _sig_bands(rows)
    cands = _band_candidates(bands)
    pairs = _verify_pairs(cands, rows, rows)
    return (pairs
            .where(F.col('jaccard_x10000') >= threshold_x10000)
            .select('a', 'b', 'jaccard_x10000'))


def minhash_state(docs: DataFrame, k: int = 3) -> DataFrame:
    """Committed near-dup STATE: one row per exact-dedup
    representative — ``(doc_id, sig array<long>[K], shs array<long>,
    sz)``.  The mirror of the KG linker's entity-key state
    (linking.py ``KEY_SCHEMA``): a compact, distinct-key-bounded table
    a resumable job commits after each batch so the next increment
    never rescans prior text.  Size is ~8 B per distinct shingle +
    128 B signature per representative (the shingle arrays buy EXACT
    cross-increment Jaccard verification; drop ``shs`` for a
    signature-only state if banding-resolution decisions suffice)."""
    reps, _groups = _exact_groups(docs)
    return _state_rows(reps, k)


def dedup_increment(new_docs: DataFrame, state: DataFrame,
                    k: int = 3,
                    threshold_x10000: int = LSH_DEFAULT_THRESHOLD
                    ) -> tuple:
    """Check a NEW batch against committed near-dup state and roll
    the state forward — near-dup dedup between monthly full
    ``minhash_lsh_pairs`` re-runs, mirroring incremental entity
    linking (linking.py run_increment: increment-local work + ONE
    equi-join against bounded committed state).

    -> ``(pairs, new_state)``:

      * ``pairs``: (a, b, jaccard_x10000, vs_state).  vs_state=1 rows
        are (state doc, new doc) — the prior corpus always survives;
        vs_state=0 rows are within-batch pairs (a < b), the exact
        ``minhash_lsh_pairs`` semantics on the batch alone.
      * ``new_state``: ``state`` plus the batch's representatives that
        were NOT flagged (pairwise min-id pruning within the batch,
        any-match pruning vs state), ready to commit for the next
        increment.

    Scale shape: batch-local banding and verification touch only the
    increment; the prior corpus enters ONLY through the state table's
    band equi-join plus the verify join against its STORED shingle
    arrays — historical text is never rescanned.  Like the linker's
    per-batch adoption, chained increments are order-dependent where
    a full re-link is not: a new doc matching a PRUNED (non-surviving)
    earlier doc but not that doc's survivor goes undetected until the
    next full run — the documented drift a monthly compaction bounds.

    Caller contract: ``new_docs`` doc_ids are disjoint from state's
    (they time-order after it)."""
    reps, groups = _exact_groups(new_docs)
    new_rows = _state_rows(reps, k)

    # within-batch pairs: the batch operator's exact semantics,
    # including its hot-bucket governor (_band_candidates)
    wb_rep_pairs = _minhash_rep_pairs(new_rows, threshold_x10000)
    wb_pairs = _expand_groups(wb_rep_pairs, groups, reps, k)

    # cross pairs: state bands vs batch bands, verified on the
    # state's stored arrays; expand only the NEW side (state is
    # already rep-level, and its own members were paired when their
    # batch was the increment).  The governor's bipartite form: when
    # a STATE bucket holds more than LSH_MAX_BUCKET reps (a near-
    # identical mega-cluster accreted over increments), each batch
    # doc is checked against that bucket's min-doc rep only: when the
    # hot bucket IS one mega-cluster, any-match detection survives
    # (the rep is a cluster member); if it is a heterogeneous band
    # hash collision instead, a batch doc similar only to a NON-min
    # member is missed in THAT band — but such a pair still surfaces
    # through any of its other N_BANDS-1 buckets (hot buckets are
    # per-(band, key), and an unrelated-doc pile-up in several bands
    # at once is vanishingly unlikely), and lsh_hot_buckets /
    # dedup_report count every governed bucket loudly.  Candidate
    # volume drops from O(|state bucket| x |batch bucket|) to
    # O(|batch bucket|).  The batch side is batch-sized by contract
    # and stays ungoverned.
    s_bands = _sig_bands(state)
    s_stats = (s_bands.groupBy('band', 'sig_key')
               .agg(F.count('*').alias('bn'),
                    F.min('doc_id').alias('bmin')))
    s_small = (s_bands.join(s_stats, ['band', 'sig_key'])
               .where(F.col('bn') <= LSH_MAX_BUCKET)
               .select(F.col('doc_id').alias('a'), 'band', 'sig_key'))
    s_star = (s_stats.where(F.col('bn') > LSH_MAX_BUCKET)
              .select(F.col('bmin').alias('a'), 'band', 'sig_key'))
    cross_cands = (s_small.unionByName(s_star)
                   .join(_sig_bands(new_rows)
                         .select(F.col('doc_id').alias('b'),
                                 'band', 'sig_key'),
                         ['band', 'sig_key'])
                   .select('a', 'b').distinct())
    cross_rep_pairs = (_verify_pairs(cross_cands, state, new_rows)
                       .where(F.col('jaccard_x10000')
                              >= threshold_x10000))
    cross_pairs = (cross_rep_pairs
                   .join(groups.select(F.col('rep_id').alias('b'),
                                       F.col('doc_id').alias('mb')),
                         'b')
                   .select('a', F.col('mb').alias('b'),
                           'jaccard_x10000'))

    pairs = (wb_pairs
             .withColumn('vs_state', F.lit(0).cast('int'))
             .unionByName(cross_pairs
                          .withColumn('vs_state',
                                      F.lit(1).cast('int'))))

    dropped = (wb_rep_pairs.select(F.col('b').alias('doc_id'))
               .unionByName(cross_rep_pairs
                            .select(F.col('b').alias('doc_id')))
               .distinct())
    new_state = state.unionByName(
        new_rows.join(dropped, 'doc_id', 'left_anti'))
    return pairs, new_state
