"""End-to-end KG construction pipeline (the north_rule spine):

    transcripts -> extract (mapInPandas, broadcast grammar)
                -> mentions
                -> entity linking (blocking + star edges + CC)
                -> canonicalization
                -> triples
                -> partitioned parquet + manifest (resume, lineage,
                   counters)

``run_pipeline`` is the in-memory flow (tests/bench); ``run_resumable``
adds the bucket-granular checkpoint/resume and metrics layer.
"""

from __future__ import annotations

import time
from typing import Dict, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators.extract import MENTION_SCHEMA, extract_mentions
from .operators.linking import (apply_entity_merges, empty_keys,
                                link_entities,
                                link_entities_incremental)
from .operators.triples import materialize_triples
from .sources import manifest as mf


def run_pipeline(transcripts: DataFrame,
                 extractor_names=None) -> Dict[str, DataFrame]:
    mentions = extract_mentions(transcripts, extractor_names).persist()
    entities = None
    try:
        # entity links feed triples AND get counted/written downstream
        # — persist so the connected-components chain runs exactly once
        entities = link_entities(mentions).persist()
        triples = materialize_triples(mentions, entities)
    except Exception:
        # CC non-convergence etc.: don't leave caches pinned in
        # executor storage for the life of the session
        mentions.unpersist()
        if entities is not None:
            entities.unpersist()
        raise
    return {'mentions': mentions, 'entities': entities,
            'triples': triples}


def _extract_phase(transcripts: DataFrame, m_root: str,
                   n_buckets: int, extractor_names,
                   chunk_size: int) -> dict:
    """PHASE 1 shared by the batch and increment jobs: extract the
    pending buckets in chunks, each chunk's mentions committing
    atomically to ``m_root`` (bucket-granular checkpoint/resume).
    Returns the extraction counters of the job's triples manifest.

    The chunk commit is the chunk's only Spark job: its ``mentions``
    counter is the commit's footer row total, and its turn count is
    observed on the same write (read only after the write returned)."""
    pending = mf.pending_buckets(m_root, n_buckets)
    bucketed = mf.with_bucket(transcripts, n_buckets)
    counters = {'turns_in': 0, 'mentions': 0, 'extraction_chunks': 0,
                'buckets': pending}
    for i in range(0, len(pending), chunk_size):
        chunk = pending[i:i + chunk_size]
        # NOTE scan cost: on a bucket-partitioned source (the design
        # point — manifest tables / Iceberg), this filter prunes the
        # chunk's scan to its own buckets; on an unpartitioned source
        # each chunk scans the full input, so size chunk_size (or
        # pre-bucket the source) to trade resumability granularity
        # against scan count.
        turns = Observation()
        src = (bucketed.where(F.col(mf.BUCKET_COL).isin(chunk))
               .observe(turns, F.count(F.lit(1)).alias('n')))
        snap = mf.commit_append(
            extract_mentions(src, extractor_names,
                             passthrough=(mf.BUCKET_COL,)),
            m_root, note='mentions',
            counters={'mentions': lambda totals: totals['rows'],
                      'buckets': chunk},
            expected_buckets=chunk, n_buckets=n_buckets)
        counters['turns_in'] += turns.get['n']
        counters['mentions'] += snap['totals']['rows']
        counters['extraction_chunks'] += 1
    return counters


def _read_or_empty(spark: SparkSession, root: str, schema) -> DataFrame:
    """The committed table at ``root``, or an empty ``schema`` table
    with the bucket column when no commit wrote data (no turn matched
    a trigger; an increment bridged no prior entities).  The job then
    commits empty derived tables, so its rerun reaches the no-op gate
    instead of failing forever.  The false filter folds the empty table
    to an empty relation at plan time, as in ``empty_keys``."""
    if mf.committed_data_dirs(root):
        return mf.read_table(spark, root)
    return (spark.createDataFrame([], schema).where(F.lit(False))
            .withColumn(mf.BUCKET_COL, F.lit(0).cast('int')))


def _observed(df: DataFrame, **aggs):
    """-> (df, counters): each named aggregate is observed on the
    write of the returned frame, and its counter is a callable that
    reads the observation once the write has returned."""
    obs = Observation()
    df = df.observe(obs, *(agg.alias(k) for k, agg in aggs.items()))
    return df, {k: (lambda _totals, k=k: obs.get[k]) for k in aggs}


def _counted_triples(mentions: DataFrame, links: DataFrame):
    """-> (triples, {'entities': counter}).  ``materialize_triples``
    emits one ``canonical_name`` row per linked entity, so the entity
    count is observed on the triples write itself."""
    return _observed(materialize_triples(mentions, links),
                     entities=F.count(F.when(
                         F.col('pred') == 'canonical_name', 1)))


def run_resumable(spark: SparkSession, transcripts: DataFrame,
                  out_root: str, n_buckets: int = 16,
                  extractor_names=None,
                  chunk_size: int = 4) -> Optional[dict]:
    """Two-phase resumable pipeline:

    PHASE 1 — extraction (bucket-granular, incremental): pending
    buckets are processed in chunks of ``chunk_size`` and each chunk's
    MENTIONS commit atomically to ``<out_root>/mentions`` — a mid-run
    kill loses at most one chunk, and restart resumes from the
    manifest (true partition-granular checkpoint/resume).

    PHASE 2 — linking + triples (global, snapshot-consistent): entity
    resolution is a GLOBAL computation (blocking keys cross buckets),
    so it always runs over ALL committed mentions; the entity-key
    state at ``<out_root>/entity_keys`` and the triples table at
    ``<out_root>/triples`` are committed as full-REPLACE snapshots
    stamped with the mentions snapshot they derived from.  Linking
    only a pending subset would mint conflicting entity_ids for the
    same real-world entity across snapshots.

    Re-running after success is a no-op (both derived tables are
    already derived from the current mentions head).  ``n_buckets``
    is recorded in the manifests and a rerun with a different value
    is refused (silent bucket-count drift would duplicate committed
    conversations)."""
    m_root = f'{out_root}/mentions'
    t_root = f'{out_root}/triples'
    k_root = f'{out_root}/entity_keys'
    mf.check_n_buckets(m_root, n_buckets)

    t0 = time.time()
    counters = _extract_phase(transcripts, m_root, n_buckets,
                              extractor_names, chunk_size)

    head = mf.current_snapshot(m_root)
    if head is None:
        return None  # no mentions table at all, nothing to link
    if mf.chain_is_current([k_root, t_root], n_buckets, head):
        return None

    all_mentions = _read_or_empty(spark, m_root, MENTION_SCHEMA)
    # the whole corpus linked against an empty key state: its new
    # keys are the key state, read off the links' one truncation
    links, _, keys = link_entities_incremental(all_mentions,
                                               empty_keys(spark))
    triples, observed = _counted_triples(all_mentions, links)
    counters.update(observed)
    return mf.commit_chain([
        (k_root, 'entity_keys', keys, 'norm_key', None),
        (t_root, 'triples', triples, 'conv_id', counters),
    ], n_buckets, head, t0)


def run_incremental(spark: SparkSession, new_transcripts: DataFrame,
                    base_root: str, out_root: str,
                    n_buckets: int = 16, extractor_names=None,
                    chunk_size: int = 4) -> Optional[dict]:
    """The bounded-staleness increment job: link a NEW transcript
    batch against a batch-built base (``run_resumable`` output) via
    ``link_entities_incremental`` — global CC never reruns over the
    base, only the base's entity_keys state table enters the plan.

    Same two-phase shape as the batch job: PHASE 1 commits the
    increment's mentions bucket-granularly to ``<out_root>/mentions``;
    PHASE 2 REPLACE-commits ``<out_root>/entity_keys`` (the prior
    state rolled forward with this batch's keys: the prior rows as
    they are, plus the linker's ``new_keys``, read off the same
    truncated per-mention frame as the links — the NEXT increment
    chains off this root: daily cadence is base -> day1 -> day2 ...
    without re-minting earlier days' fresh entities),
    ``<out_root>/merge_candidates`` (prior-entity pairs the increment
    connects — the work-list that schedules the next full base
    re-link) and ``<out_root>/triples``, each stamped with BOTH the
    increment-mentions snapshot and the base entity_keys snapshot it
    linked against.  A rerun is a no-op only while both are
    unchanged; a re-linked base (new keys snapshot) re-derives the
    increment's links."""
    if out_root == base_root:
        raise ValueError(
            'increment out_root must differ from base_root — each '
            'increment batch is its own table root (its mentions '
            'manifests would otherwise collide with the base and '
            'noop past the new conversations)')
    m_root = f'{out_root}/mentions'
    k_out = f'{out_root}/entity_keys'
    c_root = f'{out_root}/merge_candidates'
    t_root = f'{out_root}/triples'
    k_root = f'{base_root}/entity_keys'

    keys_snap = mf.current_snapshot(k_root)
    if keys_snap is None:
        raise ValueError(
            'no entity_keys state at %s — build the base with '
            'run_resumable (jobs/run_kg.py) first' % k_root)
    mf.check_n_buckets(m_root, n_buckets)

    t0 = time.time()
    counters = _extract_phase(new_transcripts, m_root, n_buckets,
                              extractor_names, chunk_size)

    head = mf.current_snapshot(m_root)
    if head is None:
        return None
    if mf.chain_is_current([k_out, c_root, t_root], n_buckets, head,
                           base_keys_snapshot=keys_snap):
        return None  # increment AND base state both unchanged

    new_mentions = _read_or_empty(spark, m_root, MENTION_SCHEMA)
    prior_keys = (mf.read_table(spark, k_root)
                  .select('norm_key', 'entity_id', 'canonical'))
    links, merges, new_keys = link_entities_incremental(new_mentions,
                                                        prior_keys)
    merges, n_merges = _observed(merges,
                                 merge_candidates=F.count(F.lit(1)))
    triples, observed = _counted_triples(new_mentions, links)
    counters.update(observed, **n_merges)
    return mf.commit_chain([
        (k_out, 'entity_keys', prior_keys.unionByName(new_keys),
         'norm_key', None),
        (c_root, 'merge_candidates', merges, 'entity_a', None),
        (t_root, 'triples', triples, 'conv_id', counters),
    ], n_buckets, head, t0, base_keys_snapshot=keys_snap)


def run_apply_merges(spark: SparkSession, inc_root: str,
                     out_root: str, n_buckets: int = 16,
                     triples_roots=()) -> Optional[dict]:
    """The merge-APPLY job closing the incremental loop: resolve the
    ``merge_candidates`` work-list an increment committed (via
    ``apply_entity_merges`` — CC over the candidate graph, numeric-min
    survivor per component) and commit the outcome, so a KG operator
    has a middle path between ignoring merges and a full re-link:

    * ``<out_root>/entity_keys`` — the increment's rolled-forward key
      state REWRITTEN (retired ids -> survivor id + canonical).  The
      NEXT increment chains off ``out_root`` and sees merged ids.
    * ``<out_root>/entity_merges`` — the audit mapping, one row per
      retired entity.  Merges stay explicit and reviewable, never
      silent.
    * ``<out_root>/triples_patch`` — for every root in
      ``triples_roots``: corrected rows for triples whose subject was
      retired.  Consumers apply it as anti-join(retired) + union;
      the next full re-link supersedes it.

    Both reads are stamped on every table this call writes: rerun is
    a noop while the candidates snapshot AND the keys snapshot are
    unchanged; a re-committed upstream re-derives everything (same
    bounded-staleness contract as ``run_incremental``)."""
    if out_root == inc_root:
        raise ValueError(
            'merge-apply out_root must differ from inc_root — the '
            'rewritten entity_keys is a new state root the next '
            'increment chains from')
    c_root = f'{inc_root}/merge_candidates'
    k_root = f'{inc_root}/entity_keys'
    cand_snap = mf.current_snapshot(c_root)
    keys_snap = mf.current_snapshot(k_root)
    if cand_snap is None or keys_snap is None:
        raise ValueError(
            'no merge_candidates/entity_keys state under %s — run '
            'the increment job (jobs/run_kg_increment.py) first'
            % inc_root)
    k_out = f'{out_root}/entity_keys'
    p_root = f'{out_root}/triples_patch'
    a_root = f'{out_root}/entity_merges'
    roots = [k_out, p_root, a_root] if triples_roots else [k_out, a_root]
    if mf.chain_is_current(roots, n_buckets, keys_snap,
                           candidates_snapshot=cand_snap):
        return None  # candidates AND key state both unchanged

    t0 = time.time()
    # a committed-but-empty work-list (increments that bridged
    # nothing) degrades to an identity rewrite, so the chain
    # (inc -> apply -> inc) stays uniform
    candidates = _read_or_empty(
        spark, c_root, 'entity_a string, entity_b string, '
                       'conv_id string, last_lemma string')
    prior_keys = (mf.read_table(spark, k_root)
                  .select('norm_key', 'entity_id', 'canonical'))
    if triples_roots:
        frames = [mf.read_table(spark, f'{r}/triples')
                  .drop(mf.BUCKET_COL) for r in triples_roots]
        triples = frames[0]
        for fr in frames[1:]:
            triples = triples.unionByName(fr)
        mapping, new_keys, patch = apply_entity_merges(
            candidates, prior_keys, triples)
    else:
        mapping, new_keys = apply_entity_merges(candidates,
                                                prior_keys)

    # the mapping feeds the audit commit, the counters AND (via
    # new_keys/patch plans) both rewrites — pin it once
    mapping = mapping.persist()
    try:
        counters = {'retired_entities': mapping.count()}
        commits = [(k_out, 'entity_keys', new_keys, 'norm_key',
                    counters)]
        if triples_roots:
            commits.append((p_root, 'triples_patch', patch, 'subj',
                            dict(counters,
                                 triples_roots=list(triples_roots))))
        commits.append((a_root, 'entity_merges', mapping, 'entity_id',
                        counters))
        return mf.commit_chain(commits, n_buckets, keys_snap, t0,
                               candidates_snapshot=cand_snap)
    finally:
        mapping.unpersist()


def run_dedup(spark: SparkSession, docs: DataFrame, out_root: str,
              n_buckets: int = 8) -> Optional[dict]:
    """The base DEDUP job: exact + MinHash/LSH dedup over a whole
    (doc_id, text) table, REPLACE-committed as one chain:

    * ``<out_root>`` — the pairs ``(kind, a, b, score)``: the
      ``minhash_lsh_pairs`` rows (kind 'minhash', score = Jaccard
      x 10000) plus one ``exact_dedup`` row per group of two or more
      identical texts (kind 'exact', a = representative, b NULL,
      score = group size), bucketed on ``a``.
    * ``<out_root>/minhash_state`` — ``minhash_state(docs)``, the
      state ``run_dedup_increment`` checks the next batch against.

    Both commits are stamped with the docs' ``content_stamp``: a
    rerun over the same docs is a no-op (one stamp job), changed docs
    re-derive both tables, and a crash between the two commits leaves
    one root unstamped, so the rerun re-derives the chain."""
    from .operators.dedup import (content_stamp, exact_dedup,
                                  minhash_lsh_pairs, minhash_state)
    s_root = f'{out_root}/minhash_state'
    n_docs, stamp = content_stamp(docs)
    if mf.chain_is_current([out_root, s_root], n_buckets, stamp):
        return None  # docs unchanged since the last commit

    t0 = time.time()
    # docs feeds three subtrees (the LSH branch, the exact branch and
    # the state): persist so the input is scanned once
    docs = docs.persist()
    try:
        near = minhash_lsh_pairs(docs).select(
            F.lit('minhash').alias('kind'), 'a', 'b',
            F.col('jaccard_x10000').alias('score'))
        exact = exact_dedup(docs).where(F.col('group_size') > 1).select(
            F.lit('exact').alias('kind'), F.col('rep_id').alias('a'),
            F.lit(None).cast('long').alias('b'),
            F.col('group_size').alias('score'))
        # the pair count is observed on the pairs write and carried
        # by both manifests
        pairs, counters = _observed(near.unionByName(exact),
                                    pairs=F.count(F.lit(1)))
        counters['docs_in'] = n_docs
        return mf.commit_chain([
            (out_root, 'dedup-pairs', pairs, 'a', counters),
            (s_root, 'minhash_state', minhash_state(docs), 'doc_id',
             counters),
        ], n_buckets, stamp, t0)
    finally:
        docs.unpersist()


def run_dedup_increment(spark: SparkSession, new_docs: DataFrame,
                        base_root: str, out_root: str,
                        n_buckets: int = 8) -> Optional[dict]:
    """The incremental DEDUP job: check a new document batch against
    the ``minhash_state`` committed by ``run_dedup`` (or a prior
    increment) via ``dedup_increment`` — the dedup mirror of
    ``run_incremental``'s bounded-staleness contract.  Historical
    text never enters the plan; only the rep-bounded state table
    does.

    Commits to ``<out_root>``:

    * ``dup_pairs`` — (a, b, jaccard_x10000, vs_state): vs_state=1
      pairs a state doc with a batch doc, vs_state=0 is the batch's
      internal ``minhash_lsh_pairs`` semantics.
    * ``minhash_state`` — the prior state rolled forward with the
      batch's surviving representatives; the NEXT increment chains
      off ``out_root`` (daily cadence: base -> day1 -> day2 ...),
      and a monthly full ``run_dedup`` compacts the
      documented pruned-survivor drift.

    Both commits are stamped with the base state snapshot and the
    batch's ``content_stamp``, so a rerun is a noop only while base
    state and batch are unchanged (a changed batch re-derives even
    under an unchanged base state)."""
    from .operators.dedup import content_stamp, dedup_increment
    if out_root == base_root:
        raise ValueError(
            'dedup increment out_root must differ from base_root — '
            'each increment batch is its own state root the next '
            'batch chains from')
    s_base = f'{base_root}/minhash_state'
    state_snap = mf.current_snapshot(s_base)
    if state_snap is None:
        raise ValueError(
            'no minhash_state at %s — build the base with '
            'run_dedup (jobs/run_dedup.py) first' % s_base)
    p_root = f'{out_root}/dup_pairs'
    s_out = f'{out_root}/minhash_state'
    n_docs, batch_stamp = content_stamp(new_docs)
    if mf.chain_is_current([p_root, s_out], n_buckets, state_snap,
                           batch_stamp=batch_stamp):
        return None  # base state AND batch both unchanged

    t0 = time.time()
    state = (mf.read_table(spark, s_base)
             .select('doc_id', 'sig', 'shs', 'sz'))
    pairs, new_state = dedup_increment(new_docs, state)
    # both pair counters are observed on the dup_pairs write and
    # carried by both manifests
    pairs, counters = _observed(
        pairs, pairs=F.count(F.lit(1)),
        vs_state_pairs=F.count(F.when(F.col('vs_state') == 1, 1)))
    counters['docs_in'] = n_docs
    return mf.commit_chain([
        (p_root, 'dup_pairs', pairs, 'b', counters),
        (s_out, 'minhash_state', new_state, 'doc_id', counters),
    ], n_buckets, state_snap, t0, batch_stamp=batch_stamp)


def run_stream_dedup_bridge(spark: SparkSession, src_dir: str,
                            base_root: str, out_root: str,
                            n_buckets: int = 8,
                            watermark: str = '10 minutes',
                            window: str = '5 minutes') -> dict:
    """Bridge the STREAMING near-dup signal into the COMMITTED dedup
    state: drain the docs stream, then roll every CLOSED event-time
    window into the ``minhash_state``/``dup_pairs`` chain the batch
    and increment jobs maintain — window-close -> exact-verify ->
    state roll-forward.

    Stage A (stream, exactly-once via checkpoints under ``out_root``):
      * ``<out>/windows`` — per-window doc counts in APPEND mode:
        a watermarked aggregation emits a window only once the
        watermark passes it, so presence in this sink IS the
        window-close signal.  EVERY closed window lands here
        (collision or not: quiet windows must still roll into state,
        or later collisions against their docs are lost).
      * ``<out>/collisions`` — ``stream_band_collisions`` in append
        mode: the in-stream candidate signal (band bucket with >= 2
        docs).  Observability + the restart test's assertion surface;
        the exact-verify below re-derives candidates from the SAME
        band layout, so a collision here is by construction a
        candidate there.
      (Two drains of the source; at scale fan both out of one
      foreachBatch instead.)

    Stage B (batch): for each closed window, ascending, feed the
    window's docs to ``run_dedup_increment`` against the CHAINED root
    (base -> win1 -> win2 ...), committing that window's verified
    ``dup_pairs`` and rolled ``minhash_state``.  Reruns: the stream
    drains nothing new and every increment noops on its (state
    snapshot, batch stamp); a crash mid-chain noops the committed
    prefix and re-derives the suffix.  The still-open tail window(s)
    of a drained static source commit on a LATER bridge run, once
    newer data advances the watermark past them.

    Contract guard: window docs must carry doc_ids above every id
    already in the chained state (the increment operator's
    ids-time-ordered contract) — violated input raises rather than
    committing misoriented pairs."""
    from .streaming.dedup import stream_band_collisions

    src_schema = 'doc_id long, text string, ts timestamp'

    def drain(df, sub):
        (df.writeStream.format('parquet')
         .option('path', f'{out_root}/{sub}')
         .option('checkpointLocation', f'{out_root}/_chk_{sub}')
         .outputMode('append')
         .trigger(availableNow=True)
         .start().awaitTermination())

    stream = spark.readStream.schema(src_schema).json(src_dir)
    drain(stream
          .withWatermark('ts', watermark)
          .groupBy(F.window('ts', window))
          .agg(F.count('*').alias('n_docs'),
               F.min('doc_id').alias('min_doc'),
               F.max('doc_id').alias('max_doc'))
          .select(F.unix_timestamp('window.start').alias('win_start'),
                  F.unix_timestamp('window.end').alias('win_end'),
                  'n_docs', 'min_doc', 'max_doc'),
          'windows')
    stream2 = spark.readStream.schema(src_schema).json(src_dir)
    drain(stream_band_collisions(stream2, watermark=watermark,
                                 window=window),
          'collisions')

    closed = sorted(
        (int(r['win_start']), int(r['win_end']))
        for r in spark.read.parquet(f'{out_root}/windows')
        .select('win_start', 'win_end').distinct().collect())

    docs = spark.read.schema(src_schema).json(src_dir)
    prev, committed, nooped = base_root, [], []
    for win_start, win_end in closed:
        win_root = f'{out_root}/win={win_start}'
        batch = (docs.where(
            (F.col('ts').cast('long') >= win_start)
            & (F.col('ts').cast('long') < win_end))
            .select('doc_id', 'text'))
        state_max = mf.read_table(
            spark, f'{prev}/minhash_state').agg(
            F.max('doc_id')).collect()[0][0]
        batch_min = batch.agg(F.min('doc_id')).collect()[0][0]
        if batch_min is not None and state_max is not None \
                and batch_min <= state_max:
            raise ValueError(
                'window %d docs start at id %d but the chained state '
                'already holds id %d — the stream source violates '
                'the ids-time-ordered increment contract'
                % (win_start, batch_min, state_max))
        snap = run_dedup_increment(spark, batch, prev, win_root,
                                   n_buckets=n_buckets)
        (committed if snap is not None else nooped).append(win_start)
        prev = win_root
    return {'windows': [w for w, _ in closed],
            'committed': committed, 'nooped': nooped,
            'head_root': prev}
