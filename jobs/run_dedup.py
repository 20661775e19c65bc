"""spark-submit entry point: resumable corpus deduplication.

    spark-submit --master <cluster> \
        --py-files dist/yargy_spark.zip \
        jobs/run_dedup.py <out_dir> [docs_parquet] [n_buckets]

Runs exact + MinHash/LSH dedup over a documents table and writes one
bucketed near-dup-pair snapshot through the same manifest/resume layer
as the KG job (bucket = hash of the pair's left doc id): re-running
after success is a no-op; after a partial failure only the unfinished
buckets are recomputed and committed.

Also REPLACE-commits ``<out_dir>/minhash_state`` — one row per
surviving representative (K-wide signature + hashed shingle array) —
the committed state jobs/run_dedup_increment.py checks new batches
against (the dedup mirror of the KG job's entity_keys).  A rerun
after a crash between the pairs and state commits backfills the
state (upgrade path for pre-state roots too).
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import functions as F

from yargy_spark.plans.session import build_session


def main():
    out_dir = sys.argv[1] if len(sys.argv) > 1 else '/tmp/dedup_pairs'
    docs_path = (sys.argv[2] if len(sys.argv) > 2
                 else '/root/testdata/sf0.001/documents.parquet')
    n_buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 8

    spark = build_session(app='yargy-spark-dedup')
    spark.sparkContext.setLogLevel('WARN')

    from yargy_spark.operators.dedup import (content_stamp, exact_dedup,
                                             minhash_lsh_pairs,
                                             minhash_state)
    from yargy_spark.sources import manifest as mf

    s_root = out_dir + '/minhash_state'

    def commit_state(docs_df):
        """REPLACE-commit the near-dup state table the increment job
        (jobs/run_dedup_increment.py) chains from."""
        state = mf.with_bucket(minhash_state(docs_df), n_buckets,
                               key='doc_id')
        return mf.commit_replace(state, s_root, note='minhash_state',
                                 n_buckets=n_buckets)

    mf.check_n_buckets(out_dir, n_buckets)
    pending = mf.pending_buckets(out_dir, n_buckets)
    if not pending:
        # upgrade path (run_resumable's entity_keys precedent): a
        # pre-round-4 root, or a crash between the pairs and state
        # commits, has pairs but no state — backfill it on rerun
        if mf.current_snapshot(s_root) is None:
            docs = spark.read.parquet(docs_path).persist()
            # the backfill recomputes state from the docs parquet AS
            # IT EXISTS NOW; refuse if that content no longer matches
            # what the committed pairs were derived from (a silent
            # mismatch would commit state disagreeing with the pairs)
            snaps = mf.snapshots(out_dir)
            recorded = next(
                (s['counters']['docs_stamp'] for s in reversed(snaps)
                 if s.get('counters', {}).get('docs_stamp')), None)
            _, stamp = content_stamp(docs)
            if recorded is not None and recorded != stamp:
                print(json.dumps({
                    'status': 'refused',
                    'reason': 'docs content stamp mismatch: pairs '
                              'were committed from %s but the docs '
                              'parquet now stamps %s — rerun the '
                              'full job against a fresh out_dir'
                              % (recorded, stamp)}))
                spark.stop()
                sys.exit(1)
            snap = commit_state(docs)
            out = {'status': 'committed',
                   'reason': 'state backfill '
                             '(pairs already committed)',
                   'snapshot': snap['snapshot_id'],
                   'totals': snap['totals']}
            if recorded is None:
                out['warning'] = ('pre-stamp pairs root: docs '
                                  'content could not be verified '
                                  'against the committed pairs')
            print(json.dumps(out))
        else:
            print(json.dumps({'status': 'noop',
                              'reason': 'all buckets committed'}))
        spark.stop()
        return

    t0 = time.time()
    # docs feeds THREE subtrees (stamp, minhash branch, exact branch):
    # persist so the parquet is scanned once
    docs = spark.read.parquet(docs_path).persist()
    near = minhash_lsh_pairs(docs).select(
        F.lit('minhash').alias('kind'),
        F.col('a'), F.col('b'),
        F.col('jaccard_x10000').alias('score'))
    exact = exact_dedup(docs).where(F.col('group_size') > 1).select(
        F.lit('exact').alias('kind'),
        F.col('rep_id').alias('a'),
        F.lit(None).cast('long').alias('b'),
        F.col('group_size').alias('score'))
    pairs = near.unionByName(exact)

    bucketed = (mf.with_bucket(pairs, n_buckets, key='a')
                .where(F.col(mf.BUCKET_COL).isin(pending)))
    n_docs, stamp = content_stamp(docs)
    counters = {
        'docs_in': n_docs,
        'pairs': lambda totals: totals['rows'],
        'wall_sec': lambda _totals: round(time.time() - t0, 3),
        'buckets': pending,
        # ties the pairs commit to the docs content so the state
        # backfill can refuse a drifted input (see content_stamp)
        'docs_stamp': stamp,
    }
    snap = mf.commit_append(bucketed, out_dir, note='dedup-pairs',
                            counters=counters,
                            expected_buckets=pending,
                            n_buckets=n_buckets)
    # state commits AFTER pairs: a crash in between is healed by the
    # rerun's backfill branch above
    state_snap = commit_state(docs)
    print(json.dumps({'status': 'committed',
                      'snapshot': snap['snapshot_id'],
                      'state_snapshot': state_snap['snapshot_id'],
                      'counters': snap['counters'],
                      'totals': snap['totals']}))
    spark.stop()


if __name__ == '__main__':
    main()
