"""spark-submit entry point: corpus deduplication with committed state.

    spark-submit --master <cluster> \
        --py-files dist/yargy_spark.zip \
        jobs/run_dedup.py <out_dir> [docs_parquet] [n_buckets]

Runs exact + MinHash/LSH dedup over a documents table via
``pipeline.run_dedup`` and REPLACE-commits the near-dup pairs to
``<out_dir>`` and the ``minhash_state`` that
jobs/run_dedup_increment.py checks new batches against to
``<out_dir>/minhash_state``, both stamped with the documents' content
stamp.  Rerun over unchanged documents is a no-op; changed documents,
or a crash between the two commits, re-derive both tables.
"""

from __future__ import annotations

import json
import sys

from yargy_spark.plans.session import build_session


def main():
    out_dir = sys.argv[1] if len(sys.argv) > 1 else '/tmp/dedup_pairs'
    docs_path = (sys.argv[2] if len(sys.argv) > 2
                 else '/root/testdata/sf0.001/documents.parquet')
    n_buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 8

    spark = build_session(app='yargy-spark-dedup')
    spark.sparkContext.setLogLevel('WARN')

    from yargy_spark.pipeline import run_dedup

    snap = run_dedup(spark, spark.read.parquet(docs_path), out_dir,
                     n_buckets=n_buckets)
    if snap is None:
        print(json.dumps({'status': 'noop',
                          'reason': 'documents unchanged'}))
    else:
        print(json.dumps({'status': 'committed',
                          'snapshot': snap['snapshot_id'],
                          'counters': snap['counters'],
                          'totals': snap['totals']}))
    spark.stop()


if __name__ == '__main__':
    main()
