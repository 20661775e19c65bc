"""spark-submit entry point: incremental dedup against committed state.

    spark-submit --master <cluster> \
        --py-files dist/yargy_spark.zip \
        jobs/run_dedup_increment.py <base_out> <inc_out> \
            [docs_parquet] [n_buckets] [id_offset]

Checks a NEW document batch against the ``minhash_state`` committed
by ``pipeline.run_dedup`` (jobs/run_dedup.py) or a prior increment —
the state roots CHAIN: base -> day1 -> day2 ... — via
``pipeline.run_dedup_increment``, and commits ``<inc_out>/dup_pairs``
plus the rolled-forward ``<inc_out>/minhash_state``.  Rerun with
unchanged base state AND an unchanged batch is a no-op; pointing
``inc_out`` at ``base_out`` raises (each batch is its own state
root).

The default synthetic increment re-ids the odd-doc_id half of the
base documents table by ``id_offset`` (disjoint ids, every doc an
exact copy of a state doc — a deterministic worst-case dup batch);
``id_offset`` defaults to past the base table's max doc_id rounded
up to the next million, so the disjoint-id contract holds on any
corpus.  Swap in a real incremental source for production data.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import functions as F

from yargy_spark.plans.session import build_session


def main():
    base_out = sys.argv[1] if len(sys.argv) > 1 else '/tmp/dedup_pairs'
    inc_out = sys.argv[2] if len(sys.argv) > 2 else '/tmp/dedup_inc'
    docs_path = (sys.argv[3] if len(sys.argv) > 3
                 else '/root/testdata/sf0.001/documents.parquet')
    n_buckets = int(sys.argv[4]) if len(sys.argv) > 4 else 8
    id_offset = int(sys.argv[5]) if len(sys.argv) > 5 else None

    spark = build_session(app='yargy-spark-dedup-increment')
    spark.sparkContext.setLogLevel('WARN')

    from yargy_spark.pipeline import run_dedup_increment

    base_docs = spark.read.parquet(docs_path)
    if id_offset is None:
        # derive a collision-proof default: past the base table's max
        # id, rounded up — a fixed literal would silently violate
        # dedup_increment's disjoint-id contract on corpora whose ids
        # exceed it (review finding)
        max_id = base_docs.agg(F.max('doc_id')).collect()[0][0] or 0
        id_offset = -(-(max_id + 1) // 1_000_000) * 1_000_000
    new_docs = (base_docs
                .where(F.col('doc_id') % 2 == 1)
                .withColumn('doc_id', F.col('doc_id')
                            + F.lit(id_offset).cast('long'))
                .select('doc_id', 'text'))
    snap = run_dedup_increment(spark, new_docs, base_out, inc_out,
                               n_buckets=n_buckets)
    if snap is None:
        print(json.dumps({
            'status': 'noop',
            'reason': 'base state and batch both unchanged'}))
    else:
        print(json.dumps({'status': 'committed',
                          'snapshot': snap['snapshot_id'],
                          'counters': snap['counters'],
                          'totals': snap['totals']}))
    spark.stop()


if __name__ == '__main__':
    main()
