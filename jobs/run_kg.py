"""spark-submit entry point: resumable KG construction.

    spark-submit --master <cluster> \
        --py-files dist/yargy_spark.zip \
        jobs/run_kg.py <out_dir> [n_turns] [n_buckets]

Runs the full pipeline (extract -> link -> triples) over the
deterministic transcript corpus, writing a bucketed parquet snapshot
with a manifest (per-partition lineage + counters).  Re-running after
success is a no-op; re-running after a partial failure processes only
the unfinished buckets.  Swap ``synth_transcripts`` for
``spark.read.parquet(...)`` / an Iceberg table to run on real data.
"""

from __future__ import annotations

import json
import sys

from yargy_spark.plans.session import build_session


def main():
    out_dir = sys.argv[1] if len(sys.argv) > 1 else '/tmp/kg_triples'
    n_turns = int(sys.argv[2]) if len(sys.argv) > 2 else None
    n_buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 16

    spark = build_session(app='yargy-spark-kg')
    spark.sparkContext.setLogLevel('WARN')

    from yargy_spark.pipeline import run_resumable
    from yargy_spark.sources.transcripts import (DEFAULT_N_TURNS,
                                                 synth_transcripts)

    if n_turns is None:
        n_turns = DEFAULT_N_TURNS
    transcripts = synth_transcripts(spark, n_turns=n_turns)
    snap = run_resumable(spark, transcripts, out_dir,
                         n_buckets=n_buckets)
    if snap is None:
        print(json.dumps({
            'status': 'noop',
            'reason': 'all buckets committed and triples derived '
                      'from the current mentions snapshot'}))
    else:
        print(json.dumps({'status': 'committed',
                          'snapshot': snap['snapshot_id'],
                          'counters': snap['counters'],
                          'totals': snap['totals']}))
    spark.stop()


if __name__ == '__main__':
    main()
