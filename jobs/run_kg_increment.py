"""spark-submit entry point: resumable INCREMENT against a built base.

    spark-submit --master <cluster> \
        --py-files dist/yargy_spark.zip \
        jobs/run_kg_increment.py <base_out> <inc_out> \
            [n_new_turns] [n_buckets] [start_turn]

Links a new transcript batch against the entity_keys state committed
by jobs/run_kg.py (the bounded-staleness fast path — global CC never
reruns over the base).  Writes the increment's mentions
(bucket-granular resume), its triples, and the merge_candidates
work-list to ``<inc_out>``.  ``start_turn`` defaults to the batch
job's default corpus size rounded up to a conversation boundary, so
the synthetic increment is the deterministic continuation of the base
corpus with disjoint conversation ids.  Swap ``synth_transcripts``
for a real incremental source to run on production data.

One ``<inc_out>`` root per increment BATCH: the root's manifests
define that batch's resume state, so pointing a second day's batch at
an already-committed root would noop past it.  Daily cadence =
``<inc_out>/<date>`` roots, compacted away by the next full re-link.
"""

from __future__ import annotations

import json
import sys

from yargy_spark.plans.session import build_session


def main():
    base_out = sys.argv[1] if len(sys.argv) > 1 else '/tmp/kg_triples'
    inc_out = sys.argv[2] if len(sys.argv) > 2 else '/tmp/kg_increment'
    n_new = int(sys.argv[3]) if len(sys.argv) > 3 else 10_000
    n_buckets = int(sys.argv[4]) if len(sys.argv) > 4 else 16

    spark = build_session(app='yargy-spark-kg-increment')
    spark.sparkContext.setLogLevel('WARN')

    from yargy_spark.pipeline import run_incremental
    from yargy_spark.sources.transcripts import (DEFAULT_N_TURNS,
                                                 TURNS_PER_CONV,
                                                 synth_transcripts)

    if len(sys.argv) > 5:
        start = int(sys.argv[5])
    else:
        # continue after the batch job's default corpus (the SHARED
        # constant — a drifting pair of literals would overlap the
        # base's conversation ids), rounded up to a conversation
        # boundary so conv ids never span batches
        start = (-(-DEFAULT_N_TURNS // TURNS_PER_CONV)
                 * TURNS_PER_CONV)

    increment = synth_transcripts(spark, n_turns=n_new,
                                  start_turn=start)
    snap = run_incremental(spark, increment, base_out, inc_out,
                           n_buckets=n_buckets)
    if snap is None:
        print(json.dumps({
            'status': 'noop',
            'reason': 'increment committed and derived against the '
                      'current base entity_keys snapshot'}))
    else:
        print(json.dumps({'status': 'committed',
                          'snapshot': snap['snapshot_id'],
                          'counters': snap['counters'],
                          'totals': snap['totals']}))
    spark.stop()


if __name__ == '__main__':
    main()
