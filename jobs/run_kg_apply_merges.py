"""spark-submit entry point: APPLY an increment's merge work-list.

    spark-submit --master <cluster> \
        --py-files dist/yargy_spark.zip \
        jobs/run_kg_apply_merges.py <inc_out> <apply_out> \
            [n_buckets] [triples_root ...]

Resolves the ``merge_candidates`` table committed by
jobs/run_kg_increment.py — connected components over the candidate
graph, numeric-min survivor per component — and commits to
``<apply_out>``:

* ``entity_keys``    — the increment's rolled-forward key state with
  retired entities rewritten to their survivor.  Point the NEXT
  increment's ``base_out`` here and it sees merged ids.
* ``entity_merges``  — the audit mapping (retired -> survivor),
  explicit and reviewable.
* ``triples_patch``  — when ``triples_root`` args are given:
  corrected rows for each root's triples whose subject was retired
  (apply = anti-join retired subjects, union the patch).

Rerun is a noop while the candidates and key-state snapshots are
unchanged; a re-committed increment re-derives everything.  This is
the middle path between ignoring merge candidates and the full
re-link (jobs/run_kg.py) that eventually supersedes the patch.
"""

from __future__ import annotations

import json
import sys

from yargy_spark.plans.session import build_session


def main():
    inc_out = sys.argv[1] if len(sys.argv) > 1 else '/tmp/kg_increment'
    apply_out = sys.argv[2] if len(sys.argv) > 2 else '/tmp/kg_merged'
    n_buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    triples_roots = sys.argv[4:] if len(sys.argv) > 4 else [inc_out]

    spark = build_session(app='yargy-spark-kg-apply-merges')
    spark.sparkContext.setLogLevel('WARN')

    from yargy_spark.pipeline import run_apply_merges

    snap = run_apply_merges(spark, inc_out, apply_out,
                            n_buckets=n_buckets,
                            triples_roots=triples_roots)
    if snap is None:
        print(json.dumps({
            'status': 'noop',
            'reason': 'merges already applied for the current '
                      'candidates and entity_keys snapshots'}))
    else:
        print(json.dumps({'status': 'committed',
                          'snapshot': snap['snapshot_id'],
                          'counters': snap['counters'],
                          'totals': snap['totals']}))
    spark.stop()


if __name__ == '__main__':
    main()
