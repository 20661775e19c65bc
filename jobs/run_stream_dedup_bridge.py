"""spark-submit entry point: streaming near-dup -> committed state.

    spark-submit --master <cluster> \
        --py-files dist/yargy_spark.zip \
        jobs/run_stream_dedup_bridge.py <src_dir> <base_out> \
            <bridge_out> [n_buckets] [docs_parquet]

Drains the JSON docs stream at ``src_dir`` (schema: doc_id long,
text string, ts timestamp) and rolls every CLOSED event-time window
into the committed ``minhash_state``/``dup_pairs`` chain via
``pipeline.run_stream_dedup_bridge`` — window-close -> exact-verify
-> state roll-forward.  ``base_out`` must hold the state committed
by ``pipeline.run_dedup`` (jobs/run_dedup.py) or a prior
increment/bridge head.  Rerun with no new stream data is a no-op; new
files close older windows and commit them chained off the current
head.

If ``src_dir`` does not exist, a deterministic demo stream is
synthesized from the first 20 documents of ``docs_parquet`` (default:
the sf0.001 documents table, as in jobs/run_dedup.py): ids offset
above the base corpus (the increment contract), 20 docs across two
5-minute windows plus a late sentinel that closes them.
"""

from __future__ import annotations

import json
import os
import sys

from yargy_spark.plans.session import build_session


def synth_stream(src_dir: str, docs_path: str, spark) -> None:
    import pandas as pd  # noqa: F401  (parquet read below)
    pdf = (spark.read.parquet(docs_path)
           .orderBy('doc_id').limit(20)
           .select('doc_id', 'text').toPandas())
    offset = 1_000_000_000
    os.makedirs(src_dir, exist_ok=True)
    with open(os.path.join(src_dir, 'b1.json'), 'w',
              encoding='utf-8') as fh:
        for i, (doc_id, text) in enumerate(
                zip(pdf['doc_id'], pdf['text'])):
            fh.write(json.dumps({
                'doc_id': int(doc_id) + offset,
                'text': text,
                'ts': '2026-01-01T00:%02d:00.000Z' % (i % 10),
            }) + '\n')
        # late sentinel advances the watermark past both windows
        fh.write(json.dumps({
            'doc_id': offset + 10_000_000,
            'text': 'watermark sentinel document',
            'ts': '2026-01-01T01:00:00.000Z'}) + '\n')


def main():
    src_dir = sys.argv[1] if len(sys.argv) > 1 else '/tmp/bridge_src'
    base_out = sys.argv[2] if len(sys.argv) > 2 else '/tmp/dedup_out'
    out_root = sys.argv[3] if len(sys.argv) > 3 else '/tmp/bridge_out'
    n_buckets = int(sys.argv[4]) if len(sys.argv) > 4 else 8
    docs_path = (sys.argv[5] if len(sys.argv) > 5
                 else '/root/testdata/sf0.001/documents.parquet')

    spark = build_session(app='stream-dedup-bridge',
                          shuffle_partitions=8)
    spark.sparkContext.setLogLevel('WARN')

    from yargy_spark.pipeline import run_stream_dedup_bridge

    if not os.path.isdir(src_dir):
        synth_stream(src_dir, docs_path, spark)

    res = run_stream_dedup_bridge(spark, src_dir, base_out, out_root,
                                  n_buckets=n_buckets)
    print(json.dumps({'status': 'committed' if res['committed']
                      else 'noop', **res}))
    spark.stop()


if __name__ == '__main__':
    main()
