"""Iceberg-style table layer: partitioned parquet + JSON manifests,
partition-granular resume, per-partition lineage and counters.

No Iceberg runtime jar is available offline (SURVEY.md §7.1 R3), so
this module provides the snapshot/manifest behavior the north_rule
requires behind a narrow API; a real Iceberg catalog slots in by
swapping these functions for catalog calls.

Layout for a table at <root>:
    <root>/data/bucket=<k>/...parquet      (bucketed by conv hash)
    <root>/_manifests/snap-<id>.json       (one per commit)
    <root>/_manifests/current              (text: latest snapshot id)

Manifest JSON:
    {snapshot_id, parent_id, created_utc, partitions:
        {bucket: {rows: n}}, totals: {rows: n}, note, schema}

Resume contract: ``pending_buckets`` diffs the desired bucket set
against all committed manifests, so a restarted job processes only
unfinished buckets (anti-join restart, SURVEY.md §2.10).
"""

from __future__ import annotations

import json
import os
import time
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = 'bucket'


def with_bucket(df: DataFrame, n_buckets: int,
                key: str = 'conv_id') -> DataFrame:
    """Deterministic bucketing column — the table's partition spec
    (bucket(N, conv_id) per SURVEY.md §2.10)."""
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets))
        .cast('int'))


def _manifest_dir(root: str) -> str:
    return os.path.join(root, '_manifests')


def committed_partitions(root: str) -> Dict[int, dict]:
    """Union of partition stats over all committed snapshots."""
    done: Dict[int, dict] = {}
    for snap in snapshots(root):
        for bucket, stats in snap.get('partitions', {}).items():
            done[int(bucket)] = stats
    return done


def pending_buckets(root: str, n_buckets: int) -> List[int]:
    done = committed_partitions(root)
    return [b for b in range(n_buckets) if b not in done]


def current_snapshot(root: str) -> Optional[str]:
    path = os.path.join(_manifest_dir(root), 'current')
    if not os.path.exists(path):
        return None
    with open(path, 'r', encoding='utf-8') as fh:
        return fh.read().strip()


def _write_current(root: str, snapshot_id: str) -> None:
    """Point ``_manifests/current`` at ``snapshot_id`` atomically (tmp
    + rename, like ``write_manifest``): a crash mid-write leaves the
    previous id in place, never an empty pointer."""
    path = os.path.join(_manifest_dir(root), 'current')
    tmp = path + '.tmp'
    with open(tmp, 'w', encoding='utf-8') as fh:
        fh.write(snapshot_id)
    os.replace(tmp, path)


def check_n_buckets(root: str, n_buckets: int) -> None:
    """Refuse to mix bucket counts: a table committed under
    bucket(N, conv_id) read back as bucket(M != N) silently duplicates
    data on resume (buckets pending under M overlap buckets committed
    under N).  Manifests record their bucket count; any mismatch is an
    error, not a guess."""
    for snap in snapshots(root):
        recorded = snap.get('n_buckets')
        if recorded is not None and recorded != n_buckets:
            raise ValueError(
                'table at %s was committed with n_buckets=%d; '
                'rerun with the same value (got %d) or write to a '
                'new table root' % (root, recorded, n_buckets))


def _footer_partitions(data_dir: str) -> Dict[int, dict]:
    """bucket -> {'rows': n} summed over the parquet footers under
    ``<data_dir>/bucket=<k>/`` (driver-side metadata reads, no Spark
    job).  Spark creates a bucket directory only for a bucket that
    received rows."""
    import pyarrow.parquet as pq
    prefix = BUCKET_COL + '='
    partitions = {}
    for name in os.listdir(data_dir):
        if not name.startswith(prefix):
            continue
        bdir = os.path.join(data_dir, name)
        partitions[int(name[len(prefix):])] = {'rows': sum(
            pq.read_metadata(os.path.join(bdir, f)).num_rows
            for f in os.listdir(bdir)
            if f.endswith('.parquet') and not f.startswith(('.', '_')))}
    return dict(sorted(partitions.items()))


def _commit(df: DataFrame, root: str, note: str,
            counters: Optional[dict],
            expected_buckets: Optional[List[int]],
            n_buckets: Optional[int],
            replace: bool,
            source_snapshot: Optional[str]) -> dict:
    """Shared commit path: write df into its OWN snapshot directory,
    then atomically write the manifest (the commit point).  A crash
    between the two leaves an orphan directory no reader sees
    (``vacuum_orphans``) — never duplicate rows on resume.

    Per-partition stats come from the written files' parquet footers,
    summed on the driver: the write is the commit's only Spark job,
    so the upstream lineage executes exactly once.  A counter given
    as a callable is evaluated after the write returns, with the
    commit's ``totals`` — the hook for counters observed on the write
    itself (``DataFrame.observe``) — so every counter is final when
    the one manifest write happens."""
    snapshot_id = 'snap-%d' % time.time_ns()
    data_dir = os.path.join(root, 'data', snapshot_id)
    (df.write.mode('error')
       .partitionBy(BUCKET_COL)
       .parquet(data_dir))

    # an all-empty commit writes only _SUCCESS: the manifest records
    # no partitions (callers add zero-row bucket entries for lineage)
    partitions = _footer_partitions(data_dir)
    has_files = bool(partitions)
    for b in (expected_buckets or []):
        partitions.setdefault(int(b), {'rows': 0})
    totals = {'rows': sum(p['rows'] for p in partitions.values()),
              'partitions': len(partitions)}
    counters = {k: v(totals) if callable(v) else v
                for k, v in (counters or {}).items()}

    manifest = {
        'snapshot_id': snapshot_id,
        'parent_id': current_snapshot(root),
        'created_utc': time.strftime('%Y-%m-%dT%H:%M:%SZ',
                                     time.gmtime()),
        'data_dirs': [snapshot_id] if has_files else [],
        'partitions': partitions,
        'totals': totals,
        'counters': counters,
        'note': note,
        # the written frame's schema: ``read_table`` hands it to the
        # reader, which then starts no schema-inference job
        'schema': df.schema.jsonValue(),
    }
    if replace:
        manifest['replace'] = True
        manifest['source_snapshot'] = source_snapshot
    if n_buckets is not None:
        manifest['n_buckets'] = n_buckets
    write_manifest(root, manifest)
    _write_current(root, snapshot_id)
    return manifest


def commit_append(df: DataFrame, root: str,
                  note: str = '', counters: Optional[dict] = None,
                  expected_buckets: Optional[List[int]] = None,
                  n_buckets: Optional[int] = None) -> dict:
    """Append df (must carry the bucket column) as a new snapshot.

    ``expected_buckets``: buckets this commit COVERS even when they
    produced zero rows — they get zero-row lineage entries inside the
    same atomic manifest write, so resume never reprocesses them
    (the invariant every resumable job needs).  A ``counters`` value
    may be a callable of the commit's ``totals``, resolved after the
    write (see ``_commit``)."""
    return _commit(df, root, note, counters, expected_buckets,
                   n_buckets, replace=False, source_snapshot=None)


def commit_replace(df: DataFrame, root: str,
                   note: str = '', counters: Optional[dict] = None,
                   source_snapshot: Optional[str] = None,
                   n_buckets: Optional[int] = None) -> dict:
    """Commit ``df`` as a FULL-REPLACE snapshot: readers see only this
    snapshot's data (and later appends); all earlier data directories
    become invisible (and vacuumable).  Used for derived tables that
    must be globally consistent — entity linking is a global
    computation, so its triples output is recomputed whole rather
    than appended per bucket (appending would emit conflicting
    entity_ids across snapshots).  ``source_snapshot`` records the
    upstream snapshot this result was derived from, so a re-run can
    detect it is already up to date."""
    return _commit(df, root, note, counters, expected_buckets=None,
                   n_buckets=n_buckets, replace=True,
                   source_snapshot=source_snapshot)


def chain_is_current(roots: List[str], n_buckets: int,
                     source_snapshot: str, **match) -> bool:
    """The no-op gate of a ``commit_chain``: True when every root's
    newest REPLACE snapshot is stamped with ``source_snapshot`` and
    its counters equal ``match``.  Checking every root (not only the
    last one written) makes the gate independent of commit order and
    sends a root that was never written — a crash mid-chain, a root
    that predates the chain — back through the whole chain.  Refuses
    ``n_buckets`` drift on every root first (``check_n_buckets``)."""
    for root in roots:
        check_n_buckets(root, n_buckets)
    for root in roots:
        last = next((s for s in reversed(snapshots(root))
                     if s.get('replace')), {})
        counters = last.get('counters', {})
        if last.get('source_snapshot') != source_snapshot or \
                any(counters.get(k) != v for k, v in match.items()):
            return False
    return True


def commit_chain(commits, n_buckets: int, source_snapshot: str,
                 t0: float, **match) -> dict:
    """REPLACE-commit ``(root, note, df, key, counters)`` in order,
    each bucketed on ``key`` and stamped with ``source_snapshot``,
    ``n_buckets`` and the ``match`` counters the gate
    (``chain_is_current``) compares.  Returns the last manifest.

    Crash ordering: each commit is atomic, and the gate requires every
    root in the chain to be stamped, so a crash between two commits
    leaves at least one root stale and the rerun re-derives the whole
    chain.  A counter one commit needs from an earlier write is an
    ``Observation`` on that write, passed as a callable.  Only the
    last commit carries ``wall_sec`` (seconds since ``t0``, taken
    after its write)."""
    for i, (root, note, df, key, counters) in enumerate(commits, 1):
        counters = dict(counters or {}, **match)
        if i == len(commits):
            counters['wall_sec'] = lambda _: round(time.time() - t0, 3)
        # module global, looked up per call: wrappers installed on
        # ``commit_replace`` see every commit of the chain
        snap = commit_replace(with_bucket(df, n_buckets, key=key), root,
                              note=note, counters=counters,
                              source_snapshot=source_snapshot,
                              n_buckets=n_buckets)
    return snap


def write_manifest(root: str, manifest: dict) -> None:
    """Atomically (tmp + rename) write/replace a snapshot manifest —
    the manifest IS the commit point, so a torn write would make
    committed data unreadable and crash every later resume."""
    mdir = _manifest_dir(root)
    os.makedirs(mdir, exist_ok=True)
    path = os.path.join(mdir, manifest['snapshot_id'] + '.json')
    tmp = path + '.tmp'
    with open(tmp, 'w', encoding='utf-8') as fh:
        json.dump(manifest, fh, ensure_ascii=False, indent=1)
    os.replace(tmp, path)


def committed_data_dirs(root: str) -> List[str]:
    """Snapshot data directories referenced by committed manifests.
    A ``replace`` snapshot supersedes everything before it: the live
    set restarts there."""
    dirs: List[str] = []
    for snap in snapshots(root):
        if snap.get('replace'):
            dirs = []
        for d in snap.get('data_dirs', []):
            if d not in dirs:
                dirs.append(d)
    return dirs


def excluded_buckets(root: str) -> Dict[str, List[int]]:
    """dir -> buckets superseded by a later compaction snapshot.

    ``compact_bucket`` never rewrites committed directories; it writes
    the bucket's rows into a fresh snapshot dir and records the old
    (dir, bucket) pairs under the manifest's ``excludes`` key.  Readers
    must skip those pairs or they would double-read compacted rows."""
    out: Dict[str, List[int]] = {}
    for snap in snapshots(root):
        for d, buckets in snap.get('excludes', {}).items():
            cur = out.setdefault(d, [])
            for b in buckets:
                if int(b) not in cur:
                    cur.append(int(b))
    return out


def read_table(spark: SparkSession, root: str) -> DataFrame:
    """Union of all COMMITTED snapshot directories (orphans from
    crashed commits are invisible).  Each directory is read as its own
    partitioned root — a multi-path read would trip Spark's common-
    base partition discovery — and bucket filters still prune into
    every scan.  Buckets superseded by compaction snapshots are
    filtered out per-directory (partition-pruned, not row-scanned).
    A directory whose manifest recorded its schema is read with it and
    starts no Spark job; one without (compaction, expired bases,
    older manifests) is read with the schema inferred from its
    files."""
    from functools import reduce
    from pyspark.sql.types import StructType
    excludes = excluded_buckets(root)
    schemas = {s['snapshot_id']: s['schema'] for s in snapshots(root)
               if 'schema' in s}
    parts = []
    for d in committed_data_dirs(root):
        reader = spark.read
        if d in schemas:
            reader = reader.schema(StructType.fromJson(schemas[d]))
        df = reader.parquet(os.path.join(root, 'data', d))
        skip = excludes.get(d)
        if skip:
            df = df.where(~F.col(BUCKET_COL).isin(skip))
        parts.append(df)
    if not parts:
        raise FileNotFoundError('no committed snapshots under %s' % root)
    return reduce(DataFrame.unionByName, parts)


def vacuum_orphans(root: str) -> List[str]:
    """Delete data directories no manifest references (crashed
    commits); returns the removed directory names."""
    import shutil
    data_root = os.path.join(root, 'data')
    if not os.path.isdir(data_root):
        return []
    committed = set(committed_data_dirs(root))
    removed = []
    for name in sorted(os.listdir(data_root)):
        if name not in committed:
            shutil.rmtree(os.path.join(data_root, name))
            removed.append(name)
    return removed


# -------------------------------------------------- table maintenance

def snapshots(root: str) -> List[dict]:
    """Committed manifests in commit order (oldest first)."""
    mdir = _manifest_dir(root)
    out = []
    if not os.path.isdir(mdir):
        return out
    for name in sorted(os.listdir(mdir)):
        if name.startswith('snap-') and name.endswith('.json'):
            with open(os.path.join(mdir, name), 'r',
                      encoding='utf-8') as fh:
                out.append(json.load(fh))
    return out


def expire_snapshots(root: str, keep_last: int = 1) -> int:
    """Collapse manifests older than the newest ``keep_last`` into one
    base manifest (partition lineage merged, later stats win), so the
    manifest dir stays O(keep_last) on long-running tables while the
    resume contract (``pending_buckets``) is preserved.  Returns the
    number of manifests removed."""
    mdir = _manifest_dir(root)
    names = sorted(n for n in os.listdir(mdir)
                   if n.startswith('snap-') and n.endswith('.json')) \
        if os.path.isdir(mdir) else []
    if len(names) <= keep_last + 1:
        return 0
    old, _kept = names[:-keep_last], names[-keep_last:]
    merged_parts: Dict[str, dict] = {}
    merged_dirs: List[str] = []
    merged_excl: Dict[str, List[int]] = {}
    merged_replace = False
    merged_source = None
    merged_n_buckets = None
    total_rows = 0
    for name in old:
        with open(os.path.join(mdir, name), 'r',
                  encoding='utf-8') as fh:
            snap = json.load(fh)
        if snap.get('replace'):
            # replace supersedes everything merged so far
            merged_parts, merged_dirs, merged_excl = {}, [], {}
            total_rows = 0
            merged_replace = True
            merged_source = snap.get('source_snapshot')
        if snap.get('n_buckets') is not None:
            merged_n_buckets = snap['n_buckets']
        for bucket, stats in snap.get('partitions', {}).items():
            # SUM per-bucket rows: the same bucket may be appended in
            # several expired snapshots; later-wins would understate
            # the base manifest vs its own totals.rows
            cur = merged_parts.setdefault(bucket, {'rows': 0})
            cur['rows'] += stats.get('rows', 0)
        for d in snap.get('data_dirs', []):
            if d not in merged_dirs:
                merged_dirs.append(d)
        for d, buckets in snap.get('excludes', {}).items():
            cur_b = merged_excl.setdefault(d, [])
            for b in buckets:
                if int(b) not in cur_b:
                    cur_b.append(int(b))
        total_rows += snap.get('totals', {}).get('rows', 0)
    base = {
        'snapshot_id': old[0][:-5],   # keeps sort position
        'parent_id': None,
        'created_utc': time.strftime('%Y-%m-%dT%H:%M:%SZ',
                                     time.gmtime()),
        'data_dirs': merged_dirs,
        'partitions': merged_parts,
        'excludes': merged_excl,
        'totals': {'rows': total_rows,
                   'partitions': len(merged_parts)},
        'counters': {'expired_snapshots': len(old)},
        'note': 'base (expired %d snapshots)' % len(old),
    }
    if merged_replace:
        base['replace'] = True
        base['source_snapshot'] = merged_source
    if merged_n_buckets is not None:
        base['n_buckets'] = merged_n_buckets
    write_manifest(root, base)
    for name in old[1:]:
        os.remove(os.path.join(mdir, name))
    return len(old) - 1


def compact_bucket(spark: SparkSession, root: str, bucket: int,
                   target_files: int = 1) -> int:
    """Coalesce one bucket's rows (scattered across snapshot
    directories as small files) into ``target_files`` files.

    Crash-safe: committed directories are NEVER rewritten.  The
    bucket's rows land in a fresh snapshot directory first; the
    atomic manifest write (recording the new dir plus ``excludes``
    tombstones for the old (dir, bucket) pairs) is the commit point.
    A crash before the manifest leaves an invisible orphan dir
    (``vacuum_orphans`` removes it) and readers keep seeing the old
    data.  Returns the bucket's total row count."""
    from functools import reduce
    excludes = excluded_buckets(root)
    src_dirs = []
    parts = []
    for d in committed_data_dirs(root):
        if bucket in excludes.get(d, []):
            continue  # already superseded by an earlier compaction
        df = (spark.read.parquet(os.path.join(root, 'data', d))
              .where(F.col(BUCKET_COL) == bucket))
        src_dirs.append(d)
        parts.append(df)
    if not parts:
        return 0
    merged = reduce(DataFrame.unionByName, parts)
    n = merged.count()
    if n == 0:
        return 0

    snapshot_id = 'snap-%d-compact' % time.time_ns()
    data_dir = os.path.join(root, 'data', snapshot_id)
    (merged.coalesce(target_files)
     .write.mode('error')
     .partitionBy(BUCKET_COL)
     .parquet(data_dir))

    manifest = {
        'snapshot_id': snapshot_id,
        'parent_id': current_snapshot(root),
        'created_utc': time.strftime('%Y-%m-%dT%H:%M:%SZ',
                                     time.gmtime()),
        'data_dirs': [snapshot_id],
        # no new lineage: the bucket stays committed via its original
        # manifests; this snapshot only moves bytes
        'partitions': {},
        'excludes': {d: [bucket] for d in src_dirs},
        'totals': {'rows': 0, 'partitions': 0},
        'counters': {'compacted_bucket': bucket, 'compacted_rows': n},
        'note': 'compaction of bucket %d' % bucket,
    }
    write_manifest(root, manifest)
    _write_current(root, snapshot_id)
    return n
