"""Table maintenance: atomic commits, orphan vacuum, snapshot expiry
and bucket compaction keep the resume contract and row content
intact."""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from yargy_spark.sources import manifest as mf

pytestmark = pytest.mark.spark


def _commit(spark, root, bucket, rows):
    df = spark.createDataFrame(
        [(bucket, 'c%d' % i) for i in range(rows)],
        '%s int, conv_id string' % mf.BUCKET_COL)
    return mf.commit_append(df, root, note='t')


def test_expire_snapshots_preserves_resume(spark, tmp_path):
    root = str(tmp_path / 'tbl')
    for b in range(3):
        _commit(spark, root, b, rows=b + 1)   # ns ids: no collisions
    assert len(mf.snapshots(root)) == 3
    assert mf.pending_buckets(root, 4) == [3]

    removed = mf.expire_snapshots(root, keep_last=1)
    assert removed == 1
    snaps = mf.snapshots(root)
    assert len(snaps) == 2           # base + newest
    assert 'base' in snaps[0]['note']
    # resume contract unchanged: buckets 0-2 still committed
    assert mf.pending_buckets(root, 4) == [3]
    assert mf.committed_partitions(root)[1] == {'rows': 2}
    # base manifest carries the collapsed data dirs: data untouched
    assert len(snaps[0]['data_dirs']) == 2
    assert mf.read_table(spark, root).count() == 1 + 2 + 3


def test_crashed_commit_is_invisible(spark, tmp_path):
    """The manifest write is the commit point: a data directory
    without a manifest (crash window) is never read and resume
    re-lists its buckets; vacuum removes it."""
    root = str(tmp_path / 'tbl3')
    _commit(spark, root, 0, rows=5)
    # simulate a crash: data written, manifest missing
    snap = _commit(spark, root, 1, rows=7)
    os.remove(os.path.join(root, '_manifests',
                           snap['snapshot_id'] + '.json'))
    assert mf.read_table(spark, root).count() == 5
    assert mf.pending_buckets(root, 2) == [1]
    removed = mf.vacuum_orphans(root)
    assert removed == [snap['snapshot_id']]
    assert mf.read_table(spark, root).count() == 5


def test_crash_in_pointer_write_keeps_previous_id(spark, tmp_path,
                                                  monkeypatch):
    """A crash right after the ``current`` pointer is opened for
    writing must leave the previous snapshot id, not an empty file
    that ``current_snapshot`` would hand to every gate as ''.  Both
    writers of the pointer (a commit and a compaction) are crashed."""
    import builtins
    root = str(tmp_path / 'tbl_ptr')
    first = _commit(spark, root, 0, rows=3)['snapshot_id']
    _commit(spark, root, 0, rows=2)
    second = mf.current_snapshot(root)

    def crashing_open(path, mode='r', *args, **kwargs):
        fh = builtins.open(path, mode, *args, **kwargs)
        if 'w' in mode and os.path.basename(path).startswith('current'):
            fh.close()
            raise OSError('crash after opening the pointer')
        return fh

    monkeypatch.setattr(mf, 'open', crashing_open, raising=False)
    with pytest.raises(OSError):
        _commit(spark, root, 1, rows=4)
    assert mf.current_snapshot(root) == second != first
    with pytest.raises(OSError):
        mf.compact_bucket(spark, root, 0)
    assert mf.current_snapshot(root) == second


def test_compact_bucket_row_preserving(spark, tmp_path):
    root = str(tmp_path / 'tbl2')
    # several small commits into the same bucket -> many files
    for _ in range(4):
        _commit(spark, root, 0, rows=10)
    pattern = os.path.join(root, 'data', '*', 'bucket=0', '*.parquet')
    before_files = len(glob.glob(pattern))
    assert before_files > 4
    before = (mf.read_table(spark, root)
              .groupBy('conv_id').count().collect())

    n = mf.compact_bucket(spark, root, 0)
    assert n == 40
    # committed dirs are NEVER rewritten: the compacted rows live in a
    # fresh single-file snapshot dir; old (dir, bucket) pairs are
    # tombstoned via manifest excludes
    compact_pattern = os.path.join(root, 'data', '*-compact',
                                   'bucket=0', '*.parquet')
    assert len(glob.glob(compact_pattern)) == 1
    after = (mf.read_table(spark, root)
             .groupBy('conv_id').count().collect())
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    # resume contract untouched
    assert mf.pending_buckets(root, 1) == []

    # idempotent re-compaction: reads only the live copy, no doubling
    n2 = mf.compact_bucket(spark, root, 0)
    assert n2 == 40
    assert mf.read_table(spark, root).count() == 40

    # expiry merges the exclude tombstones into the base manifest
    mf.expire_snapshots(root, keep_last=1)
    assert mf.read_table(spark, root).count() == 40


def test_compact_crash_before_manifest_keeps_old_data(spark, tmp_path,
                                                      monkeypatch):
    """A crash between the compacted-data write and the manifest write
    must leave the table exactly as before (the new dir is an orphan
    no reader sees; vacuum removes it; retry succeeds)."""
    root = str(tmp_path / 'tbl5')
    for _ in range(3):
        _commit(spark, root, 0, rows=10)
    before = sorted(map(tuple, mf.read_table(spark, root).collect()))

    def boom(*a, **k):
        raise OSError('simulated crash before manifest write')

    monkeypatch.setattr(mf, 'write_manifest', boom)
    with pytest.raises(OSError):
        mf.compact_bucket(spark, root, 0)
    monkeypatch.undo()

    # table unchanged; orphan compact dir invisible and vacuumable
    assert sorted(map(tuple, mf.read_table(spark, root).collect())) \
        == before
    removed = mf.vacuum_orphans(root)
    assert any(d.endswith('-compact') for d in removed)
    assert mf.compact_bucket(spark, root, 0) == 30
    assert sorted(map(tuple, mf.read_table(spark, root).collect())) \
        == before


def test_empty_commit_and_zero_row_lineage(spark, tmp_path):
    """A commit whose DataFrame is empty must still produce a valid
    manifest (no schema-inference crash), and zero-row bucket entries
    keep resume from livelooping on buckets that yield nothing."""
    root = str(tmp_path / 'tbl4')
    empty = spark.createDataFrame(
        [], '%s int, conv_id string' % mf.BUCKET_COL)
    snap = mf.commit_append(empty, root, note='empty',
                            expected_buckets=[0, 1])
    assert snap['data_dirs'] == []
    assert snap['partitions'] == {0: {'rows': 0}, 1: {'rows': 0}}
    assert mf.pending_buckets(root, 2) == []   # no reprocessing loop
    _commit(spark, root, 1, rows=3)
    assert mf.read_table(spark, root).count() == 3


def test_commit_stats_from_parquet_footers(spark, tmp_path):
    """Commit stats are summed from the written files' parquet
    footers: with several files per bucket they equal a Spark count of
    the written data, zero-row lineage buckets keep their entries, an
    all-empty commit records only those, and a callable counter sees
    the final totals."""
    root = str(tmp_path / 'footers')
    df = (spark.range(600)
          .select((F.col('id') % 3).cast('int').alias(mf.BUCKET_COL),
                  F.format_string('c%d', 'id').alias('conv_id'))
          .repartition(3))
    snap = mf.commit_append(df, root, note='t',
                            counters={'rows': lambda t: t['rows'],
                                      'fixed': 7},
                            expected_buckets=[0, 1, 2, 3])
    data_dir = os.path.join(root, 'data', snap['snapshot_id'])
    for b in range(3):
        assert len(glob.glob(os.path.join(
            data_dir, 'bucket=%d' % b, '*.parquet'))) > 1
    written = spark.read.parquet(data_dir)
    want = {r[mf.BUCKET_COL]: {'rows': r['count']} for r in
            written.groupBy(mf.BUCKET_COL).count().collect()}
    want[3] = {'rows': 0}
    assert snap['partitions'] == want
    assert snap['totals'] == {'rows': written.count(), 'partitions': 4}
    assert snap['counters'] == {'rows': 600, 'fixed': 7}
    assert mf.committed_partitions(root)[3] == {'rows': 0}

    empty = mf.commit_append(df.where(F.lit(False)), root, note='e',
                             counters={'rows': lambda t: t['rows']},
                             expected_buckets=[4])
    assert empty['data_dirs'] == []
    assert empty['partitions'] == {4: {'rows': 0}}
    assert empty['totals'] == {'rows': 0, 'partitions': 1}
    assert empty['counters'] == {'rows': 0}
    assert mf.pending_buckets(root, 6) == [5]
    assert mf.read_table(spark, root).count() == 600


def test_read_table_starts_no_job(spark, tmp_path):
    """A commit records its frame's schema, and ``read_table`` reads
    with it: no schema-inference job, and the same schema and rows as
    the inferred read, which a manifest without the key still gets."""
    import json
    root = str(tmp_path / 'schema')
    df = spark.createDataFrame(
        [(i % 2, 'c%d' % i, [(i, 'x')]) for i in range(10)],
        '%s int not null, conv_id string, '
        'attrs array<struct<n:int,s:string>>' % mf.BUCKET_COL)
    snap = mf.commit_append(df, root, note='t')
    mf.commit_append(df.where(F.col(mf.BUCKET_COL) == 1), root, note='u')
    sc = spark.sparkContext
    group = 'read_table-no-job-%s' % snap['snapshot_id']
    sc.setJobGroup(group, 'read_table starts no job')
    try:
        got = mf.read_table(spark, root)
    finally:
        sc.setLocalProperty('spark.jobGroup.id', None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []

    path = os.path.join(root, '_manifests', snap['snapshot_id'] + '.json')
    with open(path, encoding='utf-8') as fh:
        manifest = json.load(fh)
    del manifest['schema']
    mf.write_manifest(root, manifest)
    inferred = mf.read_table(spark, root)
    assert got.schema == inferred.schema
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, inferred.collect()))
    assert got.count() == 15


def test_prep_bucket_granular_resume(spark, tmp_path):
    """A bucketed table commits at bucket granularity: a table
    holding only some buckets resumes by recomputing EXACTLY the
    missing ones, and the re-derived rows are byte-identical to a
    single-shot run (pure-function-of-(corpus, bucket) contract)."""
    from pyspark.sql import functions as F
    from yargy_spark.sources import manifest as mf

    docs = spark.read.parquet(
        '/root/testdata/sf0.001/documents.parquet')
    bucketed = mf.with_bucket(docs, 4, key='doc_id').persist()
    root = str(tmp_path / 'docs')

    # partial commit: only buckets 0 and 1 made it before the "crash"
    part = bucketed.where(F.col(mf.BUCKET_COL).isin([0, 1]))
    mf.commit_append(part, root, note='partial',
                     expected_buckets=[0, 1], n_buckets=4)
    assert mf.pending_buckets(root, 4) == [2, 3]

    # resume: recompute + commit exactly the missing buckets
    rest = bucketed.where(F.col(mf.BUCKET_COL).isin([2, 3]))
    mf.commit_append(rest, root, note='resume',
                     expected_buckets=[2, 3], n_buckets=4)
    assert mf.pending_buckets(root, 4) == []

    got = {tuple(r) for r in
           mf.read_table(spark, root).select(
               'doc_id', 'bucket', 'text', 'n_chars').collect()}
    want = {tuple(r) for r in
            bucketed.select('doc_id', 'bucket', 'text',
                            'n_chars').collect()}
    assert got == want
    bucketed.unpersist()


def test_dedup_increment_job_chain(spark, tmp_path):
    """pipeline.run_dedup_increment: commits pairs + rolled state,
    noops on unchanged (base state, batch), re-derives on a CHANGED
    batch, chains day-2 off day-1's root, and refuses base==out."""
    import pytest
    from pyspark.sql import functions as F
    from yargy_spark.operators.dedup import minhash_state
    from yargy_spark.pipeline import run_dedup_increment
    from yargy_spark.sources import manifest as mf

    base = str(tmp_path / 'base')
    day1 = str(tmp_path / 'day1')
    day2 = str(tmp_path / 'day2')
    texts = {
        1: 'the quick brown fox jumps over the lazy dog near the bank',
        2: 'completely different words about spark clusters shuffling '
           'partitions everywhere constantly',
    }
    docs0 = spark.createDataFrame(list(texts.items()),
                                  'doc_id long, text string')
    mf.commit_replace(
        mf.with_bucket(minhash_state(docs0), 4, key='doc_id'),
        base + '/minhash_state', note='minhash_state', n_buckets=4)

    batch1 = spark.createDataFrame(
        [(10, texts[1]), (11, 'fresh prose on morphology grammars '
                              'parsers and knowledge graph triples')],
        'doc_id long, text string')
    snap = run_dedup_increment(spark, batch1, base, day1, n_buckets=4)
    assert snap is not None
    pairs = {(r['a'], r['b'], r['vs_state']) for r in
             mf.read_table(spark, day1 + '/dup_pairs').collect()}
    assert pairs == {(1, 10, 1)}
    # pair counters: footer total and the observed cross-state share,
    # the same on both manifests the job commits
    p_snap = mf.snapshots(day1 + '/dup_pairs')[-1]
    for s in (p_snap, snap):
        assert s['counters']['pairs'] == 1
        assert s['counters']['vs_state_pairs'] == 1
        assert s['counters']['docs_in'] == 2
    assert p_snap['totals']['rows'] == 1
    state1 = {r['doc_id'] for r in
              mf.read_table(spark, day1 + '/minhash_state').collect()}
    assert state1 == {1, 2, 11}

    # rerun: noop (same base snapshot, same batch stamp)
    assert run_dedup_increment(spark, batch1, base, day1,
                               n_buckets=4) is None
    # changed batch at the same root: re-derives
    batch1b = batch1.unionByName(spark.createDataFrame(
        [(12, texts[2])], 'doc_id long, text string'))
    snap_b = run_dedup_increment(spark, batch1b, base, day1,
                                 n_buckets=4)
    assert snap_b is not None
    assert {(r['a'], r['b'], r['vs_state']) for r in
            mf.read_table(spark, day1 + '/dup_pairs').collect()} \
        == {(1, 10, 1), (2, 12, 1)}
    assert snap_b['counters']['pairs'] == 2
    assert snap_b['counters']['vs_state_pairs'] == 2

    # day 2 chains off day 1's rolled state: doc 11 (a day-1
    # survivor, absent from the base) is only reachable through it
    batch2 = spark.createDataFrame(
        [(20, 'fresh prose on morphology grammars parsers and '
              'knowledge graph triples')],
        'doc_id long, text string')
    snap2 = run_dedup_increment(spark, batch2, day1, day2,
                                n_buckets=4)
    assert snap2 is not None
    assert {(r['a'], r['b'], r['vs_state']) for r in
            mf.read_table(spark, day2 + '/dup_pairs').collect()} \
        == {(11, 20, 1)}

    # a within-batch pair counts in pairs, not in vs_state_pairs
    twin = 'unrelated notes on bucket joins and manifest commit points'
    snap3 = run_dedup_increment(
        spark, spark.createDataFrame([(30, twin), (31, twin)],
                                     'doc_id long, text string'),
        day1, str(tmp_path / 'day2b'), n_buckets=4)
    assert (snap3['counters']['pairs'],
            snap3['counters']['vs_state_pairs']) == (1, 0)

    with pytest.raises(ValueError):
        run_dedup_increment(spark, batch2, day1, day1, n_buckets=4)
    with pytest.raises(ValueError):   # absent base state
        run_dedup_increment(spark, batch2, str(tmp_path / 'nowhere'),
                            day2, n_buckets=4)
    with pytest.raises(ValueError):   # n_buckets drift guard
        run_dedup_increment(spark, batch2, day1, day2, n_buckets=8)
