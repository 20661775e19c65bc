"""Tracing for the benchmark's traced run, recorded from outside the
program: spans around calls into each layer's public functions,
Spark job/stage/task counts from the public status tracker, and a
memory sampler over the whole process tree.

Spans live in memory (name, start, end, parent, run id) and are
written once when the run ends.  A layer's self time is its span's
duration minus the part of it covered by child spans.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
import uuid


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans = []          # dicts: id, name, parent, start, end
        self._stack = []
        self.counts = {}

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {'id': sid, 'name': name, 'run': self.run_id,
               'parent': self._stack[-1] if self._stack else None,
               'start': time.perf_counter(), 'end': None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec['end'] = time.perf_counter()

    def add(self, key: str, value) -> None:
        self.counts[key] = self.counts.get(key, 0) + value

    def total(self, name: str) -> float:
        return sum(s['end'] - s['start'] for s in self.spans
                   if s['name'] == name)

    def self_times(self) -> dict:
        """name -> summed self time (duration minus the union of its
        direct children's intervals; children of one span never
        overlap because calls are sequential)."""
        child = {}
        for s in self.spans:
            if s['parent'] is not None:
                child[s['parent']] = child.get(s['parent'], 0.0) + (
                    s['end'] - s['start'])
        out = {}
        for s in self.spans:
            own = s['end'] - s['start'] - child.get(s['id'], 0.0)
            out[s['name']] = out.get(s['name'], 0.0) + own
        return out

    def dump(self) -> list:
        return [dict(s) for s in self.spans]


def materialize(df):
    """Layer boundary for a lazy operator: persist + count, so the
    operator's work lands inside its own span."""
    df = df.persist()
    return df, df.count()


@contextlib.contextmanager
def patched(module, name: str, wrapper_factory):
    """Swap ``module.name`` for a wrapper around the original for the
    duration of the block (the program itself is not modified)."""
    orig = getattr(module, name)
    setattr(module, name, wrapper_factory(orig))
    try:
        yield orig
    finally:
        setattr(module, name, orig)


def job_counts(sc, group: str) -> dict:
    """Jobs, stages, tasks and failed tasks of one job group, read
    through the public status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages, tasks, failed = set(), 0, 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            if sid in stages:
                continue
            stage = st.getStageInfo(sid)
            if stage is None or stage.numCompletedTasks == 0:
                continue      # skipped stage (shuffle output reused)
            stages.add(sid)
            tasks += stage.numCompletedTasks
            failed += stage.numFailedTasks
    return {'jobs': len(jobs), 'stages': len(stages), 'tasks': tasks,
            'failed_tasks': failed}


def _tree_pss_bytes(root_pid: int) -> int:
    """Summed proportional set size of ``root_pid`` and all its
    descendants (driver, JVM, Python daemon and workers).  PSS splits
    pages shared between forked workers instead of counting them once
    per process, as a plain RSS sum would."""
    parent = {}
    for entry in os.listdir('/proc'):
        if not entry.isdigit():
            continue
        try:
            with open('/proc/%s/stat' % entry, 'rb') as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces: fields follow the ')'
        fields = stat[stat.rfind(b')') + 2:].split()
        parent[int(entry)] = int(fields[1])
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for pid, pp in parent.items():
            if pp == p and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    total = 0
    for pid in tree:
        try:
            with open('/proc/%d/smaps_rollup' % pid) as f:
                for line in f:
                    if line.startswith('Pss:'):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class MemorySampler:
    """Background sampler of the process tree's memory (PSS) while the
    block runs; ``peak`` is in bytes."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = None

    def _loop(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))
        return False


def dir_usage(root: str) -> tuple:
    """(bytes, files) of data files under ``root``."""
    size = files = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files
