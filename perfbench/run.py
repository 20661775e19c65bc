"""Seeded KG construction benchmark.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload

Run from the repository root.  Each invocation runs ONE workload in
its own process on ``local[<nproc>]``: it generates the seeded inputs
as parquet, sets up (session build + warm-up pass, repeated, plus any
one-time base commit), then calls the workload repeatedly until
``--seconds`` of call time is measured, checking every call's output
outside the timed region.  ``--trace 1`` adds one traced call and
reports per-layer metrics instead of end-to-end ones.

The last line of standard output is the result document::

    {"correct": ..., "attempted": N, "failed": F, "metrics": {...}}

Everything else (Spark and JVM logs included) goes to standard error;
a detailed report (inputs, every sample, checks, spans) is written to
``perfbench/_out/<workload>-seed<seed>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
MIN_CALLS = 2        # timed calls per run, at least
WATCHDOG_S = 170

END_TO_END = (('wall_s', 's'), ('rows_per_s', 'rows/s'),
              ('setup_s', 's'), ('peak_rss_mb', 'MB'))

# Per-layer metrics the traced run prints.  The report holds more: the
# self time of every span, and pipeline.run_pipeline.s, which only
# kg_batch (not in BENCHMARK.json's workload set) can move.  Spans whose
# self time equals a printed layer total are not printed twice.
SELF_SPANS = ('operators.linking.incremental', 'sources.manifest.read')

PER_LAYER = (
    ('plans.session.build_s', 's'), ('plans.session.jobs', 'count'),
    ('plans.session.stages', 'count'), ('plans.session.tasks', 'count'),
    ('plans.session.failed_tasks', 'count'),
    ('kernel.tokenize.us_per_turn', 'us'),
    ('kernel.morphology.us_per_turn', 'us'),
    ('kernel.earley.us_per_turn', 'us'),
    ('kernel.earley.chart_states_per_turn', 'count'),
    ('kernel.interp.us_per_mention', 'us'),
    ('extractors.us_per_turn', 'us'),
    ('extractors.mentions_per_turn', 'count'),
    ('extractors.trigger_pass_frac', 'frac'),
    ('extractors.rule_useful_frac', 'frac'),
    ('extractors.budget_aborts', 'count'), ('extractors.errors', 'count'),
    ('operators.extract.s', 's'), ('operators.extract.turns_in', 'count'),
    ('operators.extract.mentions_out', 'count'),
    ('operators.extract.kernel_share', 'frac'),
    ('operators.linking.edges', 'count'),
    ('operators.linking.edges_s', 's'), ('operators.linking.cc_s', 's'),
    ('operators.linking.components', 'count'),
    ('operators.linking.max_component', 'count'),
    ('operators.linking.s', 's'),
    ('operators.linking.incremental_s', 's'),
    ('operators.linking.merge_candidates', 'count'),
    ('operators.triples.s', 's'), ('operators.triples.rows_out', 'count'),
    ('sources.manifest.commit_s', 's'),
    ('sources.manifest.commits', 'count'),
    ('sources.manifest.bytes_written', 'bytes'),
    ('sources.manifest.files_written', 'count'),
    ('pipeline.run_incremental.s', 's'),
    ('operators.dedup.s', 's'), ('operators.dedup.reps', 'count'),
    ('operators.dedup.pairs_out', 'count'),
    ('operators.dedup.hot_buckets', 'count'),
    ('operators.dedup.planted_recall', 'frac'),
) + tuple(('trace.self_s.' + s, 's') for s in SELF_SPANS) + (
    ('trace.total_s', 's'), ('trace.overhead_s', 's'),
    ('trace.prediction_holds', 'count'),
)

# layer groups compared to find the dominant one, and the prediction
GROUPS = {
    'extract': ('operators.extract',),
    'linking': ('operators.linking', 'operators.linking.edges',
                'operators.linking.cc', 'operators.linking.incremental'),
    'triples': ('operators.triples',),
    'manifest+jobs': ('sources.manifest.commit', 'sources.manifest.read',
                      'pipeline.run_incremental'),
    'pipeline': ('pipeline.run_pipeline',),
    'dedup': ('operators.dedup',),
}
PREDICTED = {'kg_batch': 'extract', 'kg_link': 'linking',
             'kg_increment': 'manifest+jobs', 'doc_dedup': 'dedup'}


def build_session(cores: int, tmp: str):
    """The benchmark's session.  Its JVM keeps its temporary files under
    ``tmp`` (shuffle and block files follow ``SPARK_LOCAL_DIRS``, set by
    the caller).  The heap is a fixed 1 GiB, touched at start: left to
    grow, its resident size followed the collector's sizing choices and
    moved peak_rss_mb by a fifth between runs of the same input."""
    from yargy_spark.plans.session import build_session as build
    spark = build(app='perfbench', master='local[%d]' % cores,
                  shuffle_partitions=cores,
                  extra={'spark.driver.memory': '1g',
                         'spark.driver.extraJavaOptions':
                             '-Djava.io.tmpdir=%s -XX:-UsePerfData -Xms1g '
                             '-XX:+AlwaysPreTouch' % tmp,
                         'spark.ui.showConsoleProgress': 'false'})
    spark.sparkContext.setLogLevel('ERROR')
    return spark


def shutdown(spark) -> None:
    """Stop Spark, then close the JVM and wait until it has exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, 'proc', None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()     # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


def layer_metrics(name, tr, layer, jobs, kernel, cores, wall_s,
                  build_s) -> tuple:
    """-> (per-layer metrics for the report, dominant layer group)."""
    st = tr.self_times()
    m = {k: 0 for k, _ in PER_LAYER}
    m.update(kernel)
    m['plans.session.build_s'] = build_s
    m.update({'plans.session.' + k: v for k, v in jobs.items()})
    m.update({
        'operators.extract.s': tr.total('operators.extract'),
        # the whole linking layer: link_entities (batch) or
        # link_entities_incremental, whichever the workload calls
        'operators.linking.s': tr.total('operators.linking')
        + tr.total('operators.linking.incremental'),
        'operators.linking.edges_s': tr.total('operators.linking.edges'),
        'operators.linking.cc_s': tr.total('operators.linking.cc'),
        'operators.linking.incremental_s':
            tr.total('operators.linking.incremental'),
        'operators.linking.edges':
            tr.counts.get('operators.linking.edges', 0),
        'operators.triples.s': tr.total('operators.triples'),
        'operators.triples.rows_out':
            tr.counts.get('operators.triples.rows_out', 0),
        'sources.manifest.commit_s': tr.total('sources.manifest.commit'),
        'sources.manifest.commits':
            tr.counts.get('sources.manifest.commit.calls', 0),
        'pipeline.run_pipeline.s': st.get('pipeline.run_pipeline', 0.0),
        'pipeline.run_incremental.s':
            st.get('pipeline.run_incremental', 0.0),
        'operators.dedup.s': tr.total('operators.dedup'),
    })
    m.update(layer)
    if m['operators.extract.s'] > 0:
        m['operators.extract.kernel_share'] = (
            m['extractors.us_per_turn'] * 1e-6
            * m['operators.extract.turns_in']
            / (m['operators.extract.s'] * cores))
    for s, v in st.items():
        m['trace.self_s.' + s] = v
    m['trace.total_s'] = tr.total('trace.total')
    m['trace.overhead_s'] = m['trace.total_s'] - wall_s
    groups = {g: sum(st.get(s, 0.0) for s in spans)
              for g, spans in GROUPS.items()}
    dominant = max(groups, key=groups.get)
    m['trace.prediction_holds'] = int(dominant == PREDICTED[name])
    return m, {'group_self_s': groups, 'dominant': dominant,
               'predicted': PREDICTED[name]}


def timed_call(w, report) -> tuple:
    """One call of the workload -> (output ok, seconds, peak bytes).
    The output check runs after the clock stops: in full on the first
    call, as an equality with the first call's result afterwards.
    Each call runs in its own job group; its job count is recorded."""
    from spans import MemorySampler, job_counts
    sc = w.spark.sparkContext
    group = '%s.call%d' % (w.name, len(report.setdefault('call_jobs', [])))
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    try:
        with MemorySampler() as mem:
            res = w.call()
    except Exception:
        traceback.print_exc()
        return False, time.perf_counter() - t0, 0
    dt = time.perf_counter() - t0
    report['call_jobs'].append(job_counts(sc, group)['jobs'])
    sc.setJobGroup(w.name + '.check', 'output check')
    if w.expect is None:
        report['checks'] = w.check_full(res)
        ok = all(v for v in report['checks'].values()
                 if isinstance(v, bool))
    else:
        ok = w.check(res)
    w.release(res)
    return ok, dt, mem.peak


def run_workload(name: str, seed: int, seconds: float, trace: bool):
    from workloads import WORKLOADS, trace_run
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, '_run', '%s-%d-%d' % (name, seed,
                                                    os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    # every temporary file of the run (Python, JVM, Spark shuffle and
    # blocks) stays inside the run directory, which is removed at exit
    tmp = os.path.join(work, 'tmp')
    os.makedirs(tmp)
    os.environ['TMPDIR'] = os.environ['SPARK_LOCAL_DIRS'] = tmp
    tempfile.tempdir = None
    w = WORKLOADS[name](ROOT, work, seed)
    report = {'workload': name, 'seed': seed, 'seconds': seconds,
              'cores': cores, 'trace': trace}
    pc = time.perf_counter
    start = pc()
    spark = None
    try:
        t0 = pc()
        w.make_inputs()                       # not part of setup_s
        report['generate_s'] = pc() - t0
        setups, builds = [], []
        for _ in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = pc()
            spark = build_session(cores, tmp)
            t1 = pc()
            w.bind(spark)
            w.warm_up()
            setups.append(pc() - t0)
            builds.append(t1 - t0)
        t0 = pc()
        w.extra_setup()
        extra = pc() - t0
        setup_s = statistics.median(setups) + extra
        report['setup'] = {'reps_s': setups, 'builds_s': builds,
                           'one_time_s': extra}

        # untimed calls finish lazy set-up (JIT, code generation,
        # caches); the first is checked in full, the others like timed
        # calls
        warm, failed = [], 0
        for _ in range(w.warm_calls):
            ok, dt, _ = timed_call(w, report)
            warm.append(dt)
            failed += not ok
        report['warm_calls_s'] = warm
        attempted = len(warm)
        walls, peaks, measured = [], [], 0.0
        while measured < seconds or attempted - len(warm) < MIN_CALLS:
            ok, dt, peak = timed_call(w, report)
            attempted += 1
            measured += dt
            if ok:
                walls.append(dt)
                peaks.append(peak)
            else:
                failed += 1
        if not walls:
            raise RuntimeError('no call of %s succeeded' % name)
        wall_s = statistics.median(walls)
        # the JVM heap keeps growing over calls, so the peak is taken
        # over a fixed number of calls, not over however many fit
        e2e = {'wall_s': wall_s, 'rows_per_s': w.rows / wall_s,
               'setup_s': setup_s,
               'peak_rss_mb': max(peaks[:MIN_CALLS]) / 2 ** 20}
        report.update({
            'input': w.info, 'rows': w.rows, 'row_unit': w.unit,
            'samples': len(walls), 'walls_s': walls,
            'peaks_mb': [p / 2 ** 20 for p in peaks],
            'wall_quartiles_s': (statistics.quantiles(walls, n=4)
                                 if len(walls) > 1 else walls * 3),
            'failed_frac': failed / attempted,
            'stored_bytes_per_row': w.stored_bytes / w.rows,
            'end_to_end': e2e})
        metrics = e2e
        units = dict(END_TO_END)
        if trace:
            from checks import compiled_bank
            tr, layer, jobs = trace_run(w)
            kernel = w.kernel(compiled_bank())
            metrics, dominance = layer_metrics(
                name, tr, layer, jobs, kernel, cores, wall_s,
                statistics.median(builds))
            units = dict(PER_LAYER)
            report.update({'per_layer': metrics, 'dominance': dominance,
                           'spans': tr.dump()})
        report['run_s'] = pc() - start
        correct = failed == 0
        doc = {'correct': correct, 'attempted': attempted,
               'failed': failed,
               'metrics': {k: {'value': metrics[k], 'unit': units[k]}
                           for k in units}}
        return doc, report
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)


def run_all(args, out) -> int:
    """Every workload in its own process; prints one summary line."""
    from workloads import WORKLOADS
    summary = {}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), '--workload',
               name, '--seed', str(args.seed), '--seconds',
               str(args.seconds), '--trace', str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            summary[name] = {'error': 'exit %d' % proc.returncode}
            continue
        doc = json.loads(proc.stdout.strip().splitlines()[-1])
        with open(report_path(name, args.seed, args.trace)) as f:
            rep = json.load(f)
        summary[name] = dict(
            doc['metrics'], correct=doc['correct'],
            samples=rep['samples'],
            failed_frac={'value': rep['failed_frac'], 'unit': 'frac'},
            stored_bytes_per_row={'value': rep['stored_bytes_per_row'],
                                  'unit': 'bytes/row'})
    os.write(out, (json.dumps(summary) + '\n').encode())
    return 0 if all('error' not in v for v in summary.values()) else 1


def report_path(name: str, seed: int, trace: int) -> str:
    return os.path.join(HERE, '_out', '%s-seed%d-trace%d.json'
                        % (name, seed, trace))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload', required=True)
    ap.add_argument('--seed', type=int, default=1)
    ap.add_argument('--seconds', type=float, default=10)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # stdout carries only the result document: route everything else
    # (this process, the JVM and the Python workers it starts) to stderr
    out = os.dup(1)
    os.dup2(2, 1)
    if not os.path.isdir(os.path.join(ROOT, 'yargy_spark')):
        print('perfbench: no yargy_spark package under %s' % ROOT,
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers must import yargy_spark from any working directory
    os.environ['PYTHONPATH'] = os.pathsep.join(
        p for p in (ROOT, os.environ.get('PYTHONPATH')) if p)
    os.environ['PYSPARK_PYTHON'] = sys.executable
    os.environ['PYSPARK_DRIVER_PYTHON'] = sys.executable

    from workloads import WORKLOADS
    if args.workload == 'all':
        return run_all(args, out)
    if args.workload not in WORKLOADS:
        ap.error('unknown workload %r (choose from %s, all)'
                 % (args.workload, ', '.join(WORKLOADS)))

    def on_alarm(signum, frame):
        raise TimeoutError('run exceeded %d s' % WATCHDOG_S)
    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(WATCHDOG_S)
    doc, report = run_workload(args.workload, args.seed, args.seconds,
                               bool(args.trace))
    signal.alarm(0)
    path = report_path(args.workload, args.seed, args.trace)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, 'w') as f:
        json.dump(report, f, indent=1, default=str)
    print('perfbench: report written to %s' % path, file=sys.stderr)
    os.write(out, (json.dumps(doc) + '\n').encode())
    return 0


if __name__ == '__main__':
    sys.exit(main())
