"""The benchmark's workloads.  Each one owns its seeded inputs, its
warm-up pass, one timed call, the check of that call's output and a
traced variant of the call that splits its time across the layers.

Sizes are chosen so that one call takes 2-12 s on a 4-core host, which
is what lets a run of each workload, set-up included, end within about
a minute.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil

from pyspark.sql import functions as F

import checks
import gen
from spans import Tracer, dir_usage, job_counts, materialize, patched

N_BUCKETS = 2
SAMPLE_TURNS = 256    # driver-side replay and kernel decomposition


class Workload:
    """Inputs, warm-up, one call, its checks and its traced variant."""
    name = ''
    unit = 'rows'
    params = gen.Params()
    warm_calls = 2       # untimed calls before the timed ones
    stored_bytes = 0     # bytes a call commits (kg_increment)

    def __init__(self, root: str, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.g = gen.Gen(root, seed, self.params)
        self.info = {'params': gen.describe(self.g.p, self.g.lex)}
        self.expect = None
        self.spark = None

    # -- helpers -----------------------------------------------------

    def write(self, table, name: str) -> None:
        path = os.path.join(self.work, 'in', name, 'part-0.parquet')
        self.info.setdefault('input_sha1', {})[name] = gen.write_parquet(
            table, path)

    def read(self, name: str):
        return self.spark.read.parquet(
            os.path.join(self.work, 'in', name))

    def sample_turns(self, table):
        """Seeded sample of (conv_id, turn_idx, text) rows."""
        rows = list(zip(table.column('conv_id').to_pylist(),
                        table.column('turn_idx').to_pylist(),
                        table.column('text').to_pylist()))
        return random.Random(self.seed).sample(
            rows, min(SAMPLE_TURNS, len(rows)))

    def extract_ok(self, table, mentions) -> bool:
        """Engine mentions equal a driver replay on a seeded sample."""
        sample = self.sample_turns(table)
        keys = {(c, t) for c, t, _ in sample}
        return (checks.replay_mentions(checks.compiled_bank(), sample)
                == checks.engine_mentions(mentions, keys))

    def bind(self, spark) -> None:
        """Attach the session that calls run in."""
        self.spark = spark

    # -- contract ----------------------------------------------------

    def extra_setup(self) -> None:
        """One-time program calls after the session is warm."""

    def release(self, result) -> None:
        """Free what a call left cached."""

    def kernel(self, bank) -> dict:
        return {}


class KgBatch(Workload):
    name = 'kg_batch'
    unit = 'turns'
    CONVS, WARM_CONVS = 512, 8

    def make_inputs(self):
        self.turns = self.g.transcripts(self.CONVS)
        self.write(self.turns, 'turns')
        self.write(self.g.transcripts(self.WARM_CONVS), 'warm')
        self.rows = self.turns.num_rows
        self.info['input_rows'] = {'turns': self.rows}

    def _pipeline(self, df):
        from yargy_spark.pipeline import run_pipeline
        out = run_pipeline(df)
        return out, out['triples'].count()

    def warm_up(self):
        out, _ = self._pipeline(self.read('warm'))
        self.release((out, 0))

    def call(self):
        return self._pipeline(self.read('turns'))

    def release(self, result):
        out, _ = result
        out['mentions'].unpersist()
        out['entities'].unpersist()

    def check_full(self, result) -> dict:
        out, n_triples = result
        m, e = out['mentions'], out['entities']
        ok_extract = self.extract_ok(self.turns, m)
        ok_link, n_ent = checks.check_links(
            [tuple(r) for r in m.select('mention_id', 'conv_id',
                                        'norm_key').collect()], e)
        want = checks.expected_triples(m, e)
        self.expect = n_triples
        return {'extract_replay': ok_extract, 'linking': ok_link,
                'triples': n_triples == want, 'entities': n_ent,
                'triples_out': n_triples}

    def check(self, result) -> bool:
        return result[1] == self.expect

    def traced(self, tr: Tracer):
        from yargy_spark import pipeline
        from yargy_spark.operators import extract, linking
        metrics = extract.make_extract_metrics(self.spark)
        kept = {}
        with _extract_spans(tr, pipeline, metrics, kept), \
                _linking_spans(tr, linking, kept), \
                _wrap_lazy(tr, pipeline, 'link_entities',
                           'operators.linking', kept), \
                _wrap_lazy(tr, pipeline, 'materialize_triples',
                           'operators.triples', kept):
            with tr.span('pipeline.run_pipeline'):
                out, n = self._pipeline(self.read('turns'))

        def stats():
            out_m = _link_stats(kept.get('operators.linking'))
            self.release((out, n))
            _unpersist(kept)
            out_m.update(_extract_metrics(metrics))
            return out_m
        return stats

    def kernel(self, bank) -> dict:
        return checks.kernel_profile(
            bank, [t for _, _, t in self.sample_turns(self.turns)])


class KgLink(Workload):
    name = 'kg_link'
    unit = 'mentions'
    CONVS, PER_CONV, WARM_CONVS = 4000, 6, 100

    def make_inputs(self):
        self.mentions = self.g.mentions(self.CONVS, self.PER_CONV)
        self.write(self.mentions, 'mentions')
        self.write(self.g.mentions(self.WARM_CONVS, self.PER_CONV), 'warm')
        self.rows = self.mentions.num_rows
        self.info['input_rows'] = {'mentions': self.rows}

    def _link(self, df):
        from yargy_spark.operators.linking import link_entities
        from yargy_spark.operators.triples import materialize_triples
        links = link_entities(df).persist()
        return links, materialize_triples(df, links).count()

    def warm_up(self):
        self.release(self._link(self.read('warm')))

    def call(self):
        return self._link(self.read('mentions'))

    def release(self, result):
        result[0].unpersist()

    def check_full(self, result) -> dict:
        links, n_triples = result
        rows = zip(*(self.mentions.column(c).to_pylist()
                     for c in ('mention_id', 'conv_id', 'norm_key')))
        ok_link, n_ent = checks.check_links(list(rows), links)
        want = checks.expected_triples(self.read('mentions'), links)
        self.expect = n_triples
        return {'linking': ok_link, 'triples': n_triples == want,
                'entities': n_ent, 'triples_out': n_triples}

    def check(self, result) -> bool:
        return result[1] == self.expect

    def traced(self, tr: Tracer):
        from yargy_spark.operators import linking
        from yargy_spark.operators.triples import materialize_triples
        df = self.read('mentions')
        kept = {}
        with _linking_spans(tr, linking, kept):
            with tr.span('operators.linking'):
                links, _ = materialize(linking.link_entities(df))
        kept['operators.linking'] = links
        with tr.span('operators.triples'):
            triples, n = materialize(materialize_triples(df, links))
        kept['operators.triples'] = triples
        tr.add('operators.triples.rows_out', n)

        def stats():
            out_m = _link_stats(links)
            _unpersist(kept)
            return out_m
        return stats


class KgIncrement(Workload):
    name = 'kg_increment'
    unit = 'turns'
    # no same-surname kin turns: conversation-local coreference comes
    # only from the bridge conversations, so the number of
    # connected-components rounds (hence Spark jobs) per call is the
    # same for every seed
    params = gen.Params(sibling_share=0.0)
    # the base commit has just run every layer of the call, so no
    # untimed call comes first: a run of ~100 Spark jobs per call must
    # stay well inside its time budget
    warm_calls = 0
    BASE_CONVS, BATCH_CONVS, WARM_CONVS = 192, 96, 8

    def make_inputs(self):
        base, self.batch = self.g.increment(self.BASE_CONVS,
                                            self.BATCH_CONVS)
        self.write(base, 'base')
        self.write(self.batch, 'batch')
        self.write(self.g.transcripts(self.WARM_CONVS), 'warm')
        self.rows = self.batch.num_rows
        self.calls = 0
        self.info['input_rows'] = {'base_turns': base.num_rows,
                                   'batch_turns': self.rows}

    @property
    def base_root(self):
        return os.path.join(self.work, 'base_out')

    def warm_up(self):
        from yargy_spark.operators.extract import extract_mentions
        extract_mentions(self.read('warm')).count()

    def extra_setup(self):
        from yargy_spark.pipeline import run_resumable
        shutil.rmtree(self.base_root, ignore_errors=True)
        run_resumable(self.spark, self.read('base'), self.base_root,
                      n_buckets=N_BUCKETS)

    def _out_root(self):
        self.calls += 1
        return os.path.join(self.work, 'inc_out_%d' % self.calls)

    def call(self):
        from yargy_spark.pipeline import run_incremental
        out = self._out_root()
        snap = run_incremental(self.spark, self.read('batch'),
                               self.base_root, out, n_buckets=N_BUCKETS)
        return out, snap

    def release(self, result):
        shutil.rmtree(result[0], ignore_errors=True)

    @staticmethod
    def _fingerprint(snap):
        if snap is None:
            return None
        c = snap['counters']
        return (snap['totals']['rows'], c['mentions'], c['entities'],
                c['merge_candidates'])

    def check_full(self, result) -> dict:
        from yargy_spark.pipeline import run_incremental
        from yargy_spark.sources import manifest as mf
        out, snap = result
        fp = self._fingerprint(snap)
        m = mf.read_table(self.spark, out + '/mentions')
        t = mf.read_table(self.spark, out + '/triples')
        ok_extract = self.extract_ok(self.batch, m)
        by_pred = {r['pred']: r['count']
                   for r in t.groupBy('pred').count().collect()}
        n_entities = by_pred.pop('canonical_name', 0)
        n_linked = by_pred.pop('mentioned_as', 0)
        n_attrs = m.agg(F.sum(F.size('attrs'))).collect()[0][0] or 0
        n_keyed = m.where(F.col('norm_key').isNotNull()).count()
        noop = run_incremental(self.spark, self.read('batch'),
                               self.base_root, out,
                               n_buckets=N_BUCKETS) is None
        self.stored_bytes = dir_usage(out)[0]
        self.expect = fp
        # attribute triples are the rest once the two per-entity
        # predicates are popped
        triples_ok = (fp is not None
                      and sum(by_pred.values()) == n_attrs
                      and n_linked == n_keyed
                      and 0 < n_entities <= n_linked
                      and fp[0] == n_attrs + n_entities + n_linked)
        return {'extract_replay': ok_extract, 'triples': triples_ok,
                'merge_candidates': fp is not None and fp[3] > 0,
                'rerun_noop': noop, 'entities': n_entities,
                'triples_out': fp and fp[0]}

    def check(self, result) -> bool:
        return self._fingerprint(result[1]) == self.expect

    def traced(self, tr: Tracer):
        from yargy_spark import pipeline
        from yargy_spark.operators import extract, linking
        metrics = extract.make_extract_metrics(self.spark)
        kept = {}
        mf = pipeline.mf
        out = self._out_root()
        with _extract_spans(tr, pipeline, metrics, kept), \
                _linking_spans(tr, linking, kept), \
                _wrap_lazy(tr, pipeline, 'link_entities_incremental',
                           'operators.linking.incremental', kept), \
                _wrap_lazy(tr, pipeline, 'materialize_triples',
                           'operators.triples', kept), \
                _wrap_eager(tr, mf, 'commit_append',
                            'sources.manifest.commit'), \
                _wrap_eager(tr, mf, 'commit_replace',
                            'sources.manifest.commit'), \
                _wrap_eager(tr, mf, 'read_table',
                            'sources.manifest.read'):
            with tr.span('pipeline.run_incremental'):
                snap = pipeline.run_incremental(
                    self.spark, self.read('batch'), self.base_root, out,
                    n_buckets=N_BUCKETS)

        def stats():
            size, files = dir_usage(out)
            out_m = _link_stats(kept.get('operators.linking.incremental'))
            _unpersist(kept)
            self.release((out, snap))
            out_m.update(_extract_metrics(metrics))
            out_m.update({
                'operators.linking.merge_candidates':
                    snap['counters']['merge_candidates'],
                'sources.manifest.bytes_written': size,
                'sources.manifest.files_written': files,
            })
            return out_m
        return stats

    def kernel(self, bank) -> dict:
        return checks.kernel_profile(
            bank, [t for _, _, t in self.sample_turns(self.batch)])


class DocDedup(Workload):
    name = 'doc_dedup'
    unit = 'docs'
    # calls keep getting faster for about four calls after set-up; the
    # median of three timed calls on that slope spread 12% between runs
    warm_calls = 4
    BASE_DOCS, WARM_DOCS = 1536, 128

    def make_inputs(self):
        docs, self.family, self.near, self.boiler = \
            self.g.documents(self.BASE_DOCS)
        self.write(docs, 'docs')
        self.write(self.g.documents(self.WARM_DOCS)[0], 'warm')
        self.rows = docs.num_rows
        self.info['input_rows'] = {
            'docs': self.rows, 'planted_near_pairs': len(self.near),
            'boilerplate_docs': len(self.boiler)}

    def _pairs(self, df):
        from yargy_spark.operators.dedup import minhash_lsh_pairs
        pairs = minhash_lsh_pairs(df, expand_groups=False).persist()
        return pairs, pairs.count()

    def warm_up(self):
        self.release(self._pairs(self.read('warm')))

    def call(self):
        return self._pairs(self.read('docs'))

    def release(self, result):
        result[0].unpersist()

    def recall(self, pairs) -> tuple:
        """-> (found (a, b) pairs, share of planted near-dups found)."""
        found = {(r['a'], r['b']) for r in pairs.collect()}
        hits = sum(p in found for p in self.near)
        return found, hits / max(len(self.near), 1)

    def check_full(self, result) -> dict:
        from yargy_spark.operators.dedup import lsh_hot_buckets
        pairs, n = result
        found, recall = self.recall(pairs)
        fam = self.family
        cross = sum(fam[a] != fam[b] for a, b in found)
        comp = checks.pair_components(found)
        boiler_roots = {comp.get(d) for d in self.boiler}
        self.hot_buckets = lsh_hot_buckets(self.read('docs')).count()
        self.expect = n
        return {'planted_recall': recall == 1.0,
                'no_cross_family': cross == 0,
                'boilerplate_one_cluster': len(boiler_roots) == 1
                and None not in boiler_roots,
                'governor_ran': self.hot_buckets > 0, 'pairs_out': n}

    def check(self, result) -> bool:
        return result[1] == self.expect

    def traced(self, tr: Tracer):
        from yargy_spark.operators.dedup import (exact_dedup,
                                                 minhash_lsh_pairs)
        df = self.read('docs')
        with tr.span('operators.dedup'):
            pairs, n = materialize(minhash_lsh_pairs(df,
                                                     expand_groups=False))

        def stats():
            _, recall = self.recall(pairs)
            pairs.unpersist()
            return {'operators.dedup.reps': exact_dedup(df).count(),
                    'operators.dedup.pairs_out': n,
                    'operators.dedup.hot_buckets': self.hot_buckets,
                    'operators.dedup.planted_recall': recall}
        return stats


WORKLOADS = {w.name: w for w in (KgBatch, KgLink, KgIncrement, DocDedup)}


# -- span wrappers (benchmark-side; the program is not modified) ---------

def _wrap_lazy(tr, module, attr, span, kept):
    """Span + materialize around a function returning a DataFrame (or
    a tuple of them); the materialized frames are kept for stats and
    unpersisted by the caller."""
    def factory(orig):
        def wrapper(*a, **kw):
            with tr.span(span):
                res = orig(*a, **kw)
                if isinstance(res, tuple):
                    res = tuple(materialize(r)[0] for r in res)
                    kept[span] = res[0]
                    kept[span + '.extra'] = res[1:]
                else:
                    res, n = materialize(res)
                    kept[span] = res
                    tr.add(span + '.rows_out', n)
            return res
        return wrapper
    return patched(module, attr, factory)


def _wrap_eager(tr, module, attr, span):
    def factory(orig):
        def wrapper(*a, **kw):
            with tr.span(span):
                tr.add(span + '.calls', 1)
                return orig(*a, **kw)
        return wrapper
    return patched(module, attr, factory)


def _extract_spans(tr, pipeline, metrics, kept):
    def factory(orig):
        def wrapper(*a, **kw):
            kw.setdefault('metrics', metrics)
            with tr.span('operators.extract'):
                res, n = materialize(orig(*a, **kw))
            kept.setdefault('extract', []).append(res)
            return res
        return wrapper
    return patched(pipeline, 'extract_mentions', factory)


@contextlib.contextmanager
def _linking_spans(tr, linking, kept):
    def edges(orig):
        def wrapper(*a, **kw):
            with tr.span('operators.linking.edges'):
                res, n = materialize(orig(*a, **kw))
            tr.add('operators.linking.edges', n)
            kept.setdefault('edges', []).append(res)
            return res
        return wrapper

    def cc(orig):
        def wrapper(*a, **kw):
            with tr.span('operators.linking.cc'):
                res, _ = materialize(orig(*a, **kw))
            kept.setdefault('cc', []).append(res)
            return res
        return wrapper
    with patched(linking, 'mention_edges', edges), \
            patched(linking, 'connected_components', cc):
        yield


def _link_stats(links) -> dict:
    """Entity count and largest entity over a link table."""
    if links is None:
        return {}
    sizes = links.groupBy('entity_id').count()
    row = sizes.agg(F.count('*'), F.max('count')).collect()[0]
    return {'operators.linking.components': row[0],
            'operators.linking.max_component': row[1] or 0}


def _extract_metrics(metrics) -> dict:
    return {'operators.extract.turns_in': metrics['turns'].value,
            'operators.extract.mentions_out': metrics['mentions'].value,
            'extractors.budget_aborts': metrics['budget_aborts'].value,
            'extractors.errors': metrics['errors'].value}


def _unpersist(kept) -> None:
    for v in kept.values():
        for df in (v if isinstance(v, (list, tuple)) else [v]):
            df.unpersist()


def trace_run(w: Workload) -> tuple:
    """One traced call of ``w``: -> (tracer, layer metrics, job counts).
    ``w.traced`` makes the call under spans and returns a function that
    gathers layer statistics afterwards, outside the traced total and
    the call's job group."""
    sc = w.spark.sparkContext
    group = '%s.traced' % w.name
    sc.setJobGroup(group, group)
    tr = Tracer()
    with tr.span('trace.total'):
        stats = w.traced(tr)
    jobs = job_counts(sc, group)
    sc.setJobGroup(w.name + '.stats', 'layer statistics')
    return tr, stats(), jobs
