"""Incremental entity linking (operators/linking.py::
link_entities_incremental): new batches link against the compact
entity-key state without global CC; prior-entity merges are surfaced
as candidates, never applied silently."""

import os
import shutil

import pytest
from hypothesis import Phase, given, settings, strategies as st

from pyspark.sql import functions as F

pytestmark = pytest.mark.spark


@pytest.fixture(scope='module')
def halves(spark):
    """Golden corpus split by conversation parity: batch-link the even
    half (the 'prior' corpus), treat the odd half as the increment."""
    from yargy_spark.operators.extract import extract_mentions
    from yargy_spark.operators.linking import (empty_keys,
                                               link_entities_incremental)
    from yargy_spark.sources.transcripts import golden_only_transcripts
    t = golden_only_transcripts(spark)
    parity = (F.substring('conv_id', 2, 6).cast('int') % 2)
    prior_mentions = extract_mentions(t.where(parity == 0)).persist()
    new_mentions = extract_mentions(t.where(parity == 1)).persist()
    # the batch link of the prior half and its key state, as
    # run_resumable derives them: the increment against an empty state
    prior_links, _, prior_keys = link_entities_incremental(
        prior_mentions, empty_keys(spark))
    prior_links, prior_keys = prior_links.persist(), prior_keys.persist()
    return prior_mentions, prior_links, prior_keys, new_mentions


def test_every_new_mention_assigned_once(spark, halves):
    from yargy_spark.operators.linking import link_entities_incremental
    _, _, prior_keys, new_mentions = halves
    links, _, _ = link_entities_incremental(new_mentions, prior_keys)
    links = links.persist()
    pm = new_mentions.where(F.col('norm_key').isNotNull())
    assert links.count() == pm.count()
    assert links.select('mention_id').distinct().count() == pm.count()
    links.unpersist()


def test_shared_key_adopts_prior_entity(spark, halves):
    """A norm_key seen in the prior corpus resolves every new mention
    to the prior entity id — the direct tier."""
    from yargy_spark.operators.linking import link_entities_incremental
    prior_mentions, prior_links, prior_keys, new_mentions = halves
    links, _, _ = link_entities_incremental(new_mentions, prior_keys)

    shared = (new_mentions.select('norm_key').distinct()
              .join(prior_keys.select('norm_key', 'entity_id'),
                    'norm_key'))
    rows = shared.collect()
    assert rows, 'fixture must have keys spanning both halves'
    got = {r['norm_key']: r['entity_id'] for r in
           (new_mentions.select('mention_id', 'norm_key')
            .join(links, 'mention_id')
            .join(shared.select('norm_key'), 'norm_key')
            .select('norm_key', 'entity_id').distinct().collect())}
    want = {r['norm_key']: r['entity_id'] for r in rows}
    assert got == want

    # fresh ids never collide with prior ids
    prior_ids = {r['entity_id'] for r in
                 prior_links.select('entity_id').distinct().collect()}
    new_only_ids = {r['entity_id'] for r in links.select('entity_id')
                    .distinct().collect()} - set(want.values())
    assert not (new_only_ids & prior_ids)


def test_residual_grouping_matches_batch(spark, halves):
    """Mentions whose components touch no prior entity cluster exactly
    as a standalone batch link of the increment clusters them (they
    keep their fresh batch component ids)."""
    from yargy_spark.operators.linking import (link_entities,
                                               link_entities_incremental)
    _, _, prior_keys, new_mentions = halves
    links, _, _ = link_entities_incremental(new_mentions, prior_keys)
    prior_ids = {r['entity_id'] for r in
                 prior_keys.select('entity_id').distinct().collect()}

    fresh = {r['mention_id']: r['entity_id'] for r in links.collect()
             if r['entity_id'] not in prior_ids}
    batch = {r['mention_id']: r['entity_id'] for r in
             link_entities(new_mentions).collect()}

    def groups(assign, keys):
        by = {}
        for m in keys:
            by.setdefault(assign[m], set()).add(m)
        return {frozenset(v) for v in by.values()}

    assert fresh, 'fixture must leave some keys unique to the increment'
    assert groups(fresh, fresh) <= groups(batch, batch)


def test_coref_adoption_and_merge_candidates(spark):
    """Synthetic shapes: an unmatched mention sharing the conversation
    coref key with a direct match adopts that entity (min per
    component); two prior entities bridged by one new conversation
    become merge candidates (and are NOT merged in the links output —
    each direct match keeps its own prior entity)."""
    from yargy_spark.operators.linking import link_entities_incremental
    prior_keys = spark.createDataFrame(
        [('анна|петров', 'ent_100', 'анна|петров'),
         ('борис|петров', 'ent_200', 'борис|петров')],
        'norm_key string, entity_id string, canonical string')
    new_mentions = spark.createDataFrame(
        [(1, 'cX', 'анна|петров'),     # direct -> ent_100
         (2, 'cX', 'вера|петров'),     # coref adopt -> min = ent_100
         (3, 'cX', 'борис|петров'),    # direct -> ent_200 (bridges!)
         (4, 'cY', 'глеб|сидоров')],   # residual -> fresh entity
        'mention_id long, conv_id string, norm_key string')

    links, merges, _ = link_entities_incremental(new_mentions, prior_keys)
    got = {r['mention_id']: (r['entity_id'], r['canonical'])
           for r in links.collect()}
    assert got[1] == ('ent_100', 'анна|петров')
    assert got[2] == ('ent_100', 'анна|петров')  # adopted, min entity
    assert got[3] == ('ent_200', 'борис|петров')
    assert got[4][0] not in ('ent_100', 'ent_200')  # fresh id
    assert got[4][1] == 'глеб|сидоров'

    mc = merges.collect()
    assert [(r['entity_a'], r['entity_b'], r['conv_id'],
             r['last_lemma']) for r in mc] == \
        [('ent_100', 'ent_200', 'cX', 'петров')]


def test_adoption_picks_numeric_min_id(spark):
    """Adoption orders prior ids by their number, as batch CC and
    ``apply_entity_merges`` do: a component touching an 18-digit
    'ent_9...' and a 19-digit 'ent_1...' adopts 'ent_9...', which the
    string order would rank second."""
    from yargy_spark.operators.linking import link_entities_incremental
    low, high = 'ent_%d' % (9 * 10 ** 17), 'ent_%d' % 10 ** 18
    prior_keys = spark.createDataFrame(
        [('анна|петров', low, 'анна|петров'),
         ('борис|петров', high, 'борис|петров')],
        'norm_key string, entity_id string, canonical string')
    new_mentions = spark.createDataFrame(
        [(1, 'cX', 'анна|петров'),     # direct -> low
         (2, 'cX', 'вера|петров'),     # coref adopt -> numeric min
         (3, 'cX', 'борис|петров')],   # direct -> high
        'mention_id long, conv_id string, norm_key string')
    links, _, new_keys = link_entities_incremental(new_mentions,
                                                   prior_keys)
    got = {r['mention_id']: r['entity_id'] for r in links.collect()}
    assert got == {1: low, 2: low, 3: high}
    assert [tuple(r) for r in new_keys.collect()] == \
        [('вера|петров', low, 'анна|петров')]


def test_chain_adoption_closes_over_components(spark):
    """Adoption is decided per increment component, so it closes over
    chains: a mention whose only connection to a direct match is
    same-norm_key with a coref NEIGHBOR of the match (different
    conversation, key unseen in the prior corpus) still adopts the
    prior entity — a per-neighbor tier scheme would split this pair
    across an adopted and a fresh entity."""
    from yargy_spark.operators.linking import link_entities_incremental
    prior_keys = spark.createDataFrame(
        [('анна|петров', 'ent_100', 'анна|петров')],
        'norm_key string, entity_id string, canonical string')
    new_mentions = spark.createDataFrame(
        [(1, 'cA', 'анна|петров'),    # direct -> ent_100
         (2, 'cA', 'мария|петров'),   # coref neighbor of the match
         (3, 'cB', 'мария|петров')],  # chain: same key as 2, other conv
        'mention_id long, conv_id string, norm_key string')
    links, merges, _ = link_entities_incremental(new_mentions, prior_keys)
    got = {r['mention_id']: (r['entity_id'], r['canonical'])
           for r in links.collect()}
    assert got == {1: ('ent_100', 'анна|петров'),
                   2: ('ent_100', 'анна|петров'),
                   3: ('ent_100', 'анна|петров')}
    assert merges.count() == 0


# ------------------------------------------- the increment-link oracle

def _link_oracle(prior, mentions):
    """Pure-Python ``link_entities_incremental``: prior rows
    (norm_key, entity_id, canonical) and mention rows (mention_id,
    conv_id, norm_key) -> (links, merge_candidates, new_keys) as
    sorted row lists."""
    prior_of = {k: (e, c) for k, e, c in prior}
    pm = [m for m in mentions if m[2] is not None]

    def lemma(key):
        return key.split('|')[1] if '|' in key else None

    # union-find over both blocking families, each set named by its
    # min mention id
    parent = {i: i for i, _, _ in pm}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    groups = {}
    for i, conv, key in pm:
        groups.setdefault(('k', key), []).append(i)
        if lemma(key) is not None:
            groups.setdefault(('c', conv, lemma(key)), []).append(i)
    for ids in groups.values():
        for i in ids[1:]:
            a, b = find(ids[0]), find(i)
            parent[max(a, b)] = min(a, b)
    comps = {}
    for m in pm:
        comps.setdefault(find(m[0]), []).append(m)

    links, merges = [], []
    for c, ms in comps.items():
        n = {}
        for _, _, key in ms:
            n[key] = n.get(key, 0) + 1
        top = min(n, key=lambda k: (-n[k], k))
        # the direct tier keeps its prior entity; the rest adopt the
        # numeric-min touched prior entity, else get a fresh id
        touched = sorted({prior_of[k] for _, _, k in ms if k in prior_of},
                         key=lambda ec: int(ec[0][len('ent_'):]))
        rest = touched[0] if touched else ('ent_%d' % c, top)
        links += [(i, *prior_of.get(k, rest)) for i, _, k in ms]

        direct = [(prior_of[k][0], conv, lemma(k))
                  for _, conv, k in ms if k in prior_of]
        ents = sorted({e for e, _, _ in direct})
        for x, a in enumerate(ents):
            for b in ents[x + 1:]:
                side_a = [(cv, lm) for e, cv, lm in direct if e == a]
                convs_b = {cv for e, cv, _ in direct if e == b}
                shared = [(cv, lm) for cv, lm in side_a if cv in convs_b]
                if shared:
                    # min over (conversation, lemma), a NULL lemma first
                    conv, lm = min(shared, key=lambda w: (
                        w[0], w[1] is not None, w[1] or ''))
                else:
                    conv = min(cv for e, cv, _ in direct if e in (a, b))
                    lemmas = [lm for _, lm in side_a if lm is not None]
                    lm = min(lemmas) if lemmas else None
                merges.append((a, b, conv, lm))
    key_of = {i: k for i, _, k in pm}
    new_keys = {(key_of[i], e, c) for i, e, c in links
                if key_of[i] not in prior_of}
    return sorted(links), sorted(merges), sorted(new_keys)


_FIRSTS = ('анна', 'вера', 'глеб')
_KEYS = tuple(f + s for f in _FIRSTS for s in ('|петров', '|сидоров', ''))


@st.composite
def _increment(draw, tag):
    """One small prior key state (one canonical per entity, entity
    numbers of different digit counts, so string and numeric order
    differ) and one increment over a few conversations — with keys
    lacking a surname, surnames shared across conversations, keys
    shared with the prior state, and mentions without a key.  ``tag``
    keeps the keys, conversations and ids of several draws apart."""
    keys = draw(st.lists(st.sampled_from(_KEYS), unique=True,
                         max_size=6))
    ent = {k: draw(st.sampled_from((7, 9, 10, 42, 100))) for k in keys}
    canon = {e: draw(st.sampled_from(sorted(k for k in keys
                                            if ent[k] == e)))
             for e in set(ent.values())}
    any_key = st.sampled_from(_KEYS + (None,))
    rows = draw(st.lists(st.tuples(
        st.sampled_from(('c0', 'c1')),
        st.one_of(st.sampled_from(keys), any_key) if keys else any_key),
        min_size=1, max_size=12))
    ids = draw(st.lists(st.integers(1000, 9999), unique=True,
                        min_size=len(rows), max_size=len(rows)))

    def key(k):
        return None if k is None else tag + k
    prior = [(key(k), 'ent_%d%s' % (ent[k], tag), key(canon[ent[k]]))
             for k in keys]
    mentions = [(i * 100 + int(tag), tag + conv, key(k))
                for i, (conv, k) in zip(ids, rows)]
    return prior, mentions


# no shrinking: every example is a Spark call, and a failing one
# reports its whole input
@settings(max_examples=3, deadline=None,
          phases=(Phase.explicit, Phase.reuse, Phase.generate))
@given(st.tuples(*(_increment('%02d' % t) for t in range(64))))
def test_incremental_linking_matches_oracle(spark, cases):
    """``link_entities_incremental`` equals the pure-Python oracle on
    random prior states and increments: union-find over both blocking
    families, the direct tier keeping its prior entity, adoption of
    the numeric-min touched prior id, ``ent_<min mention_id>`` for a
    fresh component, the merge-candidate witness rules, and the keys
    new to the state; ``link_entities`` equals the oracle's links
    against an empty state.  64 independent draws run as one Spark
    call (their keys, conversations and ids are disjoint)."""
    from yargy_spark.operators.linking import (link_entities,
                                               link_entities_incremental)
    prior = [r for p, _ in cases for r in p]
    mentions = [r for _, m in cases for r in m]
    mdf = spark.createDataFrame(mentions, 'mention_id long, '
                                'conv_id string, norm_key string')
    got = link_entities_incremental(
        mdf, spark.createDataFrame(prior, 'norm_key string, '
                                   'entity_id string, canonical string'))
    assert [sorted(map(tuple, df.collect())) for df in got] == \
        list(_link_oracle(prior, mentions))
    assert sorted(map(tuple, link_entities(mdf).collect())) == \
        _link_oracle([], mentions)[0]


def test_run_incremental_job(spark, tmp_path):
    """Job surface: the batch job commits the entity_keys state; the
    increment job links a disjoint continuation corpus against it,
    committing increment triples + the merge_candidates work-list,
    nooping on rerun, and refusing drift / a missing base."""
    import pytest as _pytest
    from yargy_spark.pipeline import run_incremental, run_resumable
    from yargy_spark.sources import manifest as mf
    from yargy_spark.sources.transcripts import synth_transcripts

    base_out = str(tmp_path / 'base')
    inc_out = str(tmp_path / 'inc')
    base = synth_transcripts(spark, n_turns=96, partitions=4)
    assert run_resumable(spark, base, base_out, n_buckets=4,
                         chunk_size=4) is not None

    # the batch job now also REPLACE-commits the entity-key state,
    # stamped with the mentions snapshot it derived from
    keys = mf.read_table(spark, base_out + '/entity_keys')
    base_ids = {r['entity_id'] for r in
                keys.select('entity_id').distinct().collect()}
    assert base_ids

    # increment = deterministic continuation, disjoint conversations
    inc = synth_transcripts(spark, n_turns=96, partitions=4,
                            start_turn=96)
    snap = run_incremental(spark, inc, base_out, inc_out, n_buckets=4)
    assert snap is not None
    assert snap['counters']['mentions'] > 0
    assert snap['counters']['base_keys_snapshot'] == \
        mf.current_snapshot(base_out + '/entity_keys')

    # the golden pool repeats across the continuation, so increment
    # triples must reuse base entity ids (adoption, not re-minting)
    inc_subjects = {r['subj'] for r in
                    mf.read_table(spark, inc_out + '/triples')
                    .select('subj').distinct().collect()}
    assert inc_subjects & base_ids
    assert mf.current_snapshot(inc_out + '/merge_candidates')

    # rerun: increment and base state both unchanged -> noop
    assert run_incremental(spark, inc, base_out, inc_out,
                           n_buckets=4) is None

    # drift guard and missing-base guard stay loud
    with _pytest.raises(ValueError, match='n_buckets'):
        run_incremental(spark, inc, base_out, inc_out, n_buckets=8)
    with _pytest.raises(ValueError, match='entity_keys'):
        run_incremental(spark, inc, str(tmp_path / 'nobase'),
                        str(tmp_path / 'inc2'), n_buckets=4)
    with _pytest.raises(ValueError, match='own table root'):
        run_incremental(spark, inc, base_out, base_out, n_buckets=4)

    # CHAINING: day 2 links against day 1's rolled entity_keys state
    # instead of the base — repeated keys adopt day-1 entity ids,
    # never re-mint them
    inc2_out = str(tmp_path / 'inc_day2')
    inc2 = synth_transcripts(spark, n_turns=96, partitions=4,
                             start_turn=192)
    snap2 = run_incremental(spark, inc2, inc_out, inc2_out,
                            n_buckets=4)
    assert snap2 is not None
    state1 = {r['entity_id'] for r in
              mf.read_table(spark, inc_out + '/entity_keys')
              .select('entity_id').distinct().collect()}
    assert state1 >= base_ids    # rolled forward, never dropped
    inc2_ents = {r['subj'] for r in
                 mf.read_table(spark, inc2_out + '/triples')
                 .select('subj').distinct().collect()
                 if r['subj'].startswith('ent_')}
    assert inc2_ents and inc2_ents <= state1


@pytest.fixture(scope='module')
def kg_base(spark, tmp_path_factory):
    """A batch-built base table root, extracted in four chunks (one
    per pending bucket), and the transcripts it was built from."""
    from yargy_spark.pipeline import run_resumable
    from yargy_spark.sources.transcripts import synth_transcripts
    root = str(tmp_path_factory.mktemp('kg_base'))
    base = synth_transcripts(spark, n_turns=96, partitions=4)
    snap = run_resumable(spark, base, root, n_buckets=4, chunk_size=1)
    return root, base, snap


def _check_job_counters(spark, snap, transcripts, root):
    """A job's triples-manifest counters against counts recomputed
    from its input and its committed tables."""
    from yargy_spark.sources import manifest as mf
    c = snap['counters']
    chunks = mf.snapshots(root + '/mentions')
    triples = mf.read_table(spark, root + '/triples')
    assert c['turns_in'] == transcripts.count()
    assert c['mentions'] == mf.read_table(spark,
                                          root + '/mentions').count()
    assert c['mentions'] == sum(s['counters']['mentions']
                                for s in chunks)
    assert all(s['counters']['mentions'] == s['totals']['rows']
               for s in chunks)
    assert c['extraction_chunks'] == len(chunks)
    assert c['entities'] == (triples
                             .where(F.col('pred') == 'mentioned_as')
                             .select('subj').distinct().count())
    assert snap['totals']['rows'] == triples.count()


def test_job_counters_match_committed_tables(spark, kg_base, tmp_path):
    """Counters taken from the writes (parquet footer totals, metrics
    observed on the writes) equal counts recomputed from the input
    and the committed tables — with several chunk observations summed
    in both jobs — and the increment's rolled-forward entity_keys
    equals the union -> min -> canonical-join reference."""
    from yargy_spark.operators.linking import link_entities_incremental
    from yargy_spark.pipeline import run_incremental
    from yargy_spark.sources import manifest as mf
    from yargy_spark.sources.transcripts import synth_transcripts

    base_root, base, base_snap = kg_base
    assert base_snap['counters']['extraction_chunks'] == 4
    _check_job_counters(spark, base_snap, base, base_root)

    inc_root = str(tmp_path / 'inc')
    inc = synth_transcripts(spark, n_turns=96, partitions=4,
                            start_turn=96)
    snap = run_incremental(spark, inc, base_root, inc_root,
                           n_buckets=4, chunk_size=3)
    assert snap['counters']['extraction_chunks'] == 2
    _check_job_counters(spark, snap, inc, inc_root)
    c_root = inc_root + '/merge_candidates'
    n_cand = (mf.read_table(spark, c_root).count()
              if mf.committed_data_dirs(c_root) else 0)
    assert snap['counters']['merge_candidates'] == n_cand

    # reference roll-forward: union the prior and increment key
    # tables, min entity per key, canonical re-joined
    prior = (mf.read_table(spark, base_root + '/entity_keys')
             .select('norm_key', 'entity_id', 'canonical'))
    new_mentions = mf.read_table(spark, inc_root + '/mentions')
    links, _, _ = link_entities_incremental(new_mentions, prior)
    # the increment's key table, from its mentions and links alone:
    # min entity per key, canonical re-joined
    inc_keys = (new_mentions.where(F.col('norm_key').isNotNull())
                .join(links, 'mention_id')
                .groupBy('norm_key')
                .agg(F.min('entity_id').alias('entity_id'))
                .join(links.select('entity_id', 'canonical').distinct(),
                      'entity_id'))
    canon = (prior.select('entity_id', 'canonical')
             .unionByName(inc_keys.select('entity_id', 'canonical'))
             .distinct())
    ref = (prior.select('norm_key', 'entity_id')
           .unionByName(inc_keys.select('norm_key', 'entity_id'))
           .groupBy('norm_key')
           .agg(F.min('entity_id').alias('entity_id'))
           .join(canon, 'entity_id')
           .select('norm_key', 'entity_id', 'canonical'))
    got = (mf.read_table(spark, inc_root + '/entity_keys')
           .select('norm_key', 'entity_id', 'canonical'))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, ref.collect()))


def test_run_incremental_job_budget(spark, kg_base, tmp_path):
    """Job-budget guard: one small run_incremental, in its own job
    group, issues at most JOB_BUDGET Spark jobs.  Measured on this
    input (local[4], 8 shuffle partitions): 90-92 jobs while commits
    re-read their files for row stats and counters were separate
    count actions; 54-55 while the increment linker truncated four
    frames and the key state was re-derived from mentions and links;
    36 since it truncates one per-mention frame and the key state is
    read off it; 37 since the assignment aggregates the mentions per
    key and joins them back before that truncation; 35 since
    ``read_table`` reads with the schema its manifests record instead
    of inferring it in a job.  The budget is 35 plus a margin of 1:
    adding back a truncation, a second computation of the links or a
    schema-inference read fails here."""
    from yargy_spark.pipeline import run_incremental
    from yargy_spark.sources.transcripts import synth_transcripts
    JOB_BUDGET = 35 + 1
    base_root, _, _ = kg_base
    inc = synth_transcripts(spark, n_turns=96, partitions=4,
                            start_turn=96)
    sc = spark.sparkContext
    group = 'run_incremental-job-budget'
    sc.setJobGroup(group, 'run_incremental job budget')
    try:
        snap = run_incremental(spark, inc, base_root,
                               str(tmp_path / 'inc'), n_buckets=4)
    finally:
        sc.setLocalProperty('spark.jobGroup.id', None)
    assert snap is not None
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= JOB_BUDGET, jobs


def test_run_resumable_job_budget(spark, tmp_path):
    """Job-budget guard: one run_resumable over the ``kg_base`` input,
    in its own job group, issues at most JOB_BUDGET Spark jobs.
    Measured on this input (local[4], 8 shuffle partitions): 38 jobs
    while the links were persisted and the key state was re-derived
    from mentions and links; 34 since both are read off the linker's
    one truncated per-mention frame and the empty prior key state
    folds away at plan time; 30 since ``read_table`` reads with the
    schema its manifests record.  The budget is that plus a margin of
    1."""
    from yargy_spark.pipeline import run_resumable
    from yargy_spark.sources.transcripts import synth_transcripts
    JOB_BUDGET = 30 + 1
    base = synth_transcripts(spark, n_turns=96, partitions=4)
    sc = spark.sparkContext
    group = 'run_resumable-job-budget'
    sc.setJobGroup(group, 'run_resumable job budget')
    try:
        snap = run_resumable(spark, base, str(tmp_path / 'base'),
                             n_buckets=4, chunk_size=1)
    finally:
        sc.setLocalProperty('spark.jobGroup.id', None)
    assert snap is not None
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= JOB_BUDGET, jobs


def test_empty_increment_and_empty_prior(spark):
    """Degenerate shapes: an empty increment yields empty outputs; an
    empty prior state degrades to plain batch linking."""
    from yargy_spark.operators.linking import (link_entities,
                                               link_entities_incremental)
    prior_keys = spark.createDataFrame(
        [], 'norm_key string, entity_id string, canonical string')
    new_mentions = spark.createDataFrame(
        [(1, 'cZ', 'иван|ульянов'), (2, 'cZ', 'пётр|ульянов')],
        'mention_id long, conv_id string, norm_key string')

    links, merges, _ = link_entities_incremental(new_mentions, prior_keys)
    batch = link_entities(new_mentions)
    assert ({tuple(r) for r in links.collect()}
            == {tuple(r) for r in batch.collect()})
    assert merges.count() == 0

    empty = new_mentions.where(F.lit(False))
    links2, merges2, _ = link_entities_incremental(empty, prior_keys)
    assert links2.count() == 0 and merges2.count() == 0


def test_entity_degree(spark):
    """Degree centrality over co-occurrence edges: each undirected
    a<b edge contributes both endpoints once."""
    from yargy_spark.operators.linking import entity_degree
    edges = spark.createDataFrame(
        [('a', 'b', 2), ('a', 'c', 1), ('b', 'c', 3)],
        'a string, b string, n_groups long')
    got = {r['entity']: (r['n_neighbors'], r['degree_weight'])
           for r in entity_degree(edges).collect()}
    assert got == {'a': (2, 3), 'b': (2, 5), 'c': (2, 4)}


def test_merge_witness_shared_conversation(spark):
    """The pair witness is a conversation where BOTH prior entities
    have direct mentions whenever one exists — entity_a's own min
    conversation (the old scheme) can contain only entity_a."""
    from yargy_spark.operators.linking import link_entities_incremental
    prior_keys = spark.createDataFrame(
        [('анна|петров', 'ent_100', 'анна|петров'),
         ('борис|петров', 'ent_200', 'борис|петров')],
        'norm_key string, entity_id string, canonical string')
    new_mentions = spark.createDataFrame(
        [(1, 'c0', 'анна|петров'),    # a-only conversation (min!)
         (2, 'c2', 'анна|петров'),    # shared conversation
         (3, 'c2', 'борис|петров')],  # bridge via coref in c2
        'mention_id long, conv_id string, norm_key string')
    _links, merges, _ = link_entities_incremental(new_mentions,
                                                  prior_keys)
    assert [(r['entity_a'], r['entity_b'], r['conv_id'],
             r['last_lemma']) for r in merges.collect()] == \
        [('ent_100', 'ent_200', 'c2', 'петров')]


def test_merge_witness_no_shared_conversation(spark):
    """When the bridge runs through a cross-conversation coref chain
    (no conversation co-locates the pair), the witness falls back to
    the min of the two sides' own witness conversations."""
    from yargy_spark.operators.linking import link_entities_incremental
    prior_keys = spark.createDataFrame(
        [('анна|петров', 'ent_100', 'анна|петров'),
         ('борис|петров', 'ent_200', 'борис|петров')],
        'norm_key string, entity_id string, canonical string')
    new_mentions = spark.createDataFrame(
        [(1, 'c5', 'анна|петров'),    # direct a in c5
         (2, 'c5', 'мария|петров'),   # coref neighbor in c5
         (3, 'c2', 'мария|петров'),   # same key, other conversation
         (4, 'c2', 'борис|петров')],  # direct b in c2
        'mention_id long, conv_id string, norm_key string')
    _links, merges, _ = link_entities_incremental(new_mentions,
                                                  prior_keys)
    assert [(r['entity_a'], r['entity_b'], r['conv_id'])
            for r in merges.collect()] == [('ent_100', 'ent_200',
                                            'c2')]


def test_apply_entity_merges(spark):
    """CC over the candidate graph: chained pairs (possibly from
    different increments) collapse to ONE numeric-min survivor; the
    key state and triples rewrite; survivors keep their rows."""
    from yargy_spark.operators.linking import apply_entity_merges
    keys = spark.createDataFrame(
        [('анна|петров', 'ent_100', 'анна|петров'),
         ('аня|петров', 'ent_200', 'аня|петров'),
         ('анюта|петров', 'ent_300', 'анюта|петров'),
         ('иван|ульянов', 'ent_999', 'иван|ульянов'),
         ('ваня|ульянов', 'ent_1000', 'ваня|ульянов'),
         ('глеб|сидоров', 'ent_600', 'глеб|сидоров')],
        'norm_key string, entity_id string, canonical string')
    cands = spark.createDataFrame(
        # (100,200) day 1 + (200,300) day 4: chains -> ent_100;
        # (1000,999): string order says ent_1000 < ent_999 but the
        # survivor is NUMERIC min ent_999; duplicate pairs are fine
        [('ent_100', 'ent_200', 'c1', 'петров'),
         ('ent_200', 'ent_300', 'c2', 'петров'),
         ('ent_100', 'ent_200', 'c9', 'петров'),
         ('ent_1000', 'ent_999', 'c3', 'ульянов')],
        'entity_a string, entity_b string, conv_id string, '
        'last_lemma string')
    triples = spark.createDataFrame(
        [('ent_200', 'mentioned_as', 'Аня', 'c1'),
         ('ent_200', 'canonical_name', 'аня|петров', 'c1'),
         ('ent_100', 'mentioned_as', 'Анна', 'c0'),
         ('ent_600', 'mentioned_as', 'Глеб', 'c7'),
         ('fact_42', 'amount', '17', 'c8')],
        'subj string, pred string, obj string, conv_id string')

    mapping, new_keys, patch = apply_entity_merges(cands, keys,
                                                   triples)
    got_map = {r['entity_id']: (r['merged_id'], r['merged_canonical'])
               for r in mapping.collect()}
    assert got_map == {
        'ent_200': ('ent_100', 'анна|петров'),
        'ent_300': ('ent_100', 'анна|петров'),
        'ent_1000': ('ent_999', 'иван|ульянов')}

    got_keys = {r['norm_key']: (r['entity_id'], r['canonical'])
                for r in new_keys.collect()}
    assert got_keys == {
        'анна|петров': ('ent_100', 'анна|петров'),
        'аня|петров': ('ent_100', 'анна|петров'),
        'анюта|петров': ('ent_100', 'анна|петров'),
        'иван|ульянов': ('ent_999', 'иван|ульянов'),
        'ваня|ульянов': ('ent_999', 'иван|ульянов'),
        'глеб|сидоров': ('ent_600', 'глеб|сидоров')}

    # patch: retired subjects rewritten, canonical_name rows dropped,
    # survivor/fresh/unrelated rows untouched (not in the patch)
    assert {tuple(r) for r in patch.collect()} == {
        ('ent_100', 'mentioned_as', 'Аня', 'c1')}


def test_apply_entity_merges_empty(spark):
    """No candidates: nothing retired, state passes through."""
    from yargy_spark.operators.linking import apply_entity_merges
    keys = spark.createDataFrame(
        [('анна|петров', 'ent_100', 'анна|петров')],
        'norm_key string, entity_id string, canonical string')
    cands = spark.createDataFrame(
        [], 'entity_a string, entity_b string, conv_id string, '
            'last_lemma string')
    mapping, new_keys = apply_entity_merges(cands, keys)
    assert mapping.count() == 0
    assert [tuple(r) for r in new_keys.collect()] == \
        [('анна|петров', 'ent_100', 'анна|петров')]


def test_run_apply_merges_job(spark, tmp_path):
    """Job surface: resolve a committed merge work-list, commit the
    rewritten key state + audit mapping + triples patch, noop on
    rerun — and day 2 chains off the APPLY root, so retired ids can
    never be re-adopted."""
    import pytest as _pytest
    from yargy_spark.pipeline import (run_apply_merges,
                                      run_incremental, run_resumable)
    from yargy_spark.sources import manifest as mf
    from yargy_spark.sources.transcripts import synth_transcripts

    base_out = str(tmp_path / 'base')
    base = synth_transcripts(spark, n_turns=96, partitions=4)
    assert run_resumable(spark, base, base_out, n_buckets=4,
                         chunk_size=4) is not None

    # manufacture an increment root whose work-list pairs two REAL
    # base entities (the synthetic continuation corpus never bridges
    # prior entities, so the candidates are committed directly).
    # Pick entities whose keys RECUR in the day-2 corpus, so the
    # day-2 adoption assertions below cannot pass vacuously.
    from yargy_spark.operators.extract import extract_mentions
    day2 = synth_transcripts(spark, n_turns=96, partitions=4,
                             start_turn=96)
    day2_keys = (extract_mentions(day2)
                 .where(F.col('norm_key').isNotNull())
                 .select('norm_key').distinct())
    keys = mf.read_table(spark, base_out + '/entity_keys') \
        .select('norm_key', 'entity_id', 'canonical')
    recurring = sorted({r['entity_id'] for r in
                        keys.join(day2_keys, 'norm_key').collect()},
                       key=lambda e: int(e.split('_')[1]))
    assert len(recurring) >= 2, \
        'fixture must repeat >=2 base entities in the continuation'
    survivor, retired = recurring[:2]
    two = [survivor, retired]
    inc_out = str(tmp_path / 'inc')
    mf.commit_replace(mf.with_bucket(keys, 4, key='norm_key'),
                      inc_out + '/entity_keys', note='entity_keys',
                      n_buckets=4)
    cands = spark.createDataFrame(
        [(min(two), max(two), 'c0', 'x')],
        'entity_a string, entity_b string, conv_id string, '
        'last_lemma string')
    mf.commit_replace(mf.with_bucket(cands, 4, key='entity_a'),
                      inc_out + '/merge_candidates',
                      note='merge_candidates', n_buckets=4)

    apply_out = str(tmp_path / 'merged')
    snap = run_apply_merges(spark, inc_out, apply_out, n_buckets=4,
                            triples_roots=[base_out])
    assert snap is not None
    assert snap['counters']['retired_entities'] == 1

    state = mf.read_table(spark, apply_out + '/entity_keys')
    state_ids = {r['entity_id'] for r in
                 state.select('entity_id').distinct().collect()}
    assert retired not in state_ids and survivor in state_ids
    merges = {(r['entity_id'], r['merged_id']) for r in
              mf.read_table(spark, apply_out + '/entity_merges')
              .collect()}
    assert merges == {(retired, survivor)}
    patch = mf.read_table(spark, apply_out + '/triples_patch')
    assert patch.where(F.col('subj') == retired).count() == 0
    assert patch.where(F.col('subj') == survivor).count() > 0
    assert patch.where(F.col('pred') == 'canonical_name').count() == 0

    # rerun = noop while both upstream snapshots are unchanged
    assert run_apply_merges(spark, inc_out, apply_out, n_buckets=4,
                            triples_roots=[base_out]) is None

    # guards stay loud
    with _pytest.raises(ValueError, match='differ'):
        run_apply_merges(spark, inc_out, inc_out, n_buckets=4)
    with _pytest.raises(ValueError, match='merge_candidates'):
        run_apply_merges(spark, str(tmp_path / 'nowhere'),
                         str(tmp_path / 'm2'), n_buckets=4)
    with _pytest.raises(ValueError, match='n_buckets'):
        run_apply_merges(spark, inc_out, apply_out, n_buckets=8)

    # DAY 2 chains off the apply root: repeated keys adopt the
    # SURVIVOR (the retired id is gone from the state, so no new
    # mention can ever link to it)
    day2_out = str(tmp_path / 'day2')
    snap2 = run_incremental(spark, day2, apply_out, day2_out,
                            n_buckets=4)
    assert snap2 is not None
    day2_subjects = {r['subj'] for r in
                     mf.read_table(spark, day2_out + '/triples')
                     .select('subj').distinct().collect()}
    assert retired not in day2_subjects
    assert survivor in day2_subjects


# ------------------------------------------------ the commit chain

def _rows(spark, root):
    """A committed table's rows, order-free (an empty commit reads as
    no rows)."""
    from yargy_spark.sources import manifest as mf
    if not mf.committed_data_dirs(root):
        return []
    return sorted(repr(tuple(r)) for r in
                  mf.read_table(spark, root).collect())


@pytest.fixture(scope='module')
def chain_jobs(spark, kg_base, tmp_path_factory):
    """job -> (run(out_root), reference root, chain roots in commit
    order, reference rows per chain root).  The references are
    uninterrupted runs: ``kg_base`` for the batch job, and one run
    each of the increment, the merge apply (with a triples patch) and
    the dedup increment."""
    from yargy_spark.operators.dedup import minhash_state
    from yargy_spark.pipeline import (run_apply_merges,
                                      run_dedup_increment,
                                      run_incremental, run_resumable)
    from yargy_spark.sources import manifest as mf
    from yargy_spark.sources.transcripts import synth_transcripts

    base_root, base, _ = kg_base
    tmp = tmp_path_factory.mktemp('chain_refs')
    inc = synth_transcripts(spark, n_turns=96, partitions=4,
                            start_turn=96)
    text = 'the quick brown fox jumps over the lazy dog near the bank'
    dedup_base = str(tmp / 'dedup_base')
    mf.commit_replace(
        mf.with_bucket(minhash_state(spark.createDataFrame(
            [(1, text)], 'doc_id long, text string')), 4, key='doc_id'),
        dedup_base + '/minhash_state', note='minhash_state',
        n_buckets=4)
    batch = spark.createDataFrame(
        [(10, text), (11, 'fresh prose on morphology grammars parsers '
                           'and knowledge graph triples')],
        'doc_id long, text string')
    inc_ref = str(tmp / 'inc')

    def resumable(out):
        return run_resumable(spark, base, out, n_buckets=4)

    def incremental(out):
        return run_incremental(spark, inc, base_root, out, n_buckets=4)

    def apply(out):
        return run_apply_merges(spark, inc_ref, out, n_buckets=4,
                                triples_roots=[base_root])

    def dedup(out):
        return run_dedup_increment(spark, batch, dedup_base, out,
                                   n_buckets=4)

    def with_mentions(src, job):
        # the crash points are all in the commit chain: start from the
        # reference's committed mentions, so extraction has nothing
        # pending and the derived tables read the same mention files
        # (which mention a canonical_name triple cites depends on
        # them)
        def run(out):
            if not os.path.exists(out + '/mentions'):
                shutil.copytree(src + '/mentions', out + '/mentions')
            return job(out)
        return run

    runs = {
        'resumable': (with_mentions(base_root, resumable), base_root,
                      ['entity_keys', 'triples']),
        'incremental': (with_mentions(inc_ref, incremental), inc_ref,
                        ['entity_keys', 'merge_candidates', 'triples']),
        'apply': (apply, str(tmp / 'apply'),
                  ['entity_keys', 'triples_patch', 'entity_merges']),
        'dedup': (dedup, str(tmp / 'dedup'),
                  ['dup_pairs', 'minhash_state']),
    }
    for ref, job in ((inc_ref, incremental), (runs['apply'][1], apply),
                     (runs['dedup'][1], dedup)):
        assert job(ref) is not None
    return {job: (run, ref, roots,
                  {r: _rows(spark, f'{ref}/{r}') for r in roots})
            for job, (run, ref, roots) in runs.items()}


CRASH_POINTS = [('resumable', 0), ('resumable', 1),
                ('incremental', 0), ('incremental', 1),
                ('incremental', 2), ('apply', 0), ('apply', 1),
                ('apply', 2), ('dedup', 0), ('dedup', 1)]


@pytest.mark.parametrize('job,k', CRASH_POINTS)
def test_crash_mid_chain_converges(spark, chain_jobs, tmp_path,
                                   monkeypatch, job, k):
    """A crash at the k-th REPLACE commit of a job's chain: the rerun
    is not a no-op, re-commits the whole chain and lands the same
    rows on every chain root as an uninterrupted run; a third run is
    a no-op."""
    from yargy_spark.sources import manifest as mf
    run, _, roots, ref_rows = chain_jobs[job]
    out = str(tmp_path / 'out')
    real = mf.commit_replace
    written, crash_at = [], k + 1

    def commit(df, root, *a, **kw):
        written.append(root[len(out) + 1:])
        if len(written) == crash_at:
            raise RuntimeError('injected crash')
        return real(df, root, *a, **kw)

    monkeypatch.setattr(mf, 'commit_replace', commit)
    with pytest.raises(RuntimeError, match='injected crash'):
        run(out)
    assert written == roots[:k + 1]
    written.clear()
    crash_at = None
    assert run(out) is not None
    assert written == roots
    for r in roots:
        assert _rows(spark, f'{out}/{r}') == ref_rows[r], r
    assert run(out) is None


def test_resumable_recommits_missing_keys(spark, kg_base, tmp_path):
    """A base root whose entity_keys has no manifests (a root from
    before the key state existed) is not current: the rerun commits
    the keys, stamped with the mentions head."""
    from yargy_spark.pipeline import run_resumable
    from yargy_spark.sources import manifest as mf
    base_root, base, _ = kg_base
    root = str(tmp_path / 'base')
    shutil.copytree(base_root, root)
    shutil.rmtree(root + '/entity_keys/_manifests')
    assert run_resumable(spark, base, root, n_buckets=4,
                         chunk_size=1) is not None
    keys = mf.snapshots(root + '/entity_keys')
    assert len(keys) == 1
    assert keys[0]['source_snapshot'] == \
        mf.current_snapshot(root + '/mentions')
    assert _rows(spark, root + '/entity_keys') == \
        _rows(spark, base_root + '/entity_keys')
    assert run_resumable(spark, base, root, n_buckets=4,
                         chunk_size=1) is None


def test_apply_rerun_adds_triples_patch(spark, chain_jobs, tmp_path):
    """An apply run without ``triples_roots`` does not make a rerun
    that asks for a triples patch a no-op: the patch root is part of
    that rerun's chain."""
    from yargy_spark.pipeline import run_apply_merges
    from yargy_spark.sources import manifest as mf
    inc_root = chain_jobs['incremental'][1]
    base_root = chain_jobs['resumable'][1]
    out = str(tmp_path / 'apply')
    assert run_apply_merges(spark, inc_root, out, n_buckets=4) \
        is not None
    assert mf.current_snapshot(out + '/triples_patch') is None
    assert run_apply_merges(spark, inc_root, out, n_buckets=4,
                            triples_roots=[base_root]) is not None
    assert mf.current_snapshot(out + '/triples_patch') is not None
    assert run_apply_merges(spark, inc_root, out, n_buckets=4,
                            triples_roots=[base_root]) is None


def test_increment_refuses_triples_bucket_drift(spark, kg_base,
                                                tmp_path):
    """Drift is refused on every root the increment writes, not only
    on its mentions: a triples root committed under another
    ``n_buckets`` fails the run."""
    from yargy_spark.pipeline import run_incremental
    from yargy_spark.sources import manifest as mf
    from yargy_spark.sources.transcripts import synth_transcripts
    base_root, _, _ = kg_base
    out = str(tmp_path / 'inc')
    mf.commit_replace(
        mf.with_bucket(spark.createDataFrame([('c0',)], 'conv_id string'),
                       8),
        out + '/triples', note='triples', n_buckets=8)
    inc = synth_transcripts(spark, n_turns=96, partitions=4,
                            start_turn=96)
    with pytest.raises(ValueError, match='n_buckets'):
        run_incremental(spark, inc, base_root, out, n_buckets=4)
