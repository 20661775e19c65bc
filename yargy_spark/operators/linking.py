"""Entity linking: blocking, mention graph, connected components,
canonicalization.

north_rule stages with no reference analog (SURVEY.md §2.10) —
designed Spark-first for the 100 TB point:

* Blocking key = normalized-lemma pair ('иван|ульянов') produced by the
  inflected Name extractor, so every inflection of a name blocks
  together.
* The mention graph is built WITHOUT a quadratic self-join: each
  blocking group contributes star edges (mention -> group anchor).
  A hot entity mentioned 10^8 times yields 10^8 edges, not 10^16
  pairs — this, plus map-side partial aggregation of the min() anchor
  (Catalyst's partial HashAggregate collapses a hot key to one row
  per map task before the exchange, so explicit salting would only
  add a redundant second shuffle), is the skew design (AQE skew-join
  stays on as backstop for the joins that remain).
* Components via alternating large-star/small-star (Kiveris et al.,
  "Connected Components in MapReduce and Beyond") — O(log n) rounds on
  arbitrary graphs, checkpoint per round to truncate lineage
  (reliable ``checkpoint()`` when a checkpoint dir is configured —
  the right setting on a cluster where executor loss is routine —
  falling back to ``localCheckpoint`` in local mode).
* Entity assignment, shared by the batch and the incremental linker:
  the mentions aggregate to one row per (component, blocking key),
  left-joined to the entity-key state (empty for a batch link), and
  one window pass per component over that key table assigns each key
  its prior entity, else the touched prior entity with the numeric-min
  id, else a fresh id with the component's most frequent key as its
  canonical form (deterministic tie-break).  The window sees distinct
  keys, never a hot key's mentions; the mentions join back once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# ------------------------------------------------------------------ edges

def _checkpointed(df: DataFrame, eager: bool = True,
                  pending: list = None) -> DataFrame:
    """Truncate lineage: reliable ``checkpoint()`` when the session
    has a checkpoint dir (survives executor loss — required at the
    cluster design point where lineage-truncated localCheckpoint
    blocks die with their executor), else ``localCheckpoint``.

    Reliable checkpoint has NO implicit persist (unlike
    localCheckpoint): without one, the checkpoint-write job would
    recompute the whole subtree a second time and downstream reuse a
    third — so persist first (the documented checkpoint pattern).
    Eager checkpoints release the pre-checkpoint blocks before
    returning.  Lazy checkpoints append the persisted frame to
    ``pending``; the CALLER must unpersist after the action that
    materializes the checkpoint — relying on LRU eviction instead
    builds storage-memory pressure across the up-to-20 CC rounds on a
    cluster with a checkpoint dir."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        df = df.persist()
        out = df.checkpoint(eager=eager)
        if eager:
            df.unpersist()
        elif pending is not None:
            pending.append(df)
        return out
    return df.localCheckpoint(eager=eager)


def _anchor_edges(df: DataFrame, key_col: str, node_col: str
                  ) -> DataFrame:
    """Star edges (node -> min node) per blocking key.  min() is
    algebraic: Catalyst's partial HashAggregate collapses a hot key
    to <= one row per map task BEFORE the exchange, so no reducer
    ever sees a hot key's raw rows and no explicit salting is needed
    (a salted two-phase min would just add a second shuffle)."""
    anchors = (df
               .select(key_col, node_col)
               .groupBy(key_col)
               .agg(F.min(node_col).alias('anchor')))
    return (df
            .select(key_col, node_col)
            .join(anchors, key_col)
            .where(F.col(node_col) != F.col('anchor'))
            .select(F.col(node_col).alias('src'),
                    F.col('anchor').alias('dst')))


def _person_mentions(mentions: DataFrame) -> DataFrame:
    """(mention_id, conv_id, norm_key, last_lemma) of the mentions
    with a blocking key; ``last_lemma`` is the key's surname lemma,
    NULL for a key without one."""
    return (mentions
            .where(F.col('norm_key').isNotNull())
            .select('mention_id', 'conv_id', 'norm_key')
            .withColumn('last_lemma', F.try_element_at(
                F.split('norm_key', r'\|'), F.lit(2))))


def mention_edges(mentions: DataFrame) -> DataFrame:
    """Mention-graph edges over person-like mentions:
      (a) global blocking on the full lemma key,
      (b) conversation-local coref on the surname lemma
    (FIXTURES.md §6)."""
    pm = _person_mentions(mentions)

    # both blocking families run through ONE two-phase aggregation:
    # keys are disjoint by prefix, so a single union'd pass halves the
    # shuffle/job count vs aggregating each family separately.
    # Mentions with no surname lemma are excluded from the
    # conversation family: concat_ws would silently drop the NULL and
    # collapse every such mention in a conversation onto one key,
    # star-edging unrelated mentions into one entity.
    keyed = (pm.select(F.concat_ws('#', F.lit('k'), 'norm_key')
                       .alias('bkey'), 'mention_id')
             .union(pm.where(F.col('last_lemma').isNotNull())
                    .select(
                 F.concat_ws('#', F.lit('c'), 'conv_id', 'last_lemma')
                 .alias('bkey'), 'mention_id')))
    return _anchor_edges(keyed, 'bkey', 'mention_id')


# ------------------------------------------------- connected components

def _large_star(sym: DataFrame) -> DataFrame:
    mins = (sym.groupBy('src')
            .agg(F.least(F.min('dst'), F.first('src')).alias('m')))
    return (sym.join(mins, 'src')
            .where(F.col('dst') > F.col('src'))
            .select(F.col('dst').alias('src'), F.col('m').alias('dst')))


def _small_star(sym: DataFrame) -> DataFrame:
    orient = sym.where(F.col('src') >= F.col('dst'))
    mins = orient.groupBy('src').agg(F.min('dst').alias('m'))
    joined = orient.join(mins, 'src')
    part1 = (joined.where(F.col('dst') != F.col('m'))
             .select(F.col('dst').alias('src'), F.col('m').alias('dst')))
    part2 = (mins.where(F.col('src') != F.col('m'))
             .select('src', F.col('m').alias('dst')))
    return part1.union(part2)


def _is_star_forest(edges: DataFrame) -> bool:
    """Whether the distinct, high -> low oriented ``edges`` form a
    star forest: every node is a src at most once and never both a
    src and a dst.  Per node over both edge directions, that fails
    exactly when the node has a lower neighbor (it is a src) and more
    than one neighbor (a second out-edge, or an in-edge)."""
    per_node = (edges.select(F.col('src').alias('node'),
                             F.col('dst').alias('nbr'))
                .union(edges.select(F.col('dst').alias('node'),
                                    F.col('src').alias('nbr')))
                .groupBy('node')
                .agg(F.min('nbr').alias('low'),
                     F.count('*').alias('n')))
    return per_node.where((F.col('low') < F.col('node'))
                          & (F.col('n') > 1)).isEmpty()


def connected_components(edges: DataFrame, max_iter: int = 20
                         ) -> DataFrame:
    """edges(src,dst) -> (node, component) with component = min node id
    of the component.  Alternating large-star/small-star rounds until
    the edge set is a star forest — the algorithm's fixed point, where
    every non-minimal node points straight at its component min."""
    edges = _checkpointed(edges.select(
        F.col('src').cast('long'), F.col('dst').cast('long')
    ).where(F.col('src') != F.col('dst')).distinct())

    current = edges
    pending = []
    for _ in range(max_iter):
        sym = current.union(
            current.select(F.col('dst').alias('src'),
                           F.col('src').alias('dst')))
        # star outputs are canonically oriented already: every emitted
        # edge is (node, group-min) with node > min.  The checkpoint
        # is lazy; the star-forest check materializes it, after which
        # the pre-checkpoint persist is released immediately.
        current = _checkpointed(
            _large_star(sym).union(_small_star(sym)).distinct(),
            eager=False, pending=pending)
        converged = _is_star_forest(current)
        for p in pending:
            p.unpersist()
        pending.clear()
        if converged:
            break
    else:
        # silent exit would emit SPLIT components (nodes mapped to
        # non-minimal local anchors) with no signal downstream
        raise RuntimeError(
            'connected_components did not converge in %d rounds; '
            'raise max_iter' % max_iter)

    # a star forest maps every src once, to its component min; the
    # mins (dsts, never srcs) are their own components
    members = current.select(F.col('src').alias('node'),
                             F.col('dst').alias('component'))
    roots = current.select(F.col('dst').alias('node'),
                           F.col('dst').alias('component')).distinct()
    return members.union(roots)


# ---------------------------------------------------- entity assignment

# the entity-key state: one row per distinct blocking key
KEY_SCHEMA = 'norm_key string, entity_id string, canonical string'


def empty_keys(spark) -> DataFrame:
    """The empty entity-key state.  The false filter makes it an empty
    relation at plan time, so the optimizer folds a join against it
    away and nothing scans the Python-side rows of ``createDataFrame``
    (a scan that would start Python workers)."""
    return spark.createDataFrame([], KEY_SCHEMA).where(F.lit(False))


def _num(col):
    """The numeric part of an ``ent_<n>`` entity id: ids order by it,
    not by their strings ('ent_9...' < 'ent_10...')."""
    return F.regexp_extract(col, '^ent_([0-9]+)$', 1).cast('long')


def _linked_mentions(mentions: DataFrame, prior_keys: DataFrame
                     ) -> DataFrame:
    """The one entity assignment both linkers run: each person mention
    with its component, its ``prior_keys`` row (``prior_id``, NULL off
    the state) and its ``(entity_id, canonical)``, truncated once.

    Assignment is per blocking key, not per mention: the mentions
    aggregate to one row per ``(component, norm_key)`` with its count
    ``n``, left-joined to the state on ``norm_key``, and one window
    pass per component over that key table assigns each key its own
    prior row, else the touched prior row with the numeric-min id,
    else ``ent_<component>`` and the component's top key.  The window
    sees distinct keys, never a hot key's mentions.  The mentions join
    back on ``norm_key``: all mentions of a key share its 'k#'
    blocking key, hence one component."""
    pm = _person_mentions(mentions)
    cc = connected_components(mention_edges(pm))
    prior = prior_keys.select('norm_key',
                              F.col('entity_id').alias('prior_id'),
                              F.col('canonical').alias('prior_canonical'))
    # a component's keys ranked for its canonical form: the most
    # frequent first, ties broken lexicographically (deterministic)
    ranked = (Window.partitionBy('component')
              .orderBy(F.desc('n'), F.asc('norm_key')))
    adopt = F.min(F.when(F.col('prior_id').isNotNull(),
                         F.struct(_num('prior_id').alias('num'),
                                  'prior_id', 'prior_canonical'))
                  ).over(Window.partitionBy('component'))
    keys = (pm.join(cc, pm.mention_id == cc.node, 'left')
            .groupBy(F.coalesce('component', 'mention_id')
                     .alias('component'), 'norm_key')
            .agg(F.count(F.lit(1)).alias('n'))
            .join(prior, 'norm_key', 'left')
            .select('norm_key', 'component', 'prior_id',
                    F.coalesce('prior_id', adopt.prior_id,
                               F.format_string('ent_%d', 'component'))
                    .alias('entity_id'),
                    F.coalesce('prior_canonical', adopt.prior_canonical,
                               F.first('norm_key').over(ranked))
                    .alias('canonical')))
    # the one truncation: links, the key state and the merge
    # candidates are consumed by separate writes, and each derives
    # from here instead of re-running the CC rounds and the window
    return _checkpointed(pm.join(keys, 'norm_key'))


def link_entities(mentions: DataFrame) -> DataFrame:
    """Person-like mentions -> (mention_id, entity_id, canonical)
    with one deterministic canonical name per connected component:
    the entity assignment against an empty key state."""
    return (_linked_mentions(mentions, empty_keys(mentions.sparkSession))
            .select('mention_id', 'entity_id', 'canonical'))


# ------------------------------------------------ incremental linking

def link_entities_incremental(new_mentions: DataFrame,
                              prior_keys: DataFrame) -> tuple:
    """Link a NEW batch of mentions against an already-linked corpus
    WITHOUT re-running global connected components — the bounded-
    staleness fast path that complements the REPLACE-snapshot full
    re-link (jobs/run_kg.py): at 10^12 turns a daily increment is
    ~10^9 turns, and global CC over the full mention graph per
    increment is the one cost the two-phase resume design could not
    avoid (SCALE.md "Failure / resume").

    Component adoption: connected components over increment-local
    star edges only (never the historical mention graph), then the
    per-key assignment ``link_entities`` runs, against ``prior_keys``
    (``KEY_SCHEMA``, distinct-key-bounded; AQE broadcasts it when it
    fits) instead of an empty state:

    * a key in the prior state (the direct tier) keeps THAT entity
      unconditionally — re-assigning it would silently merge prior
      entities and rewrite committed triples;
    * every other key of a component that touches >= 1 prior entity
      adopts the touched entity with the numeric-min id (the order
      batch CC and ``apply_entity_merges`` use) — closed over chains
      (same-key mentions in other conversations, coref neighbors of
      those, ...) because adoption is decided per CC component, not
      per direct neighbor;
    * components touching no prior entity get a fresh id
      ('ent_<min mention_id>'; mention ids are 63-bit content hashes
      unique across batches, so fresh ids cannot collide with prior
      ids) and the canonical form ``link_entities`` would give them.

    Returns ``(links, merge_candidates, new_keys)``:

    * ``links`` — (mention_id, entity_id, canonical) for every
      person-like new mention, same contract as ``link_entities``.
    * ``merge_candidates`` — (entity_a, entity_b, conv_id,
      last_lemma): pairs of PRIOR entities that one increment
      component now connects, with a witness conversation/lemma for
      human triage.  The witness is a conversation where BOTH
      entities have direct mentions (deterministic min over shared
      conversations) whenever one exists; when the bridge runs only
      through a coref chain spanning conversations — so no single
      conversation co-locates the pair — it falls back to the
      lexicographic min of the two sides' own witness conversations.
      Incremental assignment never merges prior entities; the
      candidates are the work-list for ``apply_entity_merges`` or
      the next full re-link — bounded staleness, loud rather than
      silent.
    * ``new_keys`` — (norm_key, entity_id, canonical) for every key
      of the increment that is not in ``prior_keys``, one row per
      key, so ``prior_keys`` union ``new_keys`` is the rolled-forward
      state (a direct-tier key already carries its prior row).
      Against an empty state it is the whole key state of the batch
      (``run_resumable`` commits it).
    """
    per_mention = _linked_mentions(new_mentions, prior_keys)
    direct = F.col('prior_id').isNotNull()
    links = per_mention.select('mention_id', 'entity_id', 'canonical')
    new_keys = (per_mention.where(~direct)
                .select('norm_key', 'entity_id', 'canonical')
                .distinct())

    # prior entities touched by each increment component.  The
    # distinct (component, prior, conversation) table drives both the
    # per-entity witness and the pair-shared-conversation witness —
    # bounded by direct-tier rows, far below mention cardinality.
    touched_cl = (per_mention.where(direct)
                  .select(F.col('component').alias('comp_id'),
                          'prior_id', 'conv_id', 'last_lemma')
                  .distinct())
    touched = (touched_cl
               .groupBy('comp_id', 'prior_id')
               .agg(F.min('conv_id').alias('conv_id'),
                    F.min('last_lemma').alias('last_lemma')))

    # one row per (component, pair) with the fallback witness, and
    # one per conversation where BOTH priors have direct mentions
    # (the a-side min conversation can contain only entity_a when the
    # component bridges via a coref chain); one aggregation per pair
    # prefers the least shared (conversation, lemma) struct — its
    # lemma from the SAME conversation — over the fallback
    a, b = touched.alias('a'), touched.alias('b')
    pairs = (a.join(b, 'comp_id')
             .where(F.col('a.prior_id') < F.col('b.prior_id'))
             .select('comp_id',
                     F.col('a.prior_id').alias('entity_a'),
                     F.col('b.prior_id').alias('entity_b'),
                     F.lit(False).alias('shared'),
                     F.least('a.conv_id', 'b.conv_id').alias('conv_id'),
                     F.col('a.last_lemma').alias('last_lemma')))
    sa, sb = touched_cl.alias('sa'), touched_cl.alias('sb')
    shared = (sa.join(sb, (F.col('sa.comp_id') == F.col('sb.comp_id'))
                      & (F.col('sa.conv_id') == F.col('sb.conv_id'))
                      & (F.col('sa.prior_id') < F.col('sb.prior_id')))
              .select(F.col('sa.comp_id').alias('comp_id'),
                      F.col('sa.prior_id').alias('entity_a'),
                      F.col('sb.prior_id').alias('entity_b'),
                      F.lit(True).alias('shared'),
                      F.col('sa.conv_id').alias('conv_id'),
                      F.col('sa.last_lemma').alias('last_lemma')))

    def witness(tier):
        return F.min(F.when(tier, F.struct('conv_id', 'last_lemma')))
    merge_candidates = (
        pairs.union(shared)
        .groupBy('comp_id', 'entity_a', 'entity_b')
        .agg(witness(F.col('shared')).alias('s'),
             witness(~F.col('shared')).alias('f'))
        .select('entity_a', 'entity_b',
                F.coalesce('s.conv_id', 'f.conv_id').alias('conv_id'),
                F.coalesce('s.last_lemma', 'f.last_lemma')
                .alias('last_lemma')))
    return links, merge_candidates, new_keys


def apply_entity_merges(merge_candidates: DataFrame,
                        prior_keys: DataFrame,
                        triples: DataFrame = None):
    """Resolve the merge work-list BETWEEN full re-links: connected
    components over the prior-entity merge graph (pairs accumulated
    from one or many increments CHAIN — a-b from day 1 and b-c from
    day 4 must land in one surviving entity, so per-pair min is not
    enough; this reuses the same large/small-star CC kernel the
    linker runs), elect each component's numeric-min entity id as the
    survivor, and rewrite the entity-key state.  This is the explicit
    apply step a KG operator schedules after triaging
    ``merge_candidates`` — merges are still never applied silently
    (jobs/run_kg_apply_merges.py commits the outcome as new state +
    an audit mapping).

    Returns ``(mapping, new_keys)`` — or ``(mapping, new_keys,
    patch)`` when ``triples`` is given:

    * ``mapping`` — (entity_id, merged_id, merged_canonical), one row
      per RETIRED entity (survivors do not appear as ``entity_id``).
    * ``new_keys`` — the full ``KEY_SCHEMA`` state with
      retired ids rewritten to their survivor (id AND canonical), so
      the next increment chains off merged state.
    * ``patch`` — corrected rows for every input triple whose subject
      is retired: subject rewritten to the survivor, ``canonical_name``
      rows dropped (the survivor already owns one).  Applying the
      patch = anti-join retired subjects out of the triples table,
      union the patch in — jobs/run_kg_apply_merges.py materializes
      it; the next full re-link supersedes it.

    Scale shape: the merge graph is candidate-bounded (orders of
    magnitude below the key table, let alone mentions), so CC here is
    cheap; both rewrites are single equi-joins against the
    candidate-bounded mapping — Catalyst broadcasts it, making the
    key-table and triples passes map-side."""
    edges = (merge_candidates
             .select(_num('entity_a').alias('src'),
                     _num('entity_b').alias('dst'))
             .where(F.col('src').isNotNull()
                    & F.col('dst').isNotNull()))
    cc = connected_components(edges)
    mapping_ids = (cc.where(F.col('node') != F.col('component'))
                   .select(F.format_string('ent_%d', F.col('node'))
                           .alias('entity_id'),
                           F.format_string('ent_%d',
                                           F.col('component'))
                           .alias('merged_id')))
    # the survivor is itself a prior entity (candidates are prior-id
    # pairs), so its canonical comes from the key state; left join
    # keeps the mapping loud (NULL canonical) rather than silently
    # dropping a retired entity if state and candidates ever diverge
    survivor_canon = (prior_keys
                      .select(F.col('entity_id').alias('merged_id'),
                              F.col('canonical')
                              .alias('merged_canonical'))
                      .distinct())
    mapping = mapping_ids.join(survivor_canon, 'merged_id', 'left') \
        .select('entity_id', 'merged_id', 'merged_canonical')

    new_keys = (prior_keys.join(mapping, 'entity_id', 'left')
                .select('norm_key',
                        F.coalesce('merged_id', 'entity_id')
                        .alias('entity_id'),
                        F.coalesce('merged_canonical', 'canonical')
                        .alias('canonical')))
    if triples is None:
        return mapping, new_keys

    retired = mapping.select(F.col('entity_id').alias('subj'),
                             'merged_id')
    rest = [c for c in triples.columns if c != 'subj']
    patch = (triples.join(retired, 'subj')
             .where(F.col('pred') != 'canonical_name')
             .select(F.col('merged_id').alias('subj'), *rest))
    return mapping, new_keys, patch


# ------------------------------------------------------- graph edges

def entity_cooccurrence(mentions: DataFrame, entities: DataFrame,
                        group_col: str = 'conv_id') -> DataFrame:
    """Entity co-occurrence edges: (a, b, n_groups) for canonical
    entity pairs mentioned in the same group (conversation by
    default) — the KG's entity-graph materialization.

    Scale shape: the self-join runs on the DISTINCT (group, entity)
    table, which is bounded by group count x entities-per-group, not
    by mention count; hot groups are handled by AQE skew-join."""
    ge = (mentions.join(entities, 'mention_id')
          .select(F.col(group_col).alias('grp'), 'canonical')
          .distinct())
    left = ge.select('grp', F.col('canonical').alias('a'))
    right = ge.select('grp', F.col('canonical').alias('b'))
    # ge is distinct per (grp, entity), so the joined (grp, a, b)
    # triples are already distinct — plain count equals countDistinct
    # without the two-phase distinct-aggregate expansion
    return (left.join(right, 'grp')
            .where(F.col('a') < F.col('b'))
            .groupBy('a', 'b')
            .agg(F.count('*').alias('n_groups')))


def entity_degree(edges: DataFrame) -> DataFrame:
    """Degree centrality over the entity co-occurrence graph (edges
    from ``entity_cooccurrence``): per canonical entity, the number
    of distinct neighbors and the total co-mention weight — the
    basic graph-analytics readout over the materialized KG.

    Scale shape: one union (each undirected a<b edge contributes
    both endpoints) + one map-side-combined groupBy on the entity
    key; no joins.  The edge table is pair-of-entities bounded —
    orders of magnitude smaller than the mention table it derives
    from."""
    both = (edges.select(F.col('a').alias('entity'), 'n_groups')
            .union(edges.select(F.col('b').alias('entity'),
                                'n_groups')))
    return (both.groupBy('entity')
            .agg(F.count('*').alias('n_neighbors'),
                 F.sum('n_groups').alias('degree_weight')))
