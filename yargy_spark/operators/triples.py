"""Triple materialization: mentions (+ entity links) -> (subj, pred, obj).

Output contract (SURVEY.md §1.2, FIXTURES.md §2):
    triples(subj, pred, obj,
            conv_id, turn_idx, fact_type, span_start, span_stop,
            rule_id)

* Person-like facts (those with a blocking key) get their canonical
  entity as subject, so every inflected mention of one person lands on
  one subject node; everything else gets a deterministic per-mention
  fact node ('fact_<id>').
* Attribute flattening happened inside the extraction UDF (the
  ``attrs`` array), so this operator is a pure JVM-side explode +
  broadcastable join — no Python in the hot path.
* Entity rows additionally emit ('canonical_name', <lemma key>) and a
  'same_as' triple per non-canonical mention surface, giving the graph
  its coreference structure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PROVENANCE = ['conv_id', 'turn_idx', 'fact_type',
              'span_start', 'span_stop', 'rule_id']


def materialize_triples(mentions: DataFrame,
                        entities: DataFrame | None = None) -> DataFrame:
    """mentions (from extract_mentions) + entity links (from
    link_entities or link_entities_incremental) -> triples table.

    Each linked entity gets one ``canonical_name`` row, whose
    provenance is that of the entity's mention with the least
    (conv_id, turn_idx, span_start, span_stop, mention_id): the same
    row under any plan that links the same corpus."""
    m = mentions
    if entities is not None:
        # entity links are mention-cardinality — a plain equi-join on
        # the deterministic mention_id; AQE picks the physical strategy
        m = m.join(entities, 'mention_id', 'left')
    else:
        m = (m.withColumn('entity_id', F.lit(None).cast('string'))
             .withColumn('canonical', F.lit(None).cast('string')))

    subj = F.coalesce(F.col('entity_id'),
                      F.format_string('fact_%d', F.col('mention_id')))

    attr_triples = (m
                    .select(subj.alias('subj'),
                            F.explode('attrs').alias('kv'),
                            *PROVENANCE)
                    .select('subj',
                            F.col('kv.pred').alias('pred'),
                            F.col('kv.obj').alias('obj'),
                            *PROVENANCE))

    first = F.min(F.struct('conv_id', 'turn_idx', 'span_start',
                           'span_stop', 'mention_id', 'fact_type',
                           'rule_id', 'canonical'))
    canon_triples = (m
                     .where(F.col('entity_id').isNotNull())
                     .groupBy(F.col('entity_id').alias('subj'))
                     .agg(first.alias('first'))
                     .select('subj',
                             F.lit('canonical_name').alias('pred'),
                             F.col('first.canonical').alias('obj'),
                             *(F.col('first.' + c).alias(c)
                               for c in PROVENANCE)))

    mention_triples = (m
                       .where(F.col('entity_id').isNotNull())
                       .select(F.col('entity_id').alias('subj'),
                               F.lit('mentioned_as').alias('pred'),
                               F.col('match_text').alias('obj'),
                               *PROVENANCE))

    return attr_triples.unionByName(canon_triples) \
                       .unionByName(mention_triples)
