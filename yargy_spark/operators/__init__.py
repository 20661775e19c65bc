"""Corpus-level Spark operators (one module per family; see
COVERAGE.md for the operator -> test -> query map)."""

from .extract import extract_mentions            # noqa: F401
from .linking import (apply_entity_merges,       # noqa: F401
                      connected_components,
                      entity_cooccurrence, entity_degree,
                      link_entities,
                      link_entities_incremental, mention_edges)
from .triples import materialize_triples         # noqa: F401
from .tokens import (annotate_lemmas,            # noqa: F401
                     lexicon_table, token_table)
from .dedup import (dedup_increment, exact_dedup,  # noqa: F401
                    minhash_lsh_pairs, minhash_signatures,
                    minhash_state,
                    ngram_jaccard_pairs, row_signatures,
                    word_shingles)
