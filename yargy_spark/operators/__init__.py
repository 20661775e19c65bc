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
from .dedup import (clean_corpus, decontaminate,  # noqa: F401
                    dedup_increment, exact_dedup,
                    minhash_lsh_pairs, minhash_signatures,
                    minhash_state,
                    dup_span_scores,
                    ngram_jaccard_pairs, paragraph_dedup,
                    remove_dup_spans, row_signatures,
                    simhash_docs, word_shingles)
from .textstats import (corpus_vocabulary,       # noqa: F401
                        doc_fingerprints, filter_corpus, lang_id,
                        pii_scrub, quality_scores, re_token_count,
                        rare_token_scores,
                        repetition_scores, token_counts, top_ngrams,
                        ws_token_count)
