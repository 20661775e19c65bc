"""Deterministic sequence packing for LLM training pipelines.

After cleanup/dedup/sampling, a pretraining pipeline concatenates
documents and slices the stream into fixed ``ctx_len``-token training
sequences ("concat-and-chunk", the standard GPT/LLaMA data layout).
At 100 TB the naive formulation — ONE global document order — is a
single sequential scan and cannot be distributed, so this operator
packs within deterministic hash buckets: each bucket is an
independent token stream (= one output shard), and buckets pack in
parallel.  Everything derives from the salted portable 60-bit md5
hash (``dedup.md5_int``), so the layout is reproducible across
reruns, resumes and engines — a crashed packing job re-derives byte-
identical shard layouts, and the DuckDB oracle replays every
assignment.

Scale shape: one shuffle (the bucket exchange), then a per-bucket
running-sum window.  A bucket's cumsum is inherently sequential (it
IS the document order), so parallelism = ``n_buckets``; choose
n_buckets >= cluster cores (it is also the output shard count, so
~thousands at the 100 TB design point).  All expressions are JVM-side
codegen — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import md5_int
from .sampling import _key_str
from .textstats import ws_token_count


def pack_sequences(docs: DataFrame, ctx_len: int = 512,
                   key_col: str = 'doc_id', n_buckets: int = 8,
                   salt: str = 'pack', token_expr=None) -> DataFrame:
    """Assign every document a deterministic position in a packed
    fixed-length-sequence layout.

    Per document: its shard (``bucket``), its token offset within the
    shard's concatenated stream (``start_tok``), its whitespace token
    count (``n_tokens``, see ``textstats.ws_token_count``), and the
    first/last ``ctx_len``-token training sequence it lands in
    (``seq_first``/``seq_last`` — concat-and-chunk lets a document
    straddle a boundary, so a writer slices [start_tok, start_tok +
    n_tokens) across sequences ``seq_first..seq_last``).

    Order within a bucket is (salted hash, key): hashed order doubles
    as the corpus shuffle every training run needs — no separate
    shuffle pass, still fully deterministic.  Zero-token documents
    are excluded (they occupy no stream positions).

    Contract: ``key_col`` must uniquely identify rows (same contract
    as ``sampling.stratum_reservoir``) — duplicate keys share one
    (bucket, draw, key) sort position, making their relative order in
    the cumsum partition-order-dependent, which breaks exactly the
    byte-identical-layout guarantee above.  Run ``exact_dedup`` /
    key-dedup upstream first.

    ``token_expr`` swaps the layout's counter (the same pluggable
    Column contract as ``sampling.mixture_sample`` — e.g.
    ``textstats.re_token_count()``, or a tokenizer-exact precomputed
    column) so sequence budgets can be sized in the units the trainer
    actually consumes.  ``materialize_sequences`` stays
    whitespace-only: it SLICES the whitespace token array, so it
    packs with the default counter by construction.
    """
    if ctx_len <= 0:
        raise ValueError('ctx_len must be positive, got %d' % ctx_len)
    if n_buckets <= 0:
        raise ValueError('n_buckets must be positive, got %d'
                         % n_buckets)
    ks = _key_str(key_col)
    bucket = F.pmod(md5_int(F.concat(F.lit(salt + 'b|'), ks)),
                    F.lit(n_buckets))
    draw = md5_int(F.concat(F.lit(salt + '|'), ks))
    toks = (docs
            .select(key_col,
                    (token_expr if token_expr is not None
                     else ws_token_count()).alias('n_tokens'),
                    bucket.cast('int').alias('bucket'),
                    draw.alias('_draw'))
            .where(F.col('n_tokens') > 0))
    w = (Window.partitionBy('bucket')
         .orderBy(F.asc('_draw'), F.asc_nulls_last(key_col))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (toks
            .withColumn('_fin', F.sum('n_tokens').over(w))
            .withColumn('start_tok',
                        (F.col('_fin') - F.col('n_tokens'))
                        .cast('long'))
            # integer DIV (not /): '/' is DOUBLE division in Spark
            # SQL; a double quotient loses exactness past 2^53 and
            # DuckDB's // is floor-integer — DIV matches it exactly
            .withColumn('seq_first',
                        F.expr('start_tok DIV %d' % ctx_len))
            .withColumn('seq_last',
                        F.expr('(_fin - 1) DIV %d' % ctx_len))
            .select(key_col, 'bucket', 'start_tok', 'n_tokens',
                    'seq_first', 'seq_last'))


def materialize_sequences(docs: DataFrame, ctx_len: int = 512,
                          key_col: str = 'doc_id',
                          n_buckets: int = 8, salt: str = 'pack',
                          text_col: str = 'text') -> DataFrame:
    """The writer for ``pack_sequences``: slice documents into the
    actual fixed-length training rows the layout describes — one row
    per (bucket, seq_id) carrying the assembled token payload.  Every
    sequence holds exactly ``ctx_len`` tokens except each bucket's
    LAST one (the stream tail), which is the concat-and-chunk
    contract.

    Per document the layout's [start_tok, start_tok + n_tokens) span
    is exploded over its sequences (``sequence(seq_first, seq_last)``)
    and each sequence takes its slice of the document's own token
    array; per sequence the contributions concatenate in stream order
    (sort by ``start_tok`` — unique within a bucket).  Tokens are the
    same lowercased whitespace split ``ws_token_count`` counts, so
    the payload lengths and the layout can never disagree.

    (bucket, seq_id, n_docs, n_tokens, seq_text).

    Scale shape: re-derives the layout (one exchange + window), joins
    text back over the unique key (one equi-join; AQE broadcast when
    the layout side fits), explodes at most ceil(n_tokens/ctx_len)+1
    rows per document, then ONE groupBy(bucket, seq_id) whose
    payloads are ctx_len-bounded.  split/slice/sequence/sort_array/
    flatten are all JVM codegen — no UDFs, no driver loops; output
    rows stream straight to the shard writer partitioned by
    ``bucket``."""
    # the layout MUST count the same column this writer slices —
    # pack_sequences' default counter reads 'text', so thread
    # text_col through explicitly (review finding: a custom text_col
    # previously sliced one column against a layout derived from
    # another)
    layout = pack_sequences(docs, ctx_len, key_col, n_buckets, salt,
                            token_expr=ws_token_count(F.col(text_col)))
    text = F.lower(F.col(text_col))
    toks = docs.select(key_col, F.split(F.trim(text), r'\s+')
                       .alias('_toks'))
    ex = (layout.join(toks, key_col)
          .select('bucket', 'start_tok', 'n_tokens', '_toks',
                  F.explode(F.sequence('seq_first', 'seq_last'))
                  .alias('seq_id')))
    lo = F.greatest(F.col('seq_id') * ctx_len, F.col('start_tok'))
    hi = F.least((F.col('seq_id') + 1) * ctx_len,
                 F.col('start_tok') + F.col('n_tokens'))
    part = ex.select(
        'bucket', 'seq_id', 'start_tok',
        F.slice('_toks', (lo - F.col('start_tok') + 1).cast('int'),
                (hi - lo).cast('int')).alias('_part'))
    assembled = F.flatten(F.transform(
        F.sort_array(F.collect_list(F.struct('start_tok', '_part'))),
        lambda s: s['_part']))
    return (part.groupBy('bucket', 'seq_id')
            .agg(F.count('*').alias('n_docs'),
                 assembled.alias('_seq'))
            .select('bucket', 'seq_id', 'n_docs',
                    F.size('_seq').alias('n_tokens'),
                    F.array_join('_seq', ' ').alias('seq_text')))


def context_windows(transcripts: DataFrame, k: int = 3,
                    sep: str = '\n') -> DataFrame:
    """SFT-style training-example assembly over transcripts: for
    every turn, the previous ``k`` turns of its conversation joined
    as the rolling context (the standard chat-fine-tuning input
    layout: context -> current turn).

    Scale shape: ONE shuffle on conv_id (the window partition);
    the frame is ``ROWS BETWEEN k PRECEDING AND 1 PRECEDING`` so each
    row does O(k) work and state — no per-conversation collect, no
    quadratic blowup on long conversations.  Conversations are
    bounded (TURNS_PER_CONV) and ids are hash-distributed, so the
    window partitions are skew-free by construction; a pathological
    mega-conversation source would need a salted sub-partition of
    the conversation key.

    (conv_id, turn_idx, role, n_ctx_turns, context)."""
    w = (Window.partitionBy('conv_id').orderBy('turn_idx')
         .rowsBetween(-k, -1))
    return transcripts.select(
        'conv_id', 'turn_idx', 'role',
        F.count('text').over(w).alias('n_ctx_turns'),
        # collect_list over the bounded frame preserves the frame's
        # turn_idx order; empty frame (first turn) joins to ''
        F.array_join(F.collect_list('text').over(w), sep)
        .alias('context'))
