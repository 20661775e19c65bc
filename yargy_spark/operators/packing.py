"""Rolling context windows over transcript turns (the chat
fine-tuning input layout: previous turns -> current turn)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


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
