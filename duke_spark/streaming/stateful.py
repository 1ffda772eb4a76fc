"""Custom stateful streaming operator: incremental per-conversation topic.

``running_conversation_topics`` maintains, per ``conv_id``, the running
count-weighted sum of class-score vectors over every mention seen so far
(the algebraic partial of Duke's row mean, ``Duke/dataset_descriptor.py:
73-74``) in the Spark state store via ``applyInPandasWithState``. Each
micro-batch:

  1. the stateless linking kernel turns new turns into linked mentions
     (same ``link_batch`` as batch mode — kernel shared, parity free);
  2. per conversation group, the state (sum_vec, n) is updated with the
     new mentions' score vectors — mean = sum/n stays exact because the
     row mean is algebraic, so streaming order cannot change the result;
  3. the updated mean is folded up the class tree (broadcast context,
     worker-side) and the row emitted is the conversation's CURRENT
     canonical topic.

After processing all input, per-conversation topics are exactly equal to
the batch pipeline's (tested) — the streaming operator is an incremental
view maintenance of the batch semantics, not an approximation.

State size: C+1 doubles per live conversation. ``GroupStateTimeout``
(processing-time) evicts conversations idle longer than the horizon —
the state-boundedness knob for unbounded streams.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from duke_spark.kernel.tree import fold_scores
from duke_spark.operators.canonical import encode_cells, weighted_score_sums

STATE_SCHEMA = "sum_scores array<double>, n bigint"

OUT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("topic", T.StringType()),
    T.StructField("n_mentions", T.LongType()),
])


def running_conversation_topics(mentions: DataFrame, ctx_bc,
                                idle_timeout_ms: int = 0) -> DataFrame:
    """mentions: streaming DF with (conv_id, mention) columns (from
    ``linked_mentions`` over a stream). Emits one row per conversation per
    micro-batch with its current topic. ``idle_timeout_ms`` > 0 evicts
    state for conversations idle that long (processing-time timeout)."""

    def update(key: Tuple[str], pdfs: Iterable[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        from duke_spark.operators.linking import LinkContext  # noqa: F401
        ctx = ctx_bc.value
        if state.hasTimedOut:
            state.remove()
            return
        ms = [m for pdf in pdfs for m in pdf["mention"]]
        if not ms:
            return
        # the distinct mentions with their counts, as the batch path
        codes, ids = encode_cells(ctx, ms)
        new_sum = weighted_score_sums(
            ctx, np.zeros(len(ids), dtype=np.int64), np.arange(len(ids)),
            ids, np.bincount(codes).astype(np.float64), 1)[0]
        if state.exists:
            prev_sum, prev_n = state.get
            total = np.asarray(prev_sum, dtype=np.float64) + new_sum
            n = int(prev_n) + len(ms)
        else:
            total, n = new_sum, len(ms)
        state.update((total.tolist(), n))
        if idle_timeout_ms > 0:
            state.setTimeoutDuration(idle_timeout_ms)
        folded = fold_scores((total / n)[None, :], ctx.fold_levels)
        topic = ctx.classes[int(np.argmax(folded[0]))]
        yield pd.DataFrame({"conv_id": [key[0]], "topic": [topic],
                            "n_mentions": [n]})

    timeout = (GroupStateTimeout.ProcessingTimeTimeout if idle_timeout_ms > 0
               else GroupStateTimeout.NoTimeout)
    return (mentions.select("conv_id", "mention")
            .groupBy("conv_id")
            .applyInPandasWithState(update, OUT_SCHEMA, STATE_SCHEMA,
                                    "update", timeout))
