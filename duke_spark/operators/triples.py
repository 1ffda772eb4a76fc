"""Triple extraction (SURVEY B4): one assembler, ``triples_batch``.

``extract_triples``: transcripts → triples in ONE narrow mapInPandas
pass — mention linking and triple assembly fused, zero shuffles, scan
read once. This is what the bench, the checkpoint and streaming run.

``triples_from_mentions``: the same ``triples_batch`` over an already
linked mention table (``build_kg`` persists mentions for its other
consumers), again one narrow mapInPandas with no shuffle.

Triple spec is normative in ``duke_spark/kernel/oracle.py``.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duke_spark.operators.mentions import map_linked

TRIPLE_SCHEMA = T.StructType([
    T.StructField("subj", T.StringType()),
    T.StructField("pred", T.StringType()),
    T.StructField("obj", T.StringType()),
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("score", T.DoubleType()),
])

TRIPLE_COLUMNS = [f.name for f in TRIPLE_SCHEMA.fields]


def triples_batch(mentions: pd.DataFrame) -> pd.DataFrame:
    """Vectorized triple assembly from linked-mention rows.

    Precondition: each turn's mentions are contiguous and in
    ``mention_id`` order, as ``link_batch`` emits them. ``mention_id``
    restarts at 0 on every input row, so two adjacent rows are in the
    same turn exactly when the id steps by one — which holds whatever
    the (possibly NULL) ``conv_id``/``turn_idx`` keys are."""
    if len(mentions) == 0:
        return pd.DataFrame(columns=TRIPLE_COLUMNS)
    m = mentions
    ent = "ent:" + m["entity"]
    # (a) conv --mentions--> entity
    t1 = pd.DataFrame({
        "subj": "conv:" + m["conv_id"], "pred": "mentions", "obj": ent,
        "conv_id": m["conv_id"], "turn_idx": m["turn_idx"],
        "score": m["entity_score"],
    })
    # (b) adjacent-mention co-occurrence within a turn
    same_turn = m["mention_id"].shift(-1) == m["mention_id"] + 1
    nxt_ent = ent.shift(-1)
    nxt_score = m["entity_score"].shift(-1)
    t2 = pd.DataFrame({
        "subj": ent[same_turn], "pred": "co_mentioned",
        "obj": nxt_ent[same_turn],
        "conv_id": m["conv_id"][same_turn],
        "turn_idx": m["turn_idx"][same_turn],
        "score": np.minimum(m["entity_score"][same_turn],
                            nxt_score[same_turn]),
    })
    # (c) first mention of a tool turn --used_tool--> tool
    first_tool = (m["mention_id"] == 0) & m["tool"].notna()
    t3 = pd.DataFrame({
        "subj": ent[first_tool], "pred": "used_tool",
        "obj": "tool:" + m["tool"][first_tool],
        "conv_id": m["conv_id"][first_tool],
        "turn_idx": m["turn_idx"][first_tool],
        "score": m["entity_score"][first_tool],
    })
    out = pd.concat([t1, t2, t3], ignore_index=True)
    out["turn_idx"] = out["turn_idx"].astype("int32")
    out["score"] = out["score"].astype("float64")
    return out[TRIPLE_COLUMNS]


def extract_triples(transcripts: DataFrame, ctx_bc) -> DataFrame:
    """One-pass transcripts → triples (B3+B4+B5 fused, zero shuffle)."""
    return map_linked(transcripts, ctx_bc, triples_batch, TRIPLE_SCHEMA)


def triples_from_mentions(mentions: DataFrame) -> DataFrame:
    """Triples from a linked mention table, one narrow mapInPandas.

    Precondition: each turn's mentions are contiguous and in
    ``mention_id`` order within one partition. ``linked_mentions`` output
    always satisfies it, also when an evicted cache is recomputed from
    lineage. An Arrow batch can end inside a turn, so each batch's last
    turn (its rows from the last ``mention_id == 0`` on) is held back and
    prepended to the next batch.
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        held = None
        for pdf in batches:
            if held is not None:
                pdf = pd.concat([held, pdf], ignore_index=True)
            starts = np.flatnonzero(pdf["mention_id"].to_numpy() == 0)
            cut = starts[-1] if len(starts) else 0
            held = pdf.iloc[cut:]
            out = triples_batch(pdf.iloc[:cut])
            if len(out):
                yield out
        if held is not None and len(held):
            yield triples_batch(held)

    return (mentions
            .select("conv_id", "turn_idx", "tool", "mention_id", "entity",
                    "entity_score")
            .mapInPandas(run, schema=TRIPLE_SCHEMA))


def fact_support(triples: DataFrame) -> DataFrame:
    """Provenance rollup: confidence evidence per distinct fact.

    KG construction emits the same (subj, pred, obj) once per turn it
    is observed in; downstream consumers want one row per FACT with how
    much evidence backs it — occurrence count, distinct conversations
    (independent sources), and the score envelope. This is the
    evidence-accumulation step of any extraction pipeline (cf. NELL /
    Knowledge Vault fact-confidence aggregation).

    Written as an EXPLICIT two-phase aggregate — pre-aggregate on
    (fact, conv_id), then fold the per-conversation partials onto the
    fact key — rather than ``count_distinct``: both plan two exchanges,
    but the pre-aggregate carries three numeric partials per
    (fact, conv) group instead of re-merging every non-distinct
    aggregate through the distinct-key exchange, which measured ~20%
    faster and scaled 0.82 vs 0.74 (local[4]→local[16], 18M triples).
    Both phases map-side combine, so shuffle volume is O(distinct
    (fact, conv)) then O(distinct facts), not O(observations) — the
    safe shape at 100 TB. ``n_convs`` counts the non-NULL conv_id keys of
    the (fact, conv) groups — exactly COUNT(DISTINCT conv_id), which
    ignores NULL: triples without provenance count toward
    ``n_support`` but name no conversation.

    Scores are rounded to 6dp for cross-engine comparability (the repo's
    standard float policy); the mean is sum/count, exactly avg()'s own
    definition.
    """
    per_conv = (triples.groupBy("subj", "pred", "obj", "conv_id")
                .agg(F.count("*").alias("_n"),
                     # count("score") not count(*): avg() ignores NULL
                     # scores, so the mean divides by non-null count
                     F.count("score").alias("_ns"),
                     F.max("score").alias("_max"),
                     F.sum("score").alias("_sum")))
    return (per_conv.groupBy("subj", "pred", "obj")
            .agg(F.sum("_n").alias("n_support"),
                 F.count("conv_id").alias("n_convs"),
                 F.round(F.max("_max"), 6).alias("max_score"),
                 F.round(F.sum("_sum") / F.sum("_ns"), 6)
                  .alias("mean_score")))
