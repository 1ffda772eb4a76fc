"""Triple extraction (SURVEY B4) — two equivalent implementations.

``extract_triples`` (hot path): transcripts → triples in ONE narrow
mapInPandas pass — mention linking and triple assembly fused, zero
shuffles, scan read once. This is what the bench and the KG job run.

``triples_from_mentions`` (declarative path): when linked mentions are
already materialized (e.g. checkpointed), derive the same triples with
window functions — Catalyst/AQE owns the plan. Both are tested equal to
the NumPy oracle.

Triple spec is normative in ``duke_spark/kernel/oracle.py``.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duke_spark.operators.linking import LinkContext, link_batch

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
    """Vectorized triple assembly from a linked-mention batch (rows sorted
    by input row, mention_id — as link_batch emits them)."""
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
    same_turn = (m["conv_id"].shift(-1) == m["conv_id"]) & \
                (m["turn_idx"].shift(-1) == m["turn_idx"]) & \
                (m["mention_id"].shift(-1) == m["mention_id"] + 1)
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
    pruned = (transcripts
              .select("conv_id", "turn_idx", "role", "text", "tool")
              .filter(F.col("text").isNotNull()))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ctx: LinkContext = ctx_bc.value
        for pdf in batches:
            mentions = link_batch(pdf, ctx)
            out = triples_batch(mentions)
            if len(out):
                yield out

    return pruned.mapInPandas(run, schema=TRIPLE_SCHEMA)


def triples_from_mentions(mentions: DataFrame) -> DataFrame:
    """Declarative equivalent over a materialized mention table.

    One shuffle (window over conv_id); AQE skew handling applies. Window
    partitions by conv_id only (not conv×turn) to keep key cardinality
    sane; the lead() is guarded by turn equality.
    """
    m = mentions
    ent = F.concat(F.lit("ent:"), F.col("entity"))
    t1 = m.select(
        F.concat(F.lit("conv:"), F.col("conv_id")).alias("subj"),
        F.lit("mentions").alias("pred"), ent.alias("obj"),
        "conv_id", "turn_idx", F.col("entity_score").alias("score"))

    w = Window.partitionBy("conv_id").orderBy("turn_idx", "mention_id")
    nxt = (m.withColumn("nxt_turn", F.lead("turn_idx").over(w))
             .withColumn("nxt_mid", F.lead("mention_id").over(w))
             .withColumn("nxt_entity", F.lead("entity").over(w))
             .withColumn("nxt_score", F.lead("entity_score").over(w)))
    t2 = (nxt.filter((F.col("nxt_turn") == F.col("turn_idx")) &
                     (F.col("nxt_mid") == F.col("mention_id") + 1))
          .select(ent.alias("subj"), F.lit("co_mentioned").alias("pred"),
                  F.concat(F.lit("ent:"), F.col("nxt_entity")).alias("obj"),
                  "conv_id", "turn_idx",
                  F.least("entity_score", "nxt_score").alias("score")))

    t3 = (m.filter((F.col("mention_id") == 0) & F.col("tool").isNotNull())
          .select(ent.alias("subj"), F.lit("used_tool").alias("pred"),
                  F.concat(F.lit("tool:"), F.col("tool")).alias("obj"),
                  "conv_id", "turn_idx",
                  F.col("entity_score").alias("score")))

    return t1.unionByName(t2).unionByName(t3)


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
