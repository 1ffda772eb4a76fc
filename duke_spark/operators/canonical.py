"""Canonicalization (SURVEY B6): per-entity class-score aggregation up the
ontology tree, production agg ``parent_children_funcs(np.mean, max)``
(``Duke/DukeRestListener.py:37-39``).

Scale shape (SURVEY §4): the per-mention score matrix NEVER leaves the
Python workers. Because scoring is linear, the per-entity mean over all
mention occurrences equals the count-weighted mean over DISTINCT mention
strings — so the only shuffle is ``groupBy(entity, mention).count()``
(tiny: bounded by distinct mention text), followed by an
``applyInPandas`` re-score per entity group (≤ C groups) emitting one
C-float row per entity. The ≤C×C-float result is collected, stacked and
folded up the tree on the driver in ONE ``kernel.tree.fold_scores`` call
(``Duke/dataset_descriptor.py:99-107`` → ``Duke/class_tree.py:63-91``).
Conversations are unbounded, so their topics fold worker-side, one
matrix per Arrow batch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duke_spark.kernel.text import pluralize
from duke_spark.kernel.tree import fold_scores
from duke_spark.kernel.vectors import score_groups
from duke_spark.operators.linking import LinkContext

_ENTITY_SCORES_SCHEMA = T.StructType([
    T.StructField("entity", T.StringType()),
    T.StructField("n_mentions", T.LongType()),
    T.StructField("mean_scores", T.ArrayType(T.DoubleType())),
])


def entity_mean_scores(mentions: DataFrame, ctx_bc) -> DataFrame:
    """(entity, n_mentions, mean class-score vector) — distributed part."""
    counts = (mentions
              .groupBy("entity", "mention")
              .agg(F.count(F.lit(1)).alias("cnt")))

    def agg_group(pdf: pd.DataFrame) -> pd.DataFrame:
        ctx: LinkContext = ctx_bc.value
        mean_vec = np.average(score_groups(
            ctx.embedding, [m.split(" ") for m in pdf["mention"]],
            ctx.class_matrix), axis=0, weights=pdf["cnt"])
        return pd.DataFrame({
            "entity": [pdf["entity"].iloc[0]],
            "n_mentions": [int(pdf["cnt"].sum())],
            "mean_scores": [mean_vec.tolist()],
        })

    return counts.groupBy("entity").applyInPandas(
        agg_group, schema=_ENTITY_SCORES_SCHEMA)


def canonical_types(mentions: DataFrame, ctx_bc) -> pd.DataFrame:
    """Collect per-entity mean vectors (≤ C rows), fold them up the tree
    in one matrix call on the driver and take each row's argmax (first
    occurrence wins); returns pandas (entity, canonical_type,
    n_mentions)."""
    ctx: LinkContext = ctx_bc.value
    pdf = (entity_mean_scores(mentions, ctx_bc).toPandas()
           .sort_values("entity", ignore_index=True))
    scores = np.array(pdf.pop("mean_scores").tolist(),
                      dtype=np.float64).reshape(len(pdf), len(ctx.classes))
    top = fold_scores(scores, ctx.fold_levels).argmax(axis=1)
    pdf.insert(1, "canonical_type", [ctx.classes[i] for i in top])
    return pdf


def canonical_types_df(spark, mentions: DataFrame, ctx_bc) -> DataFrame:
    """Spark DataFrame form, broadcast-join-able against vertices."""
    pdf = canonical_types(mentions, ctx_bc)
    schema = T.StructType([
        T.StructField("entity", T.StringType()),
        T.StructField("canonical_type", T.StringType()),
        T.StructField("n_mentions", T.LongType()),
    ])
    if len(pdf) == 0:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(pdf, schema)


_CONV_PARTIAL_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("sum_scores", T.ArrayType(T.DoubleType())),
    T.StructField("n", T.LongType()),
])


def _conv_score_partials(mentions: DataFrame, ctx_bc) -> DataFrame:
    """Per-Arrow-batch partial (conv_id, Σ score-vec, n) — the map-side
    combine for all per-conversation scoring (same shape as
    ``describe.source_score_partials``).

    Each distinct mention in the batch is scored ONCE (factorize → one
    ``score_groups`` call), then fanned out to its (conv, mention)
    occurrence counts with one weighted ``np.add.at``. A mention appearing
    in 10k conversations is therefore scored once per batch it occurs in —
    never once per conversation, which made the old
    groupBy(conv_id).applyInPandas re-score path the slowest bench query.
    Shuffle volume is O(batches × convs-per-batch × C) float64, never
    O(mentions × C)."""
    pruned = mentions.select("conv_id", "mention")

    def run(batches):
        ctx: LinkContext = ctx_bc.value
        for pdf in batches:
            # null mentions must go BEFORE factorize: pd.factorize codes
            # them -1, and the pair decode (puniq % len(uniq_m)) would
            # silently credit their weight to the LAST distinct mention.
            pdf = pdf.dropna(subset=["mention"])
            if len(pdf) == 0:
                continue
            codes_m, uniq_m = pd.factorize(pdf["mention"])
            scores = score_groups(ctx.embedding,
                                  [m.split(" ") for m in uniq_m],
                                  ctx.class_matrix)
            codes_c, uniq_c = pd.factorize(pdf["conv_id"])
            # collapse to (conv, mention) pairs so the score gather is
            # O(distinct pairs × C), not O(rows × C)
            pair = codes_c.astype(np.int64) * len(uniq_m) + codes_m
            pcodes, puniq = pd.factorize(pair)
            w = np.bincount(pcodes).astype(np.float64)
            pc = puniq // len(uniq_m)
            pm = puniq % len(uniq_m)
            sums = np.zeros((len(uniq_c), scores.shape[1]))
            np.add.at(sums, pc, scores[pm] * w[:, None])
            counts = np.bincount(codes_c, minlength=len(uniq_c))
            yield pd.DataFrame({
                "conv_id": uniq_c,
                "sum_scores": list(sums),
                "n": counts.astype(np.int64),
            })

    return pruned.mapInPandas(run, schema=_CONV_PARTIAL_SCHEMA)


def _conv_mean_batches(mentions: DataFrame, ctx_bc, finish,
                       schema: T.StructType) -> DataFrame:
    """Per-conversation mean class-score vectors, handed to ``finish(pdf,
    means, ctx)`` one Arrow batch (an N×C matrix) at a time.

    A JVM ``collect_list`` aggregate gathers each conversation's batch
    partials, so ONE Python stage follows the shuffle: it sums them (one
    ``reduceat`` per batch), divides by the mention count and finishes.
    A second chained Python stage would run a second worker process per
    task."""
    grouped = (_conv_score_partials(mentions, ctx_bc).groupBy("conv_id")
               .agg(F.collect_list("sum_scores").alias("partials"),
                    F.sum("n").alias("n_mentions")))

    def run(batches):
        ctx: LinkContext = ctx_bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            lens = pdf["partials"].map(len).to_numpy()
            flat = np.stack([a for p in pdf["partials"] for a in p])
            starts = np.concatenate(([0], np.cumsum(lens[:-1])))
            means = (np.add.reduceat(flat, starts, axis=0)
                     / pdf["n_mentions"].to_numpy()[:, None])
            yield finish(pdf, means, ctx)

    return grouped.mapInPandas(run, schema=schema)


def conversation_class_scores(mentions: DataFrame, ctx_bc) -> DataFrame:
    """Per-conversation mean class-score vector (the distributed analogue of
    Duke's per-source row aggregation, ``Duke/dataset_descriptor.py:73-74``)
    — reused by the flagship 'what is this conversation about?' query.
    Built from batch partials (see ``_conv_score_partials``); the reduce
    only sums C-float arrays, no re-embedding anywhere."""
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("n_mentions", T.LongType()),
        T.StructField("mean_scores", T.ArrayType(T.DoubleType())),
    ])
    return _conv_mean_batches(
        mentions, ctx_bc,
        lambda pdf, means, ctx: pd.DataFrame({
            "conv_id": pdf["conv_id"], "n_mentions": pdf["n_mentions"],
            "mean_scores": list(means)}),
        schema)


def describe_conversations(spark, mentions: DataFrame, ctx_bc) -> DataFrame:
    """Per-conversation canonical topic — Duke's summary sentence
    (``Duke/dataset_descriptor.py:82-88``) over the mention path.

    Unlike entity canonicalization (≤ C entities → driver fold is fine),
    conversations are unbounded, so the mean vectors are folded
    worker-side — one ``fold_scores`` call per Arrow batch — and only
    (conv_id, topic) rows ever leave the workers: no per-conversation
    score vectors on the driver at any scale."""
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("topic", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("n_mentions", T.LongType()),
    ])

    def finish(pdf, means, ctx):
        topics = [ctx.classes[i] for i in
                  fold_scores(means, ctx.fold_levels).argmax(axis=1)]
        return pd.DataFrame({
            "conv_id": pdf["conv_id"],
            "topic": topics,
            "description": [f"This conversation is about {pluralize(t)}."
                            for t in topics],
            "n_mentions": pdf["n_mentions"],
        })

    return _conv_mean_batches(mentions, ctx_bc, finish, schema)
