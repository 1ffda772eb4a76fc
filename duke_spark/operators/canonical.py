"""Canonicalization (SURVEY B6): per-key class-score aggregation up the
ontology tree, production agg ``parent_children_funcs(np.mean, max)``
(``Duke/DukeRestListener.py:37-39``), for entities and conversations.

Scale shape (SURVEY §4): the per-mention score matrix NEVER leaves the
Python workers, and no score vector crosses a shuffle. Because scoring is
linear, a key's mean over all mention occurrences equals the
count-weighted mean over its DISTINCT mention strings — so the only
shuffle carries strings and counts: ``groupBy(key, mention).count()``,
then ``collect_list`` per key. ONE ``mapInPandas`` follows it: each Arrow
batch scores its distinct mentions once, takes count-weighted per-key
means and folds them up the tree in one ``kernel.tree.fold_scores`` call
(``Duke/dataset_descriptor.py:99-107`` → ``Duke/class_tree.py:63-91``),
so only (key, type) rows leave the workers. Rows with a NULL key or
mention name no key and are dropped before the shuffle, as pandas
``groupby`` drops them. The chunked scorer, ``weighted_score_sums``, also
scores the Duke cells of ``operators.describe``.
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

# Word groups scored per ``score_groups`` call (the linker's Arrow batch),
# so a hot key, a batch of many keys or a conversation's Duke cells hold at
# most this many C-float rows.
_CHUNK = 10_000


def weighted_score_sums(ctx: LinkContext, owner: np.ndarray,
                        codes: np.ndarray, ids: np.ndarray, w: np.ndarray,
                        n_owners: int) -> np.ndarray:
    """``n_owners``×C count-weighted class-score sums: element i adds
    ``w[i]`` times the scores of encoded group ``ids[codes[i]]``
    (``VocabEmbedding.encode``) to row ``owner[i]``, with ``owner``
    non-decreasing; a code of -1 (a dropped group) raises. Each chunk of
    ``_CHUNK`` elements scores its distinct groups once, in first-occurrence
    order, and adds one ``reduceat`` over its owner runs."""
    if len(codes) and codes.min() < 0:
        raise KeyError("a word group to score has a word out of vocab")
    sums = np.zeros((n_owners, len(ctx.classes)))
    for lo in range(0, len(codes), _CHUNK):
        hi = lo + _CHUNK
        local, distinct = pd.factorize(codes[lo:hi])
        rows = score_groups(ctx.embedding, ids[distinct],
                            ctx.class_matrix)[local]
        rows *= w[lo:hi, None]
        own = owner[lo:hi]
        starts = np.flatnonzero(np.r_[True, own[1:] != own[:-1]])
        sums[own[starts]] += np.add.reduceat(rows, starts, axis=0)
    return sums


def encode_cells(ctx: LinkContext, cells: np.ndarray):
    """(codes, ids) of string cells, each distinct cell encoded once
    (``VocabEmbedding.encode``): ``codes`` maps each cell to its row of
    ``ids``, or to -1 when the OOV rule drops it or it is NULL (whose
    factorize code, -1, reads the appended -1)."""
    codes, uniq = pd.factorize(cells)
    ids, kept = ctx.embedding.encode(uniq)
    return np.append(np.where(kept, np.cumsum(kept) - 1, -1), -1)[codes], ids


def _key_means(mentions: DataFrame, ctx_bc, key: str, finish,
               schema: T.StructType) -> DataFrame:
    """Per-key mean class-score vectors, handed to ``finish(pdf, means,
    ctx)`` one Arrow batch (an N×C matrix; ``pdf`` holds ``key`` and
    ``n_mentions``) at a time, from ``weighted_score_sums`` over the
    batch's flattened (mention, count) lists."""
    grouped = (mentions.select(key, "mention").dropna()
               .groupBy(key, "mention").agg(F.count(F.lit(1)).alias("cnt"))
               .groupBy(key).agg(F.collect_list("mention").alias("ms"),
                                 F.collect_list("cnt").alias("cnts"),
                                 F.sum("cnt").alias("n_mentions")))

    def run(batches):
        ctx: LinkContext = ctx_bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            owner = np.repeat(np.arange(len(pdf)), pdf["ms"].map(len))
            codes, ids = encode_cells(
                ctx, np.concatenate(pdf.pop("ms").to_numpy()))
            w = np.concatenate(pdf.pop("cnts").to_numpy()).astype(np.float64)
            sums = weighted_score_sums(ctx, owner, codes, ids, w, len(pdf))
            yield finish(pdf, sums / pdf["n_mentions"].to_numpy()[:, None],
                         ctx)

    return grouped.mapInPandas(run, schema=schema)


def _fold_top(means: np.ndarray, ctx: LinkContext) -> list:
    """Each row's canonical class: tree fold, then argmax (first
    occurrence wins, as ``np.argmax`` at ``Duke/dataset_descriptor.py:84``)."""
    return [ctx.classes[i]
            for i in fold_scores(means, ctx.fold_levels).argmax(axis=1)]


_ENTITY_TYPES_SCHEMA = T.StructType([
    T.StructField("entity", T.StringType()),
    T.StructField("canonical_type", T.StringType()),
    T.StructField("n_mentions", T.LongType()),
])


def _entity_types(mentions: DataFrame, ctx_bc) -> DataFrame:
    """Lazy (entity, canonical_type, n_mentions), folded worker-side."""
    return _key_means(
        mentions, ctx_bc, "entity",
        lambda pdf, means, ctx: pd.DataFrame({
            "entity": pdf["entity"], "canonical_type": _fold_top(means, ctx),
            "n_mentions": pdf["n_mentions"]}),
        _ENTITY_TYPES_SCHEMA)


def canonical_types(mentions: DataFrame, ctx_bc) -> pd.DataFrame:
    """Collect the ≤C (entity, canonical_type, n_mentions) string rows —
    never a score vector — as pandas, sorted by entity."""
    return (_entity_types(mentions, ctx_bc).toPandas()
            .sort_values("entity", ignore_index=True))


def canonical_types_df(spark, mentions: DataFrame, ctx_bc) -> DataFrame:
    """Eager Spark form of ``canonical_types``: a local frame (built
    through Arrow, so reading it starts no Python worker),
    broadcast-join-able against vertices."""
    pdf = canonical_types(mentions, ctx_bc)
    return spark.createDataFrame(pdf if len(pdf) else [],
                                 _ENTITY_TYPES_SCHEMA)


def describe_conversations(spark, mentions: DataFrame, ctx_bc) -> DataFrame:
    """Per-conversation canonical topic — Duke's summary sentence
    (``Duke/dataset_descriptor.py:82-88``) over the mention path.
    Conversations are unbounded, so only (conv_id, topic) rows leave the
    workers: no per-conversation score vector reaches the driver."""
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("topic", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("n_mentions", T.LongType()),
    ])

    def finish(pdf, means, ctx):
        topics = _fold_top(means, ctx)
        return pd.DataFrame({
            "conv_id": pdf["conv_id"],
            "topic": topics,
            "description": [f"This conversation is about {pluralize(t)}."
                            for t in topics],
            "n_mentions": pdf["n_mentions"],
        })

    return _key_means(mentions, ctx_bc, "conv_id", finish, schema)
