"""Duke-parity dataset description over conversations (SURVEY EP1 chain).

This is the reference's *exact* top-level semantics — ``Duke/scripts/
main.py`` → ``DatasetDescriptor.get_dataset_description`` — mapped onto
transcripts: conversation = dataset, role = text column (source), turn
text = cell, plus the synthetic ``headers`` source built from the role
and tool names present (``Duke/dataset.py:63-69``). Contrast with
``operators.canonical.describe_conversations``, which scores *mentions*;
here a whole turn is ONE word-group with the all-or-nothing OOV rule
(``Duke/embedding.py:41-44``): any OOV token drops the entire turn.

Per source: row agg = mean of cell score vectors
(``Duke/dataset_descriptor.py:73-74``), tree agg = production
``parent_children_funcs(mean, max)`` (``Duke/DukeRestListener.py:37-39``),
then source agg = mean across sources (``:110-114``); argmax → pluralized
summary sentence (``:82-88``).

Physical shape: one narrow ``mapInPandas`` computes per-(conv, role)
PARTIAL sums of cell score vectors (so shuffle volume is
O(convs × roles × C), never O(turns × C)); one ``groupBy(conv_id)``
``applyInPandas`` finalizes: merge partials, build + score the headers
source, fold the stacked source vectors up the tree in one
``kernel.tree.fold_scores`` call, mean across sources, argmax. The tree
fold is a pure function of the broadcast context, so nothing but
(conv_id, description) rows reach the driver at any scale.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duke_spark.kernel.text import pluralize, tokenize_series
from duke_spark.kernel.tree import fold_scores
from duke_spark.kernel.vectors import score_groups

_PARTIAL_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("sum_scores", T.ArrayType(T.DoubleType())),
    T.StructField("n_cells", T.LongType()),
])

DESCRIBE_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("top_class", T.StringType()),
    T.StructField("description", T.StringType()),
    T.StructField("n_sources", T.IntegerType()),
])


def _cell_scores(texts: pd.Series, ctx) -> tuple[np.ndarray, np.ndarray]:
    """(kept_row_positions, score_matrix) for whole-turn cells passing the
    all-or-nothing OOV rule. Vectorized: tokenize, per-row vocab test,
    score survivors in one ``score_groups`` call."""
    toks = tokenize_series(texts)
    kept = np.flatnonzero(toks.map(ctx.embedding.in_vocab).to_numpy())
    return kept, score_groups(ctx.embedding, toks.iloc[kept].to_list(),
                              ctx.class_matrix)


def source_score_partials(transcripts: DataFrame, ctx_bc) -> DataFrame:
    """Per-Arrow-batch partial sums of whole-turn score vectors keyed by
    (conv_id, role) — the map-side combine of Duke's row aggregation."""
    pruned = (transcripts.select("conv_id", "role", "text")
              .filter(F.col("text").isNotNull()))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ctx = ctx_bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.reset_index(drop=True)
            kept, scores = _cell_scores(pdf["text"], ctx)
            if len(kept) == 0:
                continue
            key = pd.MultiIndex.from_arrays(
                [pdf["conv_id"].to_numpy()[kept],
                 pdf["role"].to_numpy()[kept]])
            codes, uniq = pd.factorize(key)
            sums = np.zeros((len(uniq), scores.shape[1]))
            np.add.at(sums, codes, scores)
            counts = np.bincount(codes, minlength=len(uniq))
            yield pd.DataFrame({
                "conv_id": [c for c, _ in uniq],
                "source": [s for _, s in uniq],
                "sum_scores": list(sums),
                "n_cells": counts.astype(np.int64),
            })

    return pruned.mapInPandas(run, schema=_PARTIAL_SCHEMA)


def describe_dataset(transcripts: DataFrame, ctx_bc, top_n: int = 10) -> dict:
    """Duke's primary CLI output (``Duke/scripts/main.py:31-36``) over the
    WHOLE table: role columns are the sources, every turn a cell, plus the
    headers source; returns {"description", "top"} exactly like
    ``DatasetDescriptor.get_dataset_description`` + ``get_top_n_words``.

    Distributed shape: the per-batch partials (B3 kernel) are reduced to
    one (source → mean vector) map with a single hash-aggregate shuffle
    keyed by source (≤ #roles keys); the per-source vectors fold on the
    driver like the reference. Top-k sort semantics match
    ``Duke/dataset_descriptor.py:91-97`` (score desc, stable)."""
    per_source = dataset_source_means(transcripts, ctx_bc)
    return _fold_and_describe(per_source, ctx_bc.value, ("mean", "max"),
                              top_n)


def dataset_source_means(transcripts: DataFrame, ctx_bc) -> list:
    """Per-source mean class-score vectors for the whole table (headers
    source first, then roles sorted) — the embed-once intermediate shared
    by ``describe_dataset`` and the heuristic config grid
    (``Duke/evaluate.py:78-91`` reuse pattern)."""
    partials = source_score_partials(transcripts, ctx_bc)
    # one hash-agg shuffle keyed by source (≤ #roles keys) reduces the
    # per-batch partials; only (source, C-float sum, n) rows are collected
    rows = (partials.groupBy("source")
            .applyInPandas(_reduce_source_partials,
                           schema=_PARTIAL_SCHEMA).collect())
    # headers source: roles ∪ tools present anywhere (Duke/dataset.py:63-69)
    hdr = (transcripts.agg(
        F.array_sort(F.collect_set("role")).alias("roles"),
        F.array_sort(F.collect_set("tool")).alias("tools")).collect()[0])
    per_source = _headers_source(list(hdr["roles"]) + list(hdr["tools"]),
                                 ctx_bc.value)
    for r in sorted(rows, key=lambda r: r["source"]):
        per_source.append(np.asarray(r["sum_scores"]) / r["n_cells"])
    return per_source


def _headers_source(names: list, ctx) -> list:
    """The synthetic headers source (``Duke/dataset.py:63-69``): role and
    tool names as normalized word groups under the OOV rule → ``[mean
    class-score vector]``, or ``[]`` when none survives."""
    kept, scores = _cell_scores(pd.Series(names, dtype=object), ctx)
    return [scores.mean(axis=0)] if len(kept) else []


def _fold_and_describe(per_source: list, ctx, agg: tuple,
                       top_n: int) -> dict:
    """``agg`` = (parent, children) of ``fold_scores``."""
    if not per_source:
        return {"description": None, "top": []}
    final = fold_scores(np.stack(per_source), ctx.fold_levels,
                        *agg).mean(axis=0)
    order = np.argsort(-final, kind="stable")[:top_n]
    top = [(ctx.classes[i], float(final[i])) for i in order]
    word = pluralize(ctx.classes[int(np.argmax(final))])
    return {"description": f"This dataset is about {word}.", "top": top}


def heuristic_top_words(transcripts: DataFrame, ctx_bc,
                        configs=None, top_n: int = 5) -> pd.DataFrame:
    """The reference's label-free harness (``Duke/heuristic_evaluate.py:
    89-98``): top-N classes per aggregation config, embed-once. Returns a
    pandas frame (config, rank, class, score) for human inspection."""
    from duke_spark.eval import config_grid
    configs = configs or config_grid()
    per_source = dataset_source_means(transcripts, ctx_bc)
    ctx = ctx_bc.value
    rows = []
    for name, agg in configs.items():
        res = _fold_and_describe(per_source, ctx, agg, top_n)
        for rank, (cls, score) in enumerate(res["top"]):
            rows.append((name, rank, cls, score))
    return pd.DataFrame(rows, columns=["config", "rank", "class", "score"])


def _reduce_source_partials(pdf: pd.DataFrame) -> pd.DataFrame:
    sums = np.sum(np.stack(pdf["sum_scores"].to_list()), axis=0)
    return pd.DataFrame({
        "conv_id": ["*"], "source": [pdf["source"].iloc[0]],
        "sum_scores": [sums.tolist()],
        "n_cells": [int(pdf["n_cells"].sum())],
    })


def describe_conversations_duke(transcripts: DataFrame, ctx_bc) -> DataFrame:
    """Full Duke EP1 semantics per conversation (see module docstring)."""
    partials = source_score_partials(transcripts, ctx_bc)
    headers = (transcripts
               .groupBy("conv_id")
               .agg(F.collect_set("role").alias("roles"),
                    F.collect_set("tool").alias("tools")))
    joined = partials.join(headers, "conv_id")

    def finalize(pdf: pd.DataFrame) -> pd.DataFrame:
        ctx = ctx_bc.value
        conv_id = pdf["conv_id"].iloc[0]
        # headers source: roles sorted + tools sorted
        per_source = _headers_source(sorted(pdf["roles"].iloc[0])
                                     + sorted(pdf["tools"].iloc[0]), ctx)
        # role sources, sorted like the oracle's groupby(role, sort=True)
        agg = (pdf.groupby("source", sort=True)
               .agg(sum_scores=("sum_scores",
                                lambda s: np.sum(np.stack(s.to_list()),
                                                 axis=0)),
                    n=("n_cells", "sum")))
        for _, row in agg.iterrows():
            per_source.append(np.asarray(row["sum_scores"]) / row["n"])
        final = fold_scores(np.stack(per_source),
                            ctx.fold_levels).mean(axis=0)
        top = ctx.classes[int(np.argmax(final))]
        return pd.DataFrame({
            "conv_id": [conv_id],
            "top_class": [top],
            "description": [f"This dataset is about {pluralize(top)}."],
            "n_sources": [len(per_source)],
        })

    return joined.groupBy("conv_id").applyInPandas(
        finalize, schema=DESCRIBE_SCHEMA)
