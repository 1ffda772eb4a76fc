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

Physical shape: no score vector crosses a shuffle. Scoring is linear, so
a source's mean over its cells is the count-weighted mean over its
distinct raw cells, and ``_source_rows`` shuffles only those strings and
counts. Per conversation, ONE ``mapInPandas`` after a ``collect_list``
scores each batch's distinct cells once (``canonical.weighted_score_sums``),
folds every source up the tree in one ``kernel.tree.fold_scores`` call,
means across sources and takes the argmax; ``describe_dataset`` adds up
per-batch source sums on the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duke_spark.kernel.text import normalize_text_series, pluralize
from duke_spark.kernel.tree import fold_scores
from duke_spark.operators.canonical import (_CHUNK, encode_cells,
                                            weighted_score_sums)

DESCRIBE_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("top_class", T.StringType()),
    T.StructField("description", T.StringType()),
    T.StructField("n_sources", T.IntegerType()),
])


def _source_rows(transcripts: DataFrame, keys: list) -> DataFrame:
    """Duke's sources as (keys…, hdr, src, cell, w) string-and-count rows:
    each distinct turn text under its role (``src``) with ``w`` = its turn
    count, plus each distinct role and tool name under the headers source
    (``hdr``) with ``w`` = 1 — a name that is both counts twice, as the
    reference lists it twice (``Duke/dataset.py:63-69``). Rows with a NULL
    key, role, text or name are dropped, as pandas ``groupby`` drops them."""
    rows = transcripts.select(*keys, F.lit(False).alias("hdr"),
                              F.col("role").alias("src"),
                              F.col("text").alias("cell"))
    for name in ("role", "tool"):
        rows = rows.unionByName(transcripts.select(
            *keys, F.lit(True).alias("hdr"), F.lit(name).alias("src"),
            F.col(name).alias("cell")))
    hdr = F.col("hdr")
    return (rows.dropna().groupBy(*keys, "hdr", "src", "cell").count()
            .select(*keys, "hdr",
                    F.when(hdr, "").otherwise(F.col("src")).alias("src"),
                    "cell", F.when(hdr, 1).otherwise(F.col("count"))
                    .alias("w")))


def _source_sums(ctx, keys: list, cells: np.ndarray, w: np.ndarray):
    """(sources, sums, weights) of one batch's source rows: ``keys``
    (arrays aligned with ``cells``) name each cell's source, and
    ``sources`` is their sorted MultiIndex. Each distinct raw cell is
    normalized once and each distinct normalized cell encoded once; a
    cell with any OOV token is dropped whole (``Duke/embedding.py:41-44``)."""
    codes, raw = pd.factorize(cells)
    groups, ids = encode_cells(ctx, normalize_text_series(
        pd.Series(raw, dtype=object)).to_numpy())
    ok = groups[codes] >= 0
    cell_src = pd.MultiIndex.from_arrays([k[ok] for k in keys])
    sources = cell_src.unique().sort_values()
    owner = sources.get_indexer(cell_src)
    order = np.argsort(owner, kind="stable")
    owner, w = owner[order], w[ok][order].astype(np.float64)
    sums = weighted_score_sums(ctx, owner, groups[codes[ok][order]], ids, w,
                               len(sources))
    return sources, sums, np.bincount(owner, weights=w,
                                      minlength=len(sources))


def describe_dataset(transcripts: DataFrame, ctx_bc, top_n: int = 10) -> dict:
    """Duke's primary CLI output (``Duke/scripts/main.py:31-36``) over the
    WHOLE table: role columns are the sources, every turn a cell, plus the
    headers source; returns {"description", "top"} exactly like
    ``DatasetDescriptor.get_dataset_description`` + ``get_top_n_words``.

    The per-source mean vectors (``dataset_source_means``) fold on the
    driver like the reference. Top-k sort semantics match
    ``Duke/dataset_descriptor.py:91-97`` (score desc, stable)."""
    per_source = dataset_source_means(transcripts, ctx_bc)
    return _fold_and_describe(per_source, ctx_bc.value, ("mean", "max"),
                              top_n)


def dataset_source_means(transcripts: DataFrame, ctx_bc) -> list:
    """Per-source mean class-score vectors for the whole table (headers
    source first, then roles sorted) — the embed-once intermediate shared
    by ``describe_dataset`` and the heuristic config grid
    (``Duke/evaluate.py:78-91`` reuse pattern). Each Arrow batch yields
    its per-source sums; the driver adds them up."""
    def run(batches):
        ctx = ctx_bc.value
        for pdf in batches:
            sources, sums, n = _source_sums(
                ctx, [~pdf["hdr"].to_numpy(bool), pdf["src"].to_numpy()],
                pdf["cell"].to_numpy(), pdf["w"].to_numpy())
            if len(sources):  # an empty list<double> column fails in Arrow
                yield pd.DataFrame({
                    "is_role": sources.get_level_values(0),
                    "src": sources.get_level_values(1),
                    "sums": list(sums), "w": n})

    per_batch = (_source_rows(transcripts, []).mapInPandas(
        run, "is_role boolean, src string, sums array<double>, w double")
        .toPandas().groupby(["is_role", "src"], sort=True))
    return [np.sum(np.stack(g["sums"].to_list()), axis=0) / g["w"].sum()
            for _, g in per_batch]


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


def _describe_batch(batch: pd.DataFrame, ctx):
    """Yields the DESCRIBE_SCHEMA rows of one Arrow batch of collected
    conversations, in slices of whole conversations of about ``_CHUNK``
    cells, so the per-source matrices stay as small as the scored chunks."""
    ends = np.cumsum(batch["w"].map(len).to_numpy())
    for _, pdf in batch.groupby(ends // _CHUNK, sort=False):
        hdr, src, cell, w = (np.concatenate(pdf[c].to_numpy())
                             for c in ("hdr", "src", "cell", "w"))
        conv = np.repeat(np.arange(len(pdf)), pdf["w"].map(len))
        sources, sums, n = _source_sums(ctx, [conv, ~hdr, src], cell, w)
        if not len(sources):
            continue
        folded = fold_scores(sums / n[:, None], ctx.fold_levels)
        # sources sort by conversation: one reduceat over its runs
        own = sources.get_level_values(0).to_numpy()
        starts = np.flatnonzero(np.r_[True, own[1:] != own[:-1]])
        n_src = np.diff(starts, append=len(own))
        final = np.add.reduceat(folded, starts, axis=0) / n_src[:, None]
        top = [ctx.classes[i] for i in final.argmax(axis=1)]
        yield pd.DataFrame({
            "conv_id": pdf["conv_id"].to_numpy()[own[starts]],
            "top_class": top,
            "description": [f"This dataset is about {pluralize(t)}."
                            for t in top],
            "n_sources": n_src.astype(np.int32),
        })


def describe_conversations_duke(transcripts: DataFrame, ctx_bc) -> DataFrame:
    """Full Duke EP1 semantics per conversation (see module docstring)."""
    grouped = (_source_rows(transcripts, ["conv_id"]).groupBy("conv_id")
               .agg(*[F.collect_list(c).alias(c)
                      for c in ("hdr", "src", "cell", "w")]))

    def run(batches):
        ctx = ctx_bc.value
        for batch in batches:
            yield from _describe_batch(batch, ctx)

    return grouped.mapInPandas(run, schema=DESCRIBE_SCHEMA)
