"""Kernel layers timed single-threaded in the benchmark process, plus the
host-speed probe.

The replay feeds a fixed, seeded sample of the workload's input rows,
cut into batches the size of the job's own Arrow batches, through the
public kernel functions with the job's ``LinkContext``. ``link_batch``
runs once whole; its parts (tokenize, embed, score) run again on the
same inputs, and ``linking.segment_s`` is what the parts leave over.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

from duke_spark.kernel.text import tokenize_series
from duke_spark.kernel.tree import PRODUCTION_TREE_AGG, aggregate_tree_scores
from duke_spark.kernel.vectors import score_against_classes
from duke_spark.operators.linking import link_batch
from duke_spark.operators.triples import triples_batch

KERNEL_METRICS = (
    ("text.tokenize_s", "s"), ("linking.link_batch_s", "s"),
    ("vectors.embed_s", "s"), ("vectors.score_s", "s"),
    ("triples.assemble_s", "s"), ("linking.segment_s", "s"),
    ("linking.mentions", "count"), ("linking.distinct_mentions", "count"),
    ("linking.distinct_words", "count"), ("vectors.score_gflop", "GFLOP"),
    ("vectors.gather_mb", "MB"), ("tree.fold_us", "us"),
    ("tree.folds", "count"),
)


def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def replay_batches(pdf: pd.DataFrame, seed: int, batch_rows: int,
                   max_rows: int) -> list[pd.DataFrame]:
    """Seeded row sample of at most ``max_rows`` rows, in batches of
    ``batch_rows``."""
    n = min(len(pdf), max_rows)
    rows = np.random.default_rng(seed).permutation(len(pdf))[:n]
    return [pdf.iloc[np.sort(rows[i:i + batch_rows])]
            for i in range(0, n, batch_rows)]


def replay(batches: list[pd.DataFrame], ctx, fold_convs: int = 0) -> dict:
    """Kernel times and counts summed over ``batches``. With
    ``fold_convs`` > 0, also times the tree fold over that many
    per-conversation mean score vectors (median µs per fold)."""
    m = dict.fromkeys((name for name, _ in KERNEL_METRICS
                       if not name.startswith("tree.")), 0.0)
    dim, n_classes = ctx.class_matrix.shape[1], len(ctx.classes)
    conv_vecs: dict[str, list] = {}
    for pdf in batches:
        mentions, t = _timed(link_batch, pdf, ctx)
        m["linking.link_batch_s"] += t
        m["text.tokenize_s"] += _timed(tokenize_series, pdf["text"])[1]
        codes, uniq = pd.factorize(mentions["mention"])
        groups = [s.split(" ") for s in uniq]
        vecs, t = _timed(ctx.embedding.embed_groups, groups)
        m["vectors.embed_s"] += t
        scores, t = _timed(score_against_classes, vecs, ctx.class_matrix)
        m["vectors.score_s"] += t
        m["triples.assemble_s"] += _timed(triples_batch, mentions)[1]
        n_words = sum(len(g) for g in groups)
        m["linking.mentions"] += len(mentions)
        m["linking.distinct_mentions"] += len(groups)
        m["linking.distinct_words"] += len({w for g in groups for w in g})
        m["vectors.score_gflop"] += 2 * len(groups) * dim * n_classes / 1e9
        m["vectors.gather_mb"] += n_words * dim * 4 / 1e6
        if fold_convs:
            for conv, idx in mentions.groupby("conv_id").indices.items():
                conv_vecs.setdefault(conv, []).append(scores[codes[idx]])
    m["linking.segment_s"] = (m["linking.link_batch_s"] - m["text.tokenize_s"]
                              - m["vectors.embed_s"] - m["vectors.score_s"])
    m["tree.fold_us"] = 0.0
    if fold_convs:
        folds = []
        for conv in sorted(conv_vecs)[:fold_convs]:
            vec = np.concatenate(conv_vecs[conv]).mean(axis=0)
            _, t = _timed(aggregate_tree_scores, ctx.classes, vec, ctx.tree,
                          PRODUCTION_TREE_AGG)
            folds.append(t)
        m["tree.fold_us"] = statistics.median(folds) * 1e6
    return m


def gemm_gflops(rows: int = 1000, dim: int = 1000, classes: int = 788,
                reps: int = 5) -> float:
    """Single-thread float64 GEMM of the class-scoring shape, median
    GFLOP/s over ``reps``. Diagnostic only: no metric is divided by it."""
    rng = np.random.default_rng(0)
    a = rng.standard_normal((rows, dim))
    b = rng.standard_normal((dim, classes))
    times = [_timed(np.dot, a, b)[1] for _ in range(reps)]
    return 2 * rows * dim * classes / statistics.median(times) / 1e9
