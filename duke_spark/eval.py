"""Evaluation harness (SURVEY EP3): golden-label scoring + agg-config grid.

Reference semantics rebuilt:
  * labels: ``{name}_positive_examples.json`` lists the classes that are
    correct for a dataset (``Duke/evaluate.py:39-45``, written by
    ``Duke/labels.py:25-38``); here one list per conv_id;
  * metric: mean aggregated score over positive classes vs negative
    classes, gap = pos − neg (``Duke/evaluate.py:17-36``, derived column
    ``Duke/evaluate.py:167-169``);
  * config grid: cartesian product of aggregation choices
    (``Duke/evaluate.py:115-122``, combos from
    ``Duke/agg_functions.py:25-28``);
  * embed once, evaluate every config against the same embedded data
    (``Duke/evaluate.py:78-91``) — here one per-conversation mean pass
    (``canonical._key_means``) folds each batch's mean matrix once per
    config;
  * ranking: mean score_gap per config, descending
    (``Duke/evaluate.py:171-176``).

Scale shape: scoring, the tree folds and the label comparison run
inside the one ``mapInPandas`` stage of the per-key pass (labels
broadcast); only (config, conv, pos, neg, gap) rows leave the workers,
and no class-score vector crosses a shuffle. The config loop runs per
Arrow batch — the grid is ≤ 8 entries (``Duke/evaluate.py:115-122``),
matching the reference's trial loop (A38).
"""

from __future__ import annotations

import json
from typing import Dict, List, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duke_spark.kernel.tree import fold_scores
from duke_spark.operators.canonical import _key_means


# --- labels (A5/A9) --------------------------------------------------------

def write_positive_examples(path: str,
                            labels: Dict[str, List[str]]) -> None:
    """``labels.py:25-38`` sink: {conv_id: [positive class names]}."""
    with open(path, "w") as f:
        json.dump(labels, f, indent=2, sort_keys=True)


def read_positive_examples(path: str) -> Dict[str, List[str]]:
    with open(path) as f:
        return json.load(f)


def label_vector(positives: Sequence[str],
                 classes: Sequence[str]) -> np.ndarray:
    """±1 vector over classes (``Duke/evaluate.py:39-45`` — membership
    test is the broadcast semi-join of SURVEY A33)."""
    pos = set(positives)
    return np.array([1.0 if c in pos else -1.0 for c in classes])


# --- config grid (A37) -----------------------------------------------------

def config_grid() -> Dict[str, Tuple[str, str]]:
    """Tree-agg combos like ``Duke/agg_functions.py:25-28`` /
    ``Duke/evaluate.py:115-122``: parent × children ∈ {mean, max}², as
    the (parent, children) arguments of ``kernel.tree.fold_scores``."""
    aggs = ("mean", "max")
    return {f"parent={p},children={c}": (p, c) for p in aggs for c in aggs}


# --- evaluation (A33 + A36) ------------------------------------------------

EVAL_SCHEMA = T.StructType([
    T.StructField("config", T.StringType()),
    T.StructField("conv_id", T.StringType()),
    T.StructField("avg_pos", T.DoubleType()),
    T.StructField("avg_neg", T.DoubleType()),
    T.StructField("score_gap", T.DoubleType()),
])


def run_config_grid(mentions: DataFrame, ctx_bc,
                    labels: Dict[str, List[str]],
                    configs: Dict[str, Tuple[str, str]] | None = None
                    ) -> DataFrame:
    """Score every config over one per-conversation mean pass
    (``Duke/evaluate.py:78-103`` reuse pattern): each Arrow batch keeps
    its labelled conversations' mean matrix, builds each positive-class
    mask once and folds the matrix once per config with ``agg`` =
    (parent, children). Returns (config, conv_id, avg_pos, avg_neg,
    score_gap)."""
    configs = configs or config_grid()
    labels_bc = mentions.sparkSession.sparkContext.broadcast(labels)

    def finish(pdf: pd.DataFrame, means: np.ndarray, ctx) -> pd.DataFrame:
        labels: Dict[str, List[str]] = labels_bc.value
        keep = np.array([bool(labels.get(c)) for c in pdf["conv_id"]],
                        dtype=bool)
        conv_ids, means = pdf["conv_id"][keep].to_list(), means[keep]
        pos = [label_vector(labels[c], ctx.classes) > 0 for c in conv_ids]
        out = []
        for name, agg in configs.items():
            folded = fold_scores(means, ctx.fold_levels, *agg)
            for conv_id, row, p in zip(conv_ids, folded, pos):
                avg_pos = float(row[p].mean()) if p.any() else 0.0
                avg_neg = float(row[~p].mean()) if (~p).any() else 0.0
                out.append((name, conv_id, avg_pos, avg_neg,
                            avg_pos - avg_neg))
        return pd.DataFrame(out, columns=EVAL_SCHEMA.fieldNames())

    return _key_means(mentions, ctx_bc, "conv_id", finish, EVAL_SCHEMA)


def rank_configs(results: DataFrame, top_n: int = 5) -> DataFrame:
    """Mean score_gap per config, best first (``Duke/evaluate.py:171-176``,
    SURVEY A31/A32)."""
    return (results.groupBy("config")
            .agg(F.avg("score_gap").alias("mean_gap"),
                 F.count(F.lit(1)).alias("n_convs"))
            .orderBy(F.desc("mean_gap"), F.asc("config"))
            .limit(top_n))


# --- sinks (A7/A8) ---------------------------------------------------------

def write_trials_csv(results: DataFrame, path: str,
                     single_file: bool = False) -> None:
    """A7 CSV sink — the trial-results table the reference dumps at
    ``Duke/evaluate.py:107-108``. Distributed by default; ``single_file``
    coalesces to one part for the reference's one-file layout (only for
    driver-inspection-sized results)."""
    df = results.coalesce(1) if single_file else results
    df.write.mode("overwrite").option("header", True).csv(path)


def write_ranked_json(ranked: DataFrame, path: str) -> None:
    """A8 JSON sink — the REST reply analogue
    (``Duke/DukeRestListener.py:66`` encodes the ranked result as JSON)."""
    ranked.write.mode("overwrite").json(path)
