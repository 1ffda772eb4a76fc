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
    (``Duke/evaluate.py:78-91``) — here the linked-mention counts are
    persisted and each config re-folds them;
  * ranking: mean score_gap per config, descending
    (``Duke/evaluate.py:171-176``).

Scale shape: the tree fold (one matrix per Arrow batch) + label
comparison run inside a ``mapInPandas`` stage (labels broadcast); only
(config, conv, pos, neg, gap) rows leave the workers. The config loop is
driver-side — the grid is ≤ 8 entries (``Duke/evaluate.py:115-122``),
matching the reference's trial loop (A38).
"""

from __future__ import annotations

import json
from typing import Dict, List, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duke_spark.kernel.tree import fold_scores
from duke_spark.operators.canonical import conversation_class_scores
from duke_spark.operators.mentions import linked_mentions


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


def evaluate_config(conv_scores: DataFrame, ctx_bc, labels_bc,
                    config_name: str, agg: Tuple[str, str]) -> DataFrame:
    """Fold each batch of labelled conversations' mean score vectors with
    ``agg`` = (parent, children) in one matrix call and score each row
    against its golden labels — all inside the workers."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        ctx = ctx_bc.value
        labels: Dict[str, List[str]] = labels_bc.value
        pdf = pdf[np.array([bool(labels.get(c)) for c in pdf["conv_id"]],
                           dtype=bool)]
        out = []
        if len(pdf):
            folded = fold_scores(np.stack(pdf["mean_scores"].to_list()),
                                 ctx.fold_levels, *agg)
            for conv_id, row in zip(pdf["conv_id"], folded):
                pos = label_vector(labels[conv_id], ctx.classes) > 0
                avg_pos = float(row[pos].mean()) if pos.any() else 0.0
                avg_neg = float(row[~pos].mean()) if (~pos).any() else 0.0
                out.append((config_name, conv_id, avg_pos, avg_neg,
                            avg_pos - avg_neg))
        return pd.DataFrame(out, columns=[f.name for f in
                                          EVAL_SCHEMA.fields])

    return conv_scores.mapInPandas(
        lambda it: (run(pdf) for pdf in it), schema=EVAL_SCHEMA)


def run_config_grid(spark: SparkSession, transcripts: DataFrame, ctx_bc,
                    labels: Dict[str, List[str]],
                    configs: Dict[str, Tuple[str, str]] | None = None
                    ) -> DataFrame:
    """Embed/link once, evaluate every config (``Duke/evaluate.py:78-103``
    reuse pattern). Returns (config, conv_id, avg_pos, avg_neg,
    score_gap)."""
    configs = configs or config_grid()
    labels_bc = spark.sparkContext.broadcast(labels)
    mentions = linked_mentions(transcripts, ctx_bc)
    conv_scores = conversation_class_scores(mentions, ctx_bc).persist()
    conv_scores.count()  # materialize once for all configs
    out = None
    for name, agg in configs.items():
        part = evaluate_config(conv_scores, ctx_bc, labels_bc, name, agg)
        out = part if out is None else out.unionByName(part)
    return out


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
