"""Evaluation harness: labels, config grid, score-gap ranking, sinks
(EP3), and the A34/A35 set operators."""

import numpy as np
import pytest

from duke_spark.eval import (config_grid, label_vector,
                             rank_configs, read_positive_examples,
                             run_config_grid, write_positive_examples)
from duke_spark.operators.mentions import linked_mentions


def test_label_roundtrip(tmp_path):
    p = str(tmp_path / "labels.json")
    labels = {"conv_000000": ["artist", "musician"], "conv_000001": ["team"]}
    write_positive_examples(p, labels)
    assert read_positive_examples(p) == labels


def test_label_vector():
    lv = label_vector(["b"], ["a", "b", "c"])
    assert lv.tolist() == [-1.0, 1.0, -1.0]


def test_config_grid_is_cartesian():
    g = config_grid()
    assert len(g) == 4
    assert "parent=mean,children=max" in g  # the production config


@pytest.fixture(scope="module")
def golden_labels(oracle_ctx, tiny_transcripts_pdf):
    """Golden labels from the oracle itself: each conversation's true
    top-2 classes under the production config."""
    from duke_spark.kernel.oracle import describe_conversation
    labels = {}
    for conv_id, grp in tiny_transcripts_pdf.groupby("conv_id"):
        res = describe_conversation(oracle_ctx, grp, top_n=2)
        if res is not None:
            labels[conv_id] = [c for c, _ in res["top"]]
    return labels


@pytest.fixture(scope="module")
def grid_results(tiny_transcripts, ctx_bc, golden_labels):
    return run_config_grid(linked_mentions(tiny_transcripts, ctx_bc),
                           ctx_bc, golden_labels).toPandas()


def test_grid_eval_and_ranking(spark, grid_results, golden_labels):
    results = grid_results
    assert set(results["config"]) == set(config_grid())
    # labels are the oracle's own top classes → the gap must be positive
    # for the production config on almost every conversation
    prod = results[results["config"] == "parent=mean,children=max"]
    assert len(prod) == len(golden_labels)
    assert (prod["score_gap"] > 0).mean() > 0.8
    assert np.allclose(prod["score_gap"],
                       prod["avg_pos"] - prod["avg_neg"])

    ranked = rank_configs(
        spark.createDataFrame(results), top_n=4).toPandas()
    assert len(ranked) == 4
    assert ranked["mean_gap"].is_monotonic_decreasing


def test_grid_matches_oracle(grid_results, golden_labels, oracle_ctx,
                             tiny_transcripts_pdf):
    """Every config's (avg_pos, avg_neg, score_gap) for every labelled
    conversation == the oracle: the mean of the conversation's mention
    class scores, folded per vector by ``aggregate_tree_scores`` under
    ``parent_children_funcs(parent, children)``, split by the ±1 label
    vector."""
    from duke_spark.kernel.oracle import oracle_mentions
    from duke_spark.kernel.tree import (aggregate_tree_scores,
                                        parent_children_funcs)

    funcs = {"mean": np.mean, "max": max}
    ctx = oracle_ctx
    mentions = oracle_mentions(ctx, tiny_transcripts_pdf)
    means = {c: np.mean(np.stack(g["class_scores"].to_list()), axis=0)
             for c, g in mentions.groupby("conv_id")}
    got = grid_results.set_index(["config", "conv_id"])
    assert len(got) == len(config_grid()) * len(golden_labels)
    for name, (parent, children) in config_grid().items():
        agg = parent_children_funcs(funcs[parent], funcs[children])
        for conv_id, positives in golden_labels.items():
            folded = aggregate_tree_scores(ctx.classes, means[conv_id],
                                           ctx.tree, agg)
            pos = label_vector(positives, ctx.classes) > 0
            exp_pos, exp_neg = folded[pos].mean(), folded[~pos].mean()
            row = got.loc[(name, conv_id)]
            np.testing.assert_allclose(
                [row["avg_pos"], row["avg_neg"], row["score_gap"]],
                [exp_pos, exp_neg, exp_pos - exp_neg], rtol=0, atol=1e-9)


def test_evaluate_job(tmp_path):
    """``jobs/evaluate.py`` end to end: one trial row per config and
    labelled conversation, and both sinks written, ranking all four
    configs."""
    import json
    import os
    import subprocess
    import sys

    import pandas as pd

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = tmp_path / "eval"
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "evaluate.py"),
         "--convs", "20", "--out", str(out), "--parallelism", "2"],
        capture_output=True, text=True, timeout=420, cwd=repo)
    assert proc.returncode == 0, proc.stderr[-3000:]
    rec = json.loads([ln for ln in proc.stdout.splitlines()
                      if ln.startswith("{")][-1])
    assert rec["n_labels"] > 0
    assert rec["n_trial_rows"] == len(config_grid()) * rec["n_labels"]
    assert {r["config"] for r in rec["ranked"]} == set(config_grid())

    trials = pd.concat(pd.read_csv(p) for p in
                       (out / "trials_csv").glob("part-*.csv"))
    assert len(trials) == rec["n_trial_rows"]
    ranked = [json.loads(ln) for p in (out / "ranked_json").glob("part-*")
              for ln in p.read_text().splitlines()]
    assert {r["config"] for r in ranked} == set(config_grid())


def test_heuristic_top_words(spark, tiny_transcripts, ctx_bc):
    """Label-free grid: top-5 classes per config, production config's
    top-1 must match describe_dataset's."""
    from duke_spark.operators.describe import (describe_dataset,
                                               heuristic_top_words)
    out = heuristic_top_words(tiny_transcripts, ctx_bc, top_n=5)
    assert set(out["config"]) == set(config_grid())
    assert (out.groupby("config").size() == 5).all()
    prod = out[(out["config"] == "parent=mean,children=max") &
               (out["rank"] == 0)]
    ref = describe_dataset(tiny_transcripts, ctx_bc, top_n=1)
    assert prod["class"].iloc[0] == ref["top"][0][0]
    # scores within a config are emitted in descending order
    for _, grp in out.groupby("config"):
        s = grp.sort_values("rank")["score"].to_numpy()
        assert (np.diff(s) <= 1e-12).all()


def test_trials_csv_and_ranked_json_sinks(spark, tmp_path):
    """A7/A8 sinks round-trip through spark.read."""
    import pandas as pd
    from duke_spark.eval import write_ranked_json, write_trials_csv

    results = spark.createDataFrame(pd.DataFrame({
        "config": ["a", "a", "b"],
        "conv_id": ["c1", "c2", "c1"],
        "score_gap": [0.5, 0.3, 0.1],
    }))
    csv_path = str(tmp_path / "trials_csv")
    write_trials_csv(results, csv_path, single_file=True)
    back = (spark.read.option("header", True)
            .option("inferSchema", True).csv(csv_path).toPandas())
    assert len(back) == 3 and set(back["config"]) == {"a", "b"}

    json_path = str(tmp_path / "ranked_json")
    write_ranked_json(rank_configs(results), json_path)
    ranked = spark.read.json(json_path).toPandas()
    assert set(ranked["config"]) == {"a", "b"}
    assert ranked.set_index("config")["mean_gap"]["a"] == \
        __import__("pytest").approx(0.4)


def test_set_operators(spark):
    """A34 (difference) / A35 (union distinct), driver + DataFrame forms."""
    import pandas as pd
    from duke_spark.operators.sets import (df_dropped, df_union_distinct,
                                           dropped, union_distinct)

    assert dropped([1, 2, 3], [2, 3, 4]) == {1}
    assert union_distinct([1, 2], [2, 3], (3, 4)) == {1, 2, 3, 4}

    old = spark.createDataFrame(pd.DataFrame({"v": [1, 1, 2, 3]}))
    new = spark.createDataFrame(pd.DataFrame({"v": [2, 4]}))
    assert sorted(r["v"] for r in df_dropped(old, new).collect()) == [1, 3]
    uni = df_union_distinct(old, new)
    assert sorted(r["v"] for r in uni.collect()) == [1, 2, 3, 4]
