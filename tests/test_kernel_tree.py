"""Pin tree_score layered-fold semantics on hand-built trees, including the
production agg config parent_children_funcs(np.mean, max)
(`Duke/class_tree.py:63-102`, `Duke/agg_functions.py:16-23`,
`Duke/DukeRestListener.py:37-39`) and the multi-parent/isolated cases;
plus the level schedule and tie/cycle behaviour of the matrix fold."""

import numpy as np
import pytest

from duke_spark.fixtures.class_tree import mini_tree
from duke_spark.fixtures.embedding import build_embedding
from duke_spark.kernel.tree import (PRODUCTION_TREE_AGG, fold_schedule,
                                    fold_scores, normalize_class_tree,
                                    parent_children_funcs, tree_score)
from duke_spark.operators.linking import LinkContext

THREE_LEVEL = {
    "root": {"parents": [], "children": ["mid1", "mid2"]},
    "mid1": {"parents": ["root"], "children": ["leaf1", "leaf2"]},
    "mid2": {"parents": ["root"], "children": []},
    "leaf1": {"parents": ["mid1"], "children": []},
    "leaf2": {"parents": ["mid1"], "children": []},
}

SCORES = {"root": 0.1, "mid1": 0.2, "mid2": 0.7, "leaf1": 0.4, "leaf2": 0.6}


def test_tree_score_max():
    agg = tree_score(SCORES, THREE_LEVEL, max)
    assert agg["leaf1"] == 0.4
    assert agg["mid1"] == 0.6          # max(0.2, 0.4, 0.6)
    assert agg["mid2"] == 0.7
    assert agg["root"] == 0.7          # max(0.1, 0.6, 0.7)


def test_tree_score_mean():
    agg = tree_score(SCORES, THREE_LEVEL, np.mean)
    assert agg["mid1"] == pytest.approx((0.2 + 0.4 + 0.6) / 3)
    assert agg["root"] == pytest.approx(np.mean([0.1, agg["mid1"], 0.7]))


def test_production_agg():
    # parent_children_funcs(np.mean, max): parent([own, max(children)])
    agg = tree_score(SCORES, THREE_LEVEL, PRODUCTION_TREE_AGG)
    assert agg["mid1"] == pytest.approx(np.mean([0.2, max(0.4, 0.6)]))
    assert agg["mid2"] == 0.7          # leaf: own score
    assert agg["root"] == pytest.approx(np.mean([0.1, max(agg["mid1"], 0.7)]))


def test_parent_children_single_element():
    f = parent_children_funcs(np.mean, max)
    assert f([0.42]) == 0.42


def test_multi_parent_and_isolated():
    tree = mini_tree()
    scores = {c: 0.1 + 0.01 * i for i, c in enumerate(tree)}
    agg = tree_score(scores, tree, PRODUCTION_TREE_AGG)
    assert set(agg) == set(tree)
    # multi-parent node "album" feeds both "work" and "record"
    assert agg["work"] == pytest.approx(np.mean([
        scores["work"],
        max(agg["album"], agg["film"], agg["book"], agg["software"],
            agg["song"]),
    ]))
    assert agg["record"] == pytest.approx(np.mean([scores["record"],
                                                   agg["album"]]))
    # isolated node: own score
    assert agg["device"] == scores["device"]


def test_normalize_class_tree_drops_oov_and_repairs_edges():
    emb = build_embedding()
    tree = mini_tree(include_oov_class=True)
    norm = normalize_class_tree(tree, emb.in_vocab)
    assert "zzyzx thing" not in norm
    assert "zzyzx thing" not in norm["work"]["children"]
    # all in-vocab classes survive
    assert "home run" in norm and "album" in norm


def test_fold_schedule_levels_mini_tree():
    """Each class folds at its height above the leaves; leaves and
    isolated nodes (height 0) get no step."""
    t = mini_tree()
    classes = list(t)
    levels = fold_schedule(classes, t)
    height = {c: 0 for c in classes}
    for h, (parents, kids, starts) in enumerate(levels, start=1):
        for p in parents:
            height[classes[p]] = h
        # children concatenated per parent, in child-list order
        assert [classes[k] for k in kids] == [
            c for p in parents for c in t[classes[p]]["children"]]
        assert starts[0] == 0 and (np.diff(starts) > 0).all()
    assert height["player"] == 0 and height["device"] == 0
    assert height["athlete"] == 1
    assert height["person"] == 2
    assert height["agent"] == 3
    assert height["record"] == 1  # multi-parent child "album" is a leaf


def test_canonical_type_ties_first_wins():
    """Argmax over a folded row: a tie the fold creates goes to the first
    class (``np.argmax``, ``Duke/dataset_descriptor.py:84``)."""
    tree = {"a": {"parents": [], "children": ["b"]},
            "b": {"parents": ["a"], "children": []}}
    classes = ["a", "b"]
    folded = fold_scores(np.array([[0.2, 0.5]]),
                         fold_schedule(classes, tree), "max", "max")
    assert folded.tolist() == [[0.5, 0.5]]
    assert classes[int(folded.argmax(axis=1)[0])] == "a"


def test_cyclic_tree_rejected_at_context_build():
    """A cyclic ontology fails on the driver with a ValueError naming a
    node on the cycle — never a KeyError inside a Spark task."""
    tree = {"a": {"parents": ["b"], "children": ["b"]},
            "b": {"parents": ["a"], "children": ["a"]},
            "c": {"parents": [], "children": []}}
    with pytest.raises(ValueError, match="cycle through '[ab]'"):
        fold_schedule(list(tree), tree)
    with pytest.raises(ValueError, match="cycle through '[ab]'"):
        LinkContext(["a", "b", "c"], np.eye(3), tree)


def test_fold_rejects_unknown_agg():
    t = mini_tree()
    with pytest.raises(ValueError, match="parent/children"):
        fold_scores(np.ones((1, len(t))), fold_schedule(list(t), t),
                    "median", "max")
