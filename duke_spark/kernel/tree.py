"""Class-tree kernels: OOV normalization + hierarchical score aggregation.

Reference semantics (reimplemented, not copied):
  * tree = ``{class: {"parents": [...], "children": [...]}}`` JSON
    (``Duke/class_tree.py:49-52``);
  * OOV classes dropped, then stripped from every parents/children list
    (``Duke/class_tree.py:36-46``);
  * bottom-up layered fold: a node is processed once all its children are
    aggregated; node score = agg_func([own_score, child_agg_scores...])
    (``Duke/class_tree.py:63-102``);
  * production agg config: ``parent_children_funcs(np.mean, max)``
    (``Duke/agg_functions.py:16-23``, used at ``Duke/DukeRestListener.py:38``
    and ``Duke/scripts/main.py:12``).

Production folds go through ``fold_scores``: a whole N×C score matrix
(entities, conversations, sources or labels) per call, one vectorized
step per tree level of a ``fold_schedule`` built once per context.
``tree_score`` / ``aggregate_tree_scores`` are the dict-driven
per-vector reference fold, kept faithful to Duke for the oracle, the
golden generator and the tests. The kernels are deliberately Spark-free.
"""

from __future__ import annotations

import json
from graphlib import CycleError, TopologicalSorter
from typing import Callable, Dict, List, Mapping, Sequence, Tuple

import numpy as np

Tree = Dict[str, Dict[str, List[str]]]


def load_tree(path: str) -> Tree:
    with open(path) as f:
        return json.load(f)


def normalize_class_tree(tree: Tree, in_vocab: Callable[[List[str]], bool]) -> Tree:
    """Drop classes whose name has any OOV word, then repair edge lists
    (``Duke/class_tree.py:36-46``). Class names are space-separated."""
    kept = {name: rels for name, rels in tree.items()
            if in_vocab(name.split(" "))}
    names = set(kept)
    return {
        name: {
            "parents": [p for p in rels.get("parents", []) if p in names],
            "children": [c for c in rels.get("children", []) if c in names],
        }
        for name, rels in kept.items()
    }


def get_leaves(tree: Tree) -> List[str]:
    return [n for n, rels in tree.items() if not rels.get("children")]


def tree_score(score_map: Mapping[str, float], tree: Tree,
               agg_func: Callable[[Sequence[float]], float]) -> Dict[str, float]:
    """Bottom-up layered aggregation (``Duke/class_tree.py:63-91``).

    Processes leaves first, then repeatedly the parents whose children are
    all aggregated. Matches the reference's layer semantics including the
    single multi-parent node case (a node joins a layer only when every
    child has a score). Guard differs deliberately from the reference's
    truthiness test (``class_tree.py:71`` treats a 0.0 child score as
    "not yet aggregated") — we use explicit membership, which is the
    evident intent; fixture scores are kept nonzero so parity is exact.
    """
    agg_score: Dict[str, float] = {}
    processed: set = set()

    def process(nodes):
        for node in nodes:
            vals = [score_map[node]]
            children = tree[node].get("children") or []
            vals.extend(agg_score[c] for c in children)
            agg_score[node] = agg_func(vals)
            processed.add(node)

    layer = get_leaves(tree)
    process(layer)
    remaining = set(tree) - processed
    while remaining:
        parents = {p for n in layer for p in tree[n]["parents"]}
        parents -= processed
        ready = [p for p in parents
                 if all(c in agg_score for c in tree[p]["children"])]
        if not ready:
            # isolated cycles / orphans: process whatever remains directly
            ready = sorted(remaining)
        process(ready)
        layer = ready
        remaining -= processed
    return agg_score


def parent_children_funcs(parent: Callable, children: Callable,
                          prep: Callable = lambda v: v) -> Callable:
    """Composed agg: ``parent([own, children(child_scores)])``
    (``Duke/agg_functions.py:16-23``)."""

    def custom_agg(vector):
        vector = prep(vector)
        if len(vector) > 1:
            return parent([vector[0], children(vector[1:])])
        return vector[0]

    return custom_agg


PRODUCTION_TREE_AGG = parent_children_funcs(np.mean, max)


def aggregate_tree_scores(classes: Sequence[str], scores: np.ndarray,
                          tree: Tree,
                          agg_func: Callable = PRODUCTION_TREE_AGG) -> np.ndarray:
    """Array form of ``DatasetDescriptor.aggregate_tree_scores``
    (``Duke/dataset_descriptor.py:99-107``): one vector per call, the
    reference ``fold_scores`` is checked against."""
    score_map = dict(zip(classes, scores.tolist()))
    agg = tree_score(score_map, tree, agg_func)
    return np.array([agg[c] for c in classes])


# --- the production matrix fold -------------------------------------------

# one tree level: (parent columns, their children's columns concatenated,
# reduceat start offset of each parent's children)
FoldLevel = Tuple[np.ndarray, np.ndarray, np.ndarray]
_AGGS = ("mean", "max")


def tree_heights(tree: Tree) -> Dict[str, int]:
    """Height above the leaf frontier: 0 for leaves and isolated nodes,
    1 + max(child heights) otherwise — the level a node folds at. The
    tree JSON is outside input: a cycle raises ``ValueError`` naming a
    node on it."""
    kids = {n: rels.get("children") or [] for n, rels in tree.items()}
    try:
        order = list(TopologicalSorter(kids).static_order())
    except CycleError as e:
        raise ValueError(
            f"class tree has a cycle through {e.args[1][0]!r}") from None
    heights: Dict[str, int] = {}
    for n in order:  # children first
        heights[n] = 1 + max((heights[c] for c in kids.get(n, ())),
                             default=-1)
    return heights


def fold_schedule(classes: Sequence[str], tree: Tree) -> List[FoldLevel]:
    """Level schedule for ``fold_scores``, bottom-up from height 1 (leaves
    keep their own score). A node's children all sit below its height, so
    each level folds in one vectorized step."""
    col = {c: i for i, c in enumerate(classes)}
    heights = tree_heights(tree)
    levels: List[FoldLevel] = []
    for h in range(1, max(heights.values(), default=0) + 1):
        parents = [c for c in classes if heights[c] == h]
        kids = [tree[p]["children"] for p in parents]
        levels.append((np.array([col[p] for p in parents]),
                       np.array([col[c] for k in kids for c in k]),
                       np.cumsum([0] + [len(k) for k in kids[:-1]])))
    return levels


def fold_scores(scores: np.ndarray, levels: Sequence[FoldLevel],
                parent: str = "mean", children: str = "max") -> np.ndarray:
    """Fold every row of an N×C score matrix up the tree; returns a new
    N×C float64 matrix.

    Per level: reduce the children's folded scores (``max``, or ``mean``
    as sum / child count), then combine with the node's own score
    (``mean`` = (own + child) / 2, or ``max``) — ``parent_children_funcs
    (parent, children)`` over the level schedule. The production config
    ``("mean", "max")`` is bit-identical to ``aggregate_tree_scores(...,
    PRODUCTION_TREE_AGG)``; ``children="mean"`` sums in child-list order
    where ``np.mean`` sums pairwise, so it agrees to ~1e-16."""
    if parent not in _AGGS or children not in _AGGS:
        raise ValueError(f"parent/children must be one of {_AGGS}, got "
                         f"{parent!r}/{children!r}")
    out = np.array(scores, dtype=np.float64)
    for parents, kids, starts in levels:
        sub = out[:, kids]
        if children == "max":
            child = np.maximum.reduceat(sub, starts, axis=1)
        else:
            child = (np.add.reduceat(sub, starts, axis=1)
                     / np.diff(starts, append=len(kids)))
        own = out[:, parents]
        out[:, parents] = ((own + child) / 2 if parent == "mean"
                           else np.maximum(own, child))
    return out
