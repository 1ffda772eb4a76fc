"""Property-based kernel tests (hypothesis) — the reference ships no
property tests (SURVEY §5); these pin the invariants the distributed
operators rely on."""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from duke_spark.kernel.text import (normalize_text, normalize_text_series,
                                    underscore)
from duke_spark.kernel.tree import (fold_schedule, fold_scores,
                                    parent_children_funcs, tree_score)
from duke_spark.kernel.vectors import chunk_in_vocab_runs, unit_norm_rows

TEXT = st.text(
    alphabet=st.characters(codec="ascii", exclude_categories=("Cc", "Cs")),
    max_size=60)


@given(TEXT)
@settings(max_examples=200, deadline=None)
def test_series_normalizer_equals_scalar(s):
    """The vectorized (pandas .str) normalizer must equal the scalar oracle
    path char-for-char — any divergence silently breaks P/R parity."""
    scalar = normalize_text(s, to_list=False)
    vec = normalize_text_series(pd.Series([s])).iloc[0]
    assert scalar == vec


@given(TEXT)
@settings(max_examples=200, deadline=None)
def test_underscore_idempotent_on_own_output(s):
    once = underscore(s)
    assert underscore(once) == once  # snake_case is a fixed point


@given(st.lists(st.sampled_from(["agent", "team", "zzq", "", "bird",
                                 "router"]), max_size=20),
       st.integers(min_value=1, max_value=4))
@settings(max_examples=200, deadline=None)
def test_chunking_properties(tokens, max_len):
    vocab = {"agent": 0, "team": 1, "bird": 2}
    chunks = chunk_in_vocab_runs(tokens, vocab, max_len=max_len)
    # every chunk fully in vocab, nonempty, within length cap
    for c in chunks:
        assert 0 < len(c) <= max_len
        assert all(t in vocab for t in c)
    # flattened chunks == the in-vocab tokens in original order
    flat = [t for c in chunks for t in c]
    assert flat == [t for t in tokens if t in vocab]


@given(st.lists(st.lists(st.floats(-1e3, 1e3), min_size=4, max_size=4),
                min_size=1, max_size=16))
@settings(max_examples=200, deadline=None)
def test_unit_norm_rows_properties(rows):
    m = np.array(rows, dtype=np.float64)
    out = unit_norm_rows(m.copy())
    norms = np.linalg.norm(out, axis=1)
    zero = np.linalg.norm(m, axis=1) == 0.0
    assert np.allclose(norms[~zero], 1.0, atol=1e-9)
    assert (norms[zero] == 0.0).all()


@st.composite
def random_dag(draw):
    """Random class DAG: each node picks 0-3 parents among earlier nodes,
    so multi-parent nodes, several roots and isolated nodes all occur."""
    n = draw(st.integers(min_value=1, max_value=12))
    names = [f"n{i}" for i in range(n)]
    tree = {m: {"parents": [], "children": []} for m in names}
    for i in range(1, n):
        for p in draw(st.lists(st.integers(min_value=0, max_value=i - 1),
                               max_size=3, unique=True)):
            tree[names[i]]["parents"].append(names[p])
            tree[names[p]]["children"].append(names[i])
    scores = {m: draw(st.floats(0.01, 1.0, allow_nan=False)) for m in names}
    return tree, scores


@given(random_dag())
@settings(max_examples=150, deadline=None)
def test_tree_score_max_agg_equals_subtree_max(ts):
    """With agg=max, a node's folded score is the max over its own and all
    descendants' raw scores — brute-force checkable."""
    tree, scores = ts
    folded = tree_score(scores, tree, max)

    def descendants(n):
        out = set()
        stack = list(tree[n]["children"])
        while stack:
            c = stack.pop()
            if c not in out:
                out.add(c)
                stack.extend(tree[c]["children"])
        return out

    for n in tree:
        expect = max([scores[n]] + [scores[d] for d in descendants(n)])
        assert folded[n] == expect, n


@given(random_dag())
@settings(max_examples=150, deadline=None)
def test_tree_score_production_agg_bounds(ts):
    """parent_children_funcs(mean, max): every folded score lies within
    [min(subtree raw), max(subtree raw)] — a mean/max mix can't escape the
    convex hull of its inputs."""
    tree, scores = ts
    agg = parent_children_funcs(np.mean, max)
    folded = tree_score(scores, tree, agg)
    lo, hi = min(scores.values()), max(scores.values())
    for n, v in folded.items():
        assert lo - 1e-12 <= v <= hi + 1e-12


_AGG_FUNCS = {"mean": np.mean, "max": max}


@given(random_dag(), st.integers(min_value=1, max_value=5),
       st.integers(min_value=0, max_value=2**32 - 1))
@settings(max_examples=150, deadline=None)
def test_matrix_fold_equals_reference_fold(ts, n_rows, seed):
    """The level-scheduled matrix fold equals the per-vector reference
    fold row by row, for every {mean,max}² config: exactly when children
    reduce by max, to 1e-12 when they average (sum order differs)."""
    tree, _ = ts
    classes = list(tree)
    scores = np.random.default_rng(seed).uniform(0.01, 1.0,
                                                 (n_rows, len(classes)))
    levels = fold_schedule(classes, tree)
    for parent, pf in _AGG_FUNCS.items():
        for children, cf in _AGG_FUNCS.items():
            got = fold_scores(scores, levels, parent, children)
            agg = parent_children_funcs(pf, cf)
            exp = np.array([[tree_score(dict(zip(classes, row)), tree,
                                        agg)[c] for c in classes]
                            for row in scores.tolist()])
            if children == "max":
                assert np.array_equal(got, exp), (parent, children)
            else:
                np.testing.assert_allclose(got, exp, rtol=0, atol=1e-12)
