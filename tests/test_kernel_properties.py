"""Property-based kernel tests (hypothesis) — the reference ships no
property tests (SURVEY §5); these pin the invariants the distributed
operators rely on."""

import pathlib
from types import SimpleNamespace

import numpy as np
import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from duke_spark.kernel.oracle import link_mentions, oracle_mentions
from duke_spark.kernel.text import (normalize_text, normalize_text_series,
                                    underscore)
from duke_spark.kernel.tree import (fold_schedule, fold_scores,
                                    parent_children_funcs, tree_score)
from duke_spark.kernel.vectors import (VocabEmbedding, _direct_sums,
                                       _word_positions, _word_table_sums,
                                       chunk_in_vocab_runs, score_groups,
                                       unit_norm_rows)

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


_WORDS = ["york", "new", "city", "guitar", "song", "river", "zero"]
_rng = np.random.default_rng(7)
_EMB = VocabEmbedding(_WORDS, np.vstack([
    _rng.standard_normal((len(_WORDS) - 1, 16)),
    np.zeros((1, 16))]).astype(np.float32))      # "zero": all-zero vector
_CLASSES = unit_norm_rows(_rng.standard_normal((9, 16))).astype(np.float32)


def _cosine(pair):
    scores, sq = pair
    norms = np.sqrt(np.maximum(sq, 0.0))
    norms[norms == 0.0] = 1.0
    return scores / norms[:, None]


@given(st.lists(st.lists(st.sampled_from(_WORDS), min_size=1, max_size=12),
                min_size=1, max_size=20))
@example([["zero"], ["york", "york"], ["zero", "zero", "new"], ["york"]])
@settings(max_examples=200, deadline=None)
def test_score_groups_associations_agree(groups):
    """Word-table and direct associations of ``score_groups`` give the
    same cosine (to 1e-12) and argmax on groups of 1-12 words with
    repeats ("york york") and an all-zero word vector; both match the
    oracle's per-group sum → norm → dot; a zero-norm group scores 0."""
    ids, keep = _EMB.encode(groups)
    assert keep.all()
    vecs, pos = _word_positions(_EMB, ids)
    classes = _CLASSES.astype(np.float64)
    table = _cosine(_word_table_sums(vecs, pos, classes))
    direct = _cosine(_direct_sums(vecs, pos, classes))
    np.testing.assert_allclose(table, direct, rtol=0, atol=1e-12)
    assert np.array_equal(table.argmax(axis=1), direct.argmax(axis=1))

    got = score_groups(_EMB, ids, _CLASSES)
    ctx = SimpleNamespace(embedding=_EMB, class_matrix=_CLASSES)
    np.testing.assert_allclose(got, link_mentions(ctx, groups)[1], rtol=0,
                               atol=1e-12)
    zero = np.array([set(g) == {"zero"} for g in groups])
    assert (got[zero] == 0.0).all() and (table[zero] == 0.0).all()


def test_link_batch_scores_pinned_to_oracle(oracle_ctx,
                                            tiny_transcripts_pdf):
    """``link_batch`` entity scores equal the oracle's to 1e-12 on the
    mini fixture (same mentions and entities, in the same order)."""
    from duke_spark.fixtures.class_tree import mini_tree
    from duke_spark.fixtures.embedding import embedding_arrays
    from duke_spark.operators.linking import LinkContext, link_batch

    ctx = LinkContext(*embedding_arrays(), mini_tree())
    got = link_batch(tiny_transcripts_pdf, ctx)
    exp = oracle_mentions(oracle_ctx, tiny_transcripts_pdf)
    assert len(got) > 0
    assert got["mention"].tolist() == exp["mention"].tolist()
    assert got["entity"].tolist() == exp["entity"].tolist()
    np.testing.assert_allclose(got["entity_score"], exp["entity_score"],
                               rtol=0, atol=1e-12)


def test_one_class_scoring_path():
    """Every production class-score site goes through ``score_groups``:
    nothing under ``duke_spark/`` but ``kernel/vectors.py`` (where
    ``score_groups`` lives) references ``score_against_classes``. Words
    become vocab ids only through ``VocabEmbedding.encode``/``word_ids``:
    no operator or streaming module probes the vocab itself, and
    ``score_groups`` is called only by the linker, the per-key
    accumulator and ER's embed pass."""
    import inspect

    from duke_spark.operators import canonical, entity_resolution, linking

    root = pathlib.Path(__file__).resolve().parents[1] / "duke_spark"
    offenders = [str(p.relative_to(root)) for p in sorted(root.rglob("*.py"))
                 if "score_against_classes" in p.read_text()
                 and p.relative_to(root).as_posix() != "kernel/vectors.py"]
    assert offenders == []

    sources = {p.relative_to(root).as_posix(): p.read_text()
               for d in ("operators", "streaming")
               for p in sorted((root / d).rglob("*.py"))}
    for word in ("in_vocab(", "vocab_index", "index_groups", ".vocab["):
        assert [p for p, src in sources.items() if word in src] == [], word
    assert {p: src.count("score_groups(") for p, src in sources.items()
            if "score_groups(" in src} == {
        "operators/linking.py": 1, "operators/canonical.py": 1,
        "operators/entity_resolution.py": 1}
    for fn in (linking.link_batch, canonical.weighted_score_sums,
               entity_resolution.resolve_kg_entities):
        assert "score_groups(" in inspect.getsource(fn), fn.__name__
