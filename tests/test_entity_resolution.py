"""Embedding-based entity resolution (operators.entity_resolution):
merge-map correctness vs a hand-computed closure, totality, the graph
rewrite, the per-bucket NumPy closure, string-keyed resolution and the
fixed Spark job count."""

import inspect

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from duke_spark.operators import entity_resolution
from duke_spark.operators.entity_resolution import (apply_entity_merge,
                                                    resolve_entities)
from duke_spark.operators.graph import (connected_components,
                                        min_label_components)
from graph_checks import job_count, union_find

DIM = 8


@pytest.fixture()
def vectors(spark):
    """Three planted clusters of near-identical vectors plus isolated
    points. Cluster ids: {0,1,2}, {10,11}, {20,21,22}; isolates 30, 31."""
    rng = np.random.default_rng(42)
    rows = []

    def add(base_id, n, seed_vec):
        for j in range(n):
            v = seed_vec + rng.normal(0, 0.01, DIM)
            rows.append((base_id + j, [float(x) for x in v]))

    add(0, 3, rng.normal(0, 1, DIM))
    add(10, 2, rng.normal(0, 1, DIM))
    add(20, 3, rng.normal(0, 1, DIM))
    rows.append((30, [float(x) for x in rng.normal(0, 1, DIM)]))
    rows.append((31, [float(x) for x in rng.normal(0, 1, DIM)]))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    return spark.createDataFrame(pdf), pdf


def _cos(a, b):
    a, b = np.asarray(a), np.asarray(b)
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


def test_merge_map_matches_python_closure(vectors):
    df, pdf = vectors
    got = {r.entity: r.canonical
           for r in resolve_entities(df, threshold=0.99,
                                     num_planes=0).collect()}
    # python oracle: full-pairs closure at the same threshold
    ids = pdf["vec_id"].tolist()
    vecs = dict(zip(pdf["vec_id"], pdf["embedding"]))
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in ids:
        for j in ids:
            if i < j and _cos(vecs[i], vecs[j]) >= 0.99:
                a, b = find(i), find(j)
                if a != b:
                    parent[max(a, b)] = min(a, b)
    want = {i: find(i) for i in ids}
    assert got == want
    # the planted clusters actually merged (test isn't vacuous)
    assert want[2] == 0 and want[11] == 10 and want[22] == 20
    assert want[30] == 30


def test_map_is_total_and_identity_for_isolates(vectors):
    df, pdf = vectors
    got = resolve_entities(df, threshold=0.999999,
                           num_planes=0).toPandas()
    assert len(got) == len(pdf)            # total over input
    # at an impossible threshold everyone maps to themselves
    near_one = resolve_entities(df, threshold=1.1, num_planes=0) \
        .toPandas()
    assert (near_one["entity"] == near_one["canonical"]).all()


def test_apply_entity_merge_rewrites_and_passes_through(spark):
    triples = spark.createDataFrame(pd.DataFrame(
        [(2, "p", 11), (30, "p", 2), (5, "q", 5)],
        columns=["subj", "pred", "obj"]))
    mm = spark.createDataFrame(pd.DataFrame(
        [(2, 0), (11, 10), (30, 30)], columns=["entity", "canonical"]))
    got = {(r.subj, r.pred, r.obj)
           for r in apply_entity_merge(triples, mm).collect()}
    # 2→0, 11→10; 5 absent from the map passes through
    assert got == {(0, "p", 10), (30, "p", 0), (5, "q", 5)}


def test_resolve_kg_entities_merges_planted_aliases(spark):
    """Pipeline form: a context whose vocab contains two near-identical
    vectors ('acme' / 'acmecorp') merges those entities in the triple
    store; out-of-vocab and dissimilar entities pass through."""
    from duke_spark.fixtures.class_tree import mini_tree
    from duke_spark.operators.entity_resolution import resolve_kg_entities
    from duke_spark.operators.linking import LinkContext

    rng = np.random.default_rng(7)
    base = rng.normal(0, 1, DIM)
    words, vecs = [], []
    for w, v in [("acme", base), ("acmecorp", base + 0.001),
                 ("zebra", rng.normal(0, 1, DIM)),
                 ("agent", rng.normal(0, 1, DIM)),
                 ("team", rng.normal(0, 1, DIM))]:
        words.append(w)
        vecs.append(v)
    # mini_tree classes must embed; add their words with random vecs
    for w in {w for c in mini_tree() for w in c.split(" ")}:
        if w not in words:
            words.append(w)
            vecs.append(rng.normal(0, 1, DIM))
    ctx = LinkContext(words, np.asarray(vecs, dtype=np.float32),
                      mini_tree())
    ctx_bc = spark.sparkContext.broadcast(ctx)

    triples = spark.createDataFrame(pd.DataFrame(
        [("conv:1", "mentions", "ent:acme"),
         ("conv:2", "mentions", "ent:acmecorp"),
         ("conv:1", "mentions", "ent:zebra"),
         ("ent:acmecorp", "co_mentioned", "ent:zebra"),
         ("conv:3", "mentions", "ent:notinvocab")],
        columns=["subj", "pred", "obj"]))
    mm, resolved = resolve_kg_entities(triples, ctx_bc, threshold=0.99)
    got_map = {(r.entity, r.canonical) for r in mm.collect()}
    assert got_map == {("ent:acmecorp", "ent:acme")}
    rows = {(r.subj, r.pred, r.obj) for r in resolved.collect()}
    assert ("conv:2", "mentions", "ent:acme") in rows
    assert ("ent:acme", "co_mentioned", "ent:zebra") in rows
    assert ("conv:3", "mentions", "ent:notinvocab") in rows
    assert not any("acmecorp" in r[0] or "acmecorp" in r[2]
                   for r in rows)


def test_type_guard_blocks_disagreeing_pairs(spark):
    """VERDICT-r4 #7: cosine alone is not merge evidence. Four vectors
    on the SAME direction (cosine 1.0 pairwise): same-typed ids merge,
    the differently-typed one stays split, the NULL-typed one never
    merges (conservative: no evidence, no merge)."""
    v = [1.0] + [0.0] * (DIM - 1)
    pdf = pd.DataFrame({
        "vec_id": [0, 1, 2, 3],
        "embedding": [v, v, v, v],
        "ctype": ["company", "company", "city", None],
    })
    df = spark.createDataFrame(pdf)
    unguarded = {r.entity: r.canonical
                 for r in resolve_entities(df, threshold=0.99,
                                           num_planes=0).collect()}
    assert unguarded == {0: 0, 1: 0, 2: 0, 3: 0}  # all collapse
    guarded = {r.entity: r.canonical
               for r in resolve_entities(df, threshold=0.99,
                                         num_planes=0,
                                         type_col="ctype").collect()}
    assert guarded == {0: 0, 1: 0, 2: 2, 3: 3}


def test_resolve_kg_type_guard_splits_false_pair(spark):
    """Pipeline form with type_guard: a planted FALSE pair — two labels
    with cosine above threshold whose canonical ontology types differ
    (one leans 'city', the other 'film') — must NOT merge, while the
    true alias pair (identical direction ⇒ same type) still does."""
    from duke_spark.fixtures.class_tree import mini_tree
    from duke_spark.operators.entity_resolution import resolve_kg_entities
    from duke_spark.operators.linking import LinkContext

    rng = np.random.default_rng(11)
    u1 = np.zeros(DIM); u1[0] = 1.0
    u2 = np.zeros(DIM); u2[1] = 1.0
    m = (u1 + u2) / np.sqrt(2)
    words = ["acme", "acmecorp", "metropol", "cinema"]
    vecs = [rng.normal(0, 1, DIM)] * 2  # identical → true aliases
    vecs = [vecs[0], vecs[0].copy(),
            m + 0.07 * u1,   # false pair: cosine ≈ 0.9955 ...
            m + 0.07 * u2]   # ... but argmax type city vs film
    for w in {w for c in mini_tree() for w in c.split(" ")}:
        if w == "city":
            words.append(w); vecs.append(u1)
        elif w == "film":
            words.append(w); vecs.append(u2)
        elif w not in words:
            # weak random vectors so no other class outranks the planted
            words.append(w); vecs.append(rng.normal(0, 0.05, DIM))
    ctx = LinkContext(words, np.asarray(vecs, dtype=np.float32),
                      mini_tree())
    ctx_bc = spark.sparkContext.broadcast(ctx)

    triples = spark.createDataFrame(pd.DataFrame(
        [("conv:1", "mentions", "ent:acme"),
         ("conv:2", "mentions", "ent:acmecorp"),
         ("conv:1", "mentions", "ent:metropol"),
         ("conv:2", "mentions", "ent:cinema")],
        columns=["subj", "pred", "obj"]))
    # sanity: without the guard the false pair merges too
    mm0, _ = resolve_kg_entities(triples, ctx_bc, threshold=0.99)
    assert {(r.entity, r.canonical) for r in mm0.collect()} == {
        ("ent:acmecorp", "ent:acme"), ("ent:metropol", "ent:cinema")}
    mm, resolved = resolve_kg_entities(triples, ctx_bc, threshold=0.99,
                                       type_guard=True)
    assert {(r.entity, r.canonical) for r in mm.collect()} == {
        ("ent:acmecorp", "ent:acme")}
    rows = {(r.subj, r.pred, r.obj) for r in resolved.collect()}
    assert ("conv:1", "mentions", "ent:metropol") in rows
    assert ("conv:2", "mentions", "ent:cinema") in rows


def test_merge_then_fact_support_consolidates(spark):
    """Composition: after the rewrite, fact_support counts evidence for
    the CANONICAL fact across its aliases."""
    from duke_spark.operators.triples import fact_support
    triples = spark.createDataFrame(pd.DataFrame(
        [("c1", 0, 1, "p", 2, 0.5), ("c2", 0, 1, "p", 3, 0.7)],
        columns=["conv_id", "turn_idx", "subj", "pred", "obj", "score"]))
    mm = spark.createDataFrame(pd.DataFrame(
        [(3, 2)], columns=["entity", "canonical"]))
    merged = apply_entity_merge(triples, mm)
    fs = fact_support(merged).collect()
    assert len(fs) == 1
    assert fs[0].n_support == 2 and fs[0].n_convs == 2


def _arc(spark, ids, ctypes=None):
    """Unit vectors 0.1 rad apart along a circle, ``ids[k]`` at angle
    0.1·k: cos 0.1 ≈ 0.995 ≥ 0.99 > cos 0.2 ≈ 0.980, so at threshold
    0.99 only arc neighbours pair and the pair graph is a path."""
    cols = {"vec_id": [int(i) for i in ids],
            "embedding": [[float(np.cos(0.1 * k)), float(np.sin(0.1 * k))]
                          + [0.0] * (DIM - 2) for k in range(len(ids))]}
    if ctypes is not None:
        cols["ctype"] = ctypes
    return spark.createDataFrame(pd.DataFrame(cols))


def _resolved(df, **kw):
    return {r.entity: r.canonical for r in resolve_entities(
        df, threshold=0.99, num_planes=0, **kw).collect()}


def test_long_arc_resolves_in_one_closure(spark):
    """A 40-node path whose minimum id sits at the far end: one-hop-per-
    round label propagation needs 39 rounds (past the 25-round cap of
    ``dedup.connected_components``); the per-bucket closure maps all 40
    to the minimum. Guarded, a type change mid-arc cuts the path in
    two."""
    ids = np.random.default_rng(5).permutation(np.arange(100, 140))
    k = int(np.flatnonzero(ids == 100)[0])
    ids[[k, 39]] = ids[[39, k]]          # minimum at the arc's far end
    assert _resolved(_arc(spark, ids)) == {int(i): 100 for i in ids}
    head, tail = ids[:20], ids[20:]
    typed = _arc(spark, ids, ["x"] * 20 + ["y"] * 20)
    want = {int(i): int(head.min()) for i in head}
    want.update({int(i): 100 for i in tail})
    assert _resolved(typed, type_col="ctype") == want


# 'ﬀ' (U+FB00) < '𝔸' (U+1D538) by code point, but '𝔸' is a surrogate
# pair in UTF-16 and sorts first there
ALPHABET = "az\u00e9\ufb00\uff71\U0001d538"
INT_IDS = st.integers(min_value=-2**40, max_value=2**40)
STR_IDS = st.text(alphabet=ALPHABET, max_size=4)


@st.composite
def _edges(draw, ids, min_edges=0):
    nodes = draw(st.lists(ids, min_size=1, max_size=60, unique=True))
    pick = st.sampled_from(nodes)
    return draw(st.lists(st.tuples(pick, pick), min_size=min_edges,
                         max_size=200))


def _closure(edges, dtype):
    a = np.array([e[0] for e in edges], dtype=dtype)
    b = np.array([e[1] for e in edges], dtype=dtype)
    nodes, comp = min_label_components(a, b)
    assert list(nodes) == sorted(nodes)
    return dict(zip(nodes.tolist(), comp.tolist()))


@given(edges=_edges(INT_IDS))
@settings(max_examples=300, deadline=None)
def test_closure_equals_union_find_int(edges):
    assert _closure(edges, np.int64) == union_find(edges)


@given(edges=_edges(STR_IDS))
@example(edges=[("\U0001d538", "\ufb00")])
@settings(max_examples=300, deadline=None)
def test_closure_equals_union_find_str(edges):
    assert _closure(edges, object) == union_find(edges)


def _spark_components(spark, edges, ddl):
    """``connected_components`` labels, after checking in Spark that
    every component's label is its ``F.min(node)``."""
    comps = connected_components(
        spark.createDataFrame(edges, f"a {ddl}, b {ddl}"))
    off = (comps.groupBy("comp").agg(F.min("node").alias("m"))
           .filter(F.col("m") != F.col("comp")))
    assert off.count() == 0
    return {r.node: r.comp for r in comps.collect()}


@given(edges=_edges(INT_IDS, min_edges=1))
@settings(max_examples=8, deadline=None)
def test_component_label_is_spark_min_int(spark, edges):
    assert _spark_components(spark, edges, "bigint") == union_find(edges)


@given(edges=_edges(STR_IDS, min_edges=1))
@example(edges=[("\U0001d538", "\ufb00"), ("\uff71a", "\U0001d538")])
@settings(max_examples=8, deadline=None)
def test_component_label_is_spark_min_str(spark, edges):
    """Spark's string min (UTF-8 bytes = code points) is the order the
    closure's ``np.unique`` uses: a witness independent of the kernel."""
    assert _spark_components(spark, edges, "string") == union_find(edges)


def _alias_context(spark, groups):
    """LinkContext whose vocab holds each group's words on one direction
    (alias vectors ≤1e-4 apart), plus the mini tree's class words."""
    from duke_spark.fixtures.class_tree import mini_tree
    from duke_spark.operators.linking import LinkContext

    rng = np.random.default_rng(13)
    words, vecs = [], []
    for group in groups:
        base = rng.normal(0, 1, DIM)
        for j, w in enumerate(group):
            words.append(w)
            vecs.append(base + 1e-4 * j)
    for w in sorted({w for c in mini_tree() for w in c.split(" ")}):
        if w not in words:
            words.append(w)
            vecs.append(rng.normal(0, 1, DIM))
    ctx = LinkContext(words, np.asarray(vecs, dtype=np.float32),
                      mini_tree())
    return spark.sparkContext.broadcast(ctx)


def test_resolve_kg_entities_canonical_is_spark_min(spark):
    """Non-ASCII planted aliases: each component's canonical term is
    Spark's ``min`` of its terms (code-point order — UTF-16 order would
    pick 'ent:𝔸')."""
    from duke_spark.operators.entity_resolution import resolve_kg_entities

    groups = [["\U0001d538", "\ufb00", "\uff71"], ["\u00e9", "e"]]
    ctx_bc = _alias_context(spark, groups)
    terms = ["ent:" + w for g in groups for w in g]
    triples = spark.createDataFrame(pd.DataFrame(
        [("conv:1", "mentions", t) for t in terms],
        columns=["subj", "pred", "obj"]))
    mm, _ = resolve_kg_entities(triples, ctx_bc, threshold=0.99)
    got = {(r.entity, r.canonical) for r in mm.collect()}
    comp = spark.createDataFrame(
        [(g, "ent:" + w) for g, grp in enumerate(groups) for w in grp],
        "g int, t string")
    mins = {r.g: r.m for r in
            comp.groupBy("g").agg(F.min("t").alias("m")).collect()}
    want = {("ent:" + w, mins[g]) for g, grp in enumerate(groups)
            for w in grp if "ent:" + w != mins[g]}
    assert mins == {0: "ent:\ufb00", 1: "ent:e"}
    assert got == want


def test_resolution_job_count_is_fixed(spark):
    """The closure is one shuffle, not a loop of Spark actions: a
    3-vector and a 20-vector arc (path diameters 2 and 19) launch the
    same number of Spark jobs, and the module reaches neither
    ``connected_components`` nor the dense index."""
    short = _arc(spark, [7, 3, 5])
    long = _arc(spark, range(20))
    n_short = job_count(spark, lambda: _resolved(short))
    n_long = job_count(spark, lambda: _resolved(long))
    assert n_short > 0
    assert n_short == n_long
    src = inspect.getsource(entity_resolution)
    assert "connected_components" not in src
    assert "dense_entity_index" not in src


def test_resolve_kg_job_count_same_with_and_without_merges(spark):
    """Pipeline form: the planted aliases merge at 0.99 and nothing
    merges at 1.5, with the same number of Spark jobs."""
    from duke_spark.operators.entity_resolution import resolve_kg_entities

    groups = [["acme", "acmecorp", "acmeinc"], ["zebra"]]
    ctx_bc = _alias_context(spark, groups)
    triples = spark.createDataFrame(pd.DataFrame(
        [("conv:1", "mentions", "ent:" + w) for g in groups for w in g],
        columns=["subj", "pred", "obj"]))
    counts, merges = [], []
    for threshold in (0.99, 1.5):
        def run():
            mm, _ = resolve_kg_entities(triples, ctx_bc,
                                        threshold=threshold,
                                        type_guard=True)
            merges.append(mm.count())
            mm.unpersist()
        counts.append(job_count(spark, run))
    assert merges == [2, 0]
    assert counts[0] == counts[1]
