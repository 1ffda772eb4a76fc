"""Dedup operator tests: exact, MinHash+LSH, SimHash, n-gram Jaccard,
and the connected-components closure behind the components survivor
policy."""

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from duke_spark.operators.dedup import (exact_dedup, lsh_candidate_pairs,
                                        minhash_signatures, near_dup_filter,
                                        ngram_jaccard_pairs, simhash64,
                                        with_shingles)
from duke_spark.operators.graph import connected_components
from graph_checks import job_count, union_find
from test_kg_contract_invariants import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),          # exact dup
    (2, "the quick brown fox jumps over the sleepy dog"),        # near dup
    (3, "a completely different sentence about spark engines"),
    (4, "a completely different sentence about spark engines !"),  # near dup
    (5, "short"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(pd.DataFrame(DOCS,
                                              columns=["doc_id", "text"]))


def test_exact_dedup(spark, docs):
    out = exact_dedup(docs).toPandas().sort_values("doc_id")
    # doc 1 collapsed into doc 0
    assert 1 not in set(out["doc_id"])
    assert out.set_index("doc_id").loc[0, "n_copies"] == 2
    assert len(out) == 5


def test_shingles(spark, docs):
    out = (with_shingles(docs, n=3).filter(F.col("doc_id") == 5)
           .select("shingles").head()[0])
    assert out == ["short"]  # degenerate doc → whole-text shingle
    out0 = (with_shingles(docs, n=3).filter(F.col("doc_id") == 0)
            .select("shingles").head()[0])
    assert out0[0] == "the quick brown"
    assert len(out0) == 9 - 2


def test_minhash_identical_docs_share_signature(spark, docs):
    sigs = minhash_signatures(docs, num_hashes=32).toPandas()
    by_id = {r.doc_id: tuple(r.signature) for r in sigs.itertuples()}
    assert by_id[0] == by_id[1]                      # exact dups
    sim_near = sum(a == b for a, b in zip(by_id[0], by_id[2])) / 32
    sim_far = sum(a == b for a, b in zip(by_id[0], by_id[3])) / 32
    assert sim_near > sim_far                        # MinHash ≈ Jaccard
    # true Jaccard(0,2) = 4/10; 32-perm estimate should land nearby
    assert 0.15 <= sim_near <= 0.75


def test_lsh_candidates_include_dups(spark, docs):
    sigs = minhash_signatures(docs, num_hashes=32)
    pairs = lsh_candidate_pairs(sigs, bands=16).toPandas()
    got = set(map(tuple, pairs[["a", "b"]].itertuples(index=False)))
    assert (0, 1) in got                             # exact dup always found
    # unrelated docs should not dominate: candidates ⊆ plausible pairs
    assert (0, 3) not in got or len(got) < 10


def test_ngram_jaccard_exact_values(spark, docs):
    out = ngram_jaccard_pairs(docs, threshold=0.1).toPandas()
    pairs = {(r.a, r.b): r.jaccard for r in out.itertuples()}
    assert pairs[(0, 1)] == 1.0
    # docs 0 vs 2: 7 shingles each, differ in word 8 → shared = 4 of 10
    assert (0, 2) in pairs and 0.3 < pairs[(0, 2)] < 0.8
    assert (3, 4) in pairs


def test_simhash_near_dup_small_hamming(spark, docs):
    out = simhash64(docs).toPandas()
    by_id = dict(zip(out["doc_id"], out["simhash"]))
    assert by_id[0] == by_id[1]
    ham_near = bin((by_id[0] ^ by_id[2]) & 0xFFFFFFFFFFFFFFFF).count("1")
    ham_far = bin((by_id[0] ^ by_id[3]) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham_near < ham_far


def test_simhash_md5_matches_reference(spark, docs):
    """simhash64_md5 == a per-doc hashlib reference using DuckDB's
    md5_number_lower word-hash convention (digest bytes [8:16], LE)."""
    import hashlib

    import numpy as np
    from duke_spark.operators.dedup import simhash64_md5

    out = simhash64_md5(docs).toPandas()
    by_id = dict(zip(out["doc_id"], out["simhash"]))
    for doc_id, text in DOCS:
        hs = [int.from_bytes(hashlib.md5(w.encode()).digest()[8:], "little")
              for w in text.split(" ")]
        sig = 0
        for b in range(64):
            ones = sum((h >> b) & 1 for h in hs)
            if ones * 2 >= len(hs):
                sig |= 1 << b
        assert by_id[doc_id] == np.int64(np.uint64(sig)).item(), doc_id


def test_minhash_lsh_md5_pairs(spark, docs):
    """The md5 LSH variant finds the exact-dup pair and respects a<b."""
    from duke_spark.operators.dedup import minhash_lsh_pairs_md5

    pairs = minhash_lsh_pairs_md5(docs).toPandas()
    got = set(map(tuple, pairs[["a", "b"]].itertuples(index=False)))
    assert (0, 1) in got
    assert all(a < b for a, b in got)


def test_near_dup_filter_keeps_lowest_id(spark, docs):
    from duke_spark.operators.dedup import near_dup_filter
    out = near_dup_filter(docs, jaccard_threshold=0.9).toPandas()
    kept = set(out["doc_id"])
    assert 0 in kept and 1 not in kept     # exact pair (jaccard 1.0): keep 0
    assert {2, 3, 5} <= kept               # below-threshold docs survive
    # survivors carry original columns unchanged
    assert list(out.columns) == ["doc_id", "text"]


def test_jaccard_df_cap_identity_on_clean_corpus(spark, docs):
    """No shingle in the fixture nears the cap → capped == exact."""
    kw = dict(threshold=0.1)
    capped = (ngram_jaccard_pairs(docs, max_shingle_df=1000, **kw)
              .toPandas().sort_values(["a", "b"]).reset_index(drop=True))
    exact = (ngram_jaccard_pairs(docs, max_shingle_df=None, **kw)
             .toPandas().sort_values(["a", "b"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(capped, exact)


def test_jaccard_df_cap_defuses_stop_shingle(spark):
    """40 docs sharing one ubiquitous shingle: uncapped, every doc pair
    shares it (O(n²) join rows and spurious low-jaccard pairs); capped,
    only the planted near-dup pair remains."""
    rows = [(i, f"of the and u{i}x u{i}y u{i}z u{i}w") for i in range(40)]
    rows.append((40, "of the and u7x u7y u7z u7q"))  # near-dup of doc 7
    docs = spark.createDataFrame(pd.DataFrame(rows,
                                              columns=["doc_id", "text"]))
    uncapped = ngram_jaccard_pairs(docs, threshold=0.01,
                                   max_shingle_df=None).toPandas()
    capped = ngram_jaccard_pairs(docs, threshold=0.01,
                                 max_shingle_df=10).toPandas()
    assert len(uncapped) == 41 * 40 // 2      # every pair shares the stop
    got = set(map(tuple, capped[["a", "b"]].itertuples(index=False)))
    assert got == {(7, 40)}                   # only real shingle overlap


def test_connected_components_labels(spark):
    pairs = spark.createDataFrame(
        pd.DataFrame({"a": [1, 0, 5], "b": [2, 2, 6]}))
    comp = (connected_components(pairs).toPandas()
            .set_index("node")["comp"].to_dict())
    assert comp == {0: 0, 1: 0, 2: 0, 5: 5, 6: 5}


@pytest.mark.parametrize("ddl,ids", [("bigint", [1, 2, 5, 6]),
                                     ("string", ["1", "2", "5", "6"])])
def test_connected_components_null_endpoint(spark, ddl, ids):
    """A NULL endpoint joins nothing: node 2 keeps only its edge to 1,
    and NULL is one node labelled NULL, as an equi-join propagation
    leaves it."""
    n1, n2, n5, n6 = ids
    pairs = spark.createDataFrame([(n1, n2), (n2, None), (n5, n6)],
                                  f"a {ddl}, b {ddl}")
    got = {(r.node, r.comp) for r in connected_components(pairs).collect()}
    assert got == {(n1, n1), (n2, n1), (n5, n5), (n6, n5), (None, None)}


def _path(spark, n):
    """An n-node path over a permutation of 0..n-1 whose minimum sits at
    the far end: one-hop-per-round propagation needs n-1 rounds."""
    ids = np.random.default_rng(n).permutation(n)
    k = int(np.flatnonzero(ids == 0)[0])
    ids[[k, n - 1]] = ids[[n - 1, k]]
    edges = [(int(x), int(y)) for x, y in zip(ids[:-1], ids[1:])]
    return spark.createDataFrame(edges, "a bigint, b bigint"), edges


def _labels(df):
    return {r.node: r.comp for r in df.collect()}


def test_connected_components_long_path(spark):
    pairs, edges = _path(spark, 1000)
    got = _labels(connected_components(pairs))
    assert got == union_find(edges)
    assert set(got.values()) == {0}


@pytest.mark.parametrize("ids", [int, str])
def test_connected_components_sparse_random_graph(spark, ids):
    """8,000 random edges over 10,000 nodes: thousands of components,
    trees of every depth, labels equal to union-find's minima."""
    rng = np.random.default_rng(23)
    a, b = rng.integers(0, 10_000, (2, 8_000))
    edges = [(ids(x), ids(y)) for x, y in zip(a.tolist(), b.tolist())]
    ddl = "bigint" if ids is int else "string"
    got = _labels(connected_components(
        spark.createDataFrame(edges, f"a {ddl}, b {ddl}")))
    assert got == union_find(edges)


def test_connected_components_job_count_is_fixed(spark):
    """Closing a 3-node and a 1,000-node path launches the same number
    of Spark jobs: the closure is one shuffle, not a loop of actions."""
    short, _ = _path(spark, 3)
    long, _ = _path(spark, 1000)
    n_short = job_count(spark, connected_components(short).collect)
    n_long = job_count(spark, connected_components(long).collect)
    assert n_short > 0
    assert n_short == n_long


def test_near_dup_components_beats_greedy_on_chain(spark):
    """Chain 0–2–1 (0~2 and 1~2 similar, 0≁1): greedy drops only doc 2
    (the larger id of both pairs) and keeps chain member 1; connected
    components keeps just the component minimum 0."""
    from duke_spark.operators.dedup import near_dup_filter
    texts = {
        0: "A B C D E F G H I J",          # jaccard(0,2)=0.8
        1: "C D E F G H I J K L",          # jaccard(1,2)=0.8, (0,1)=0.6
        2: "A B C D E F G H I J K L",
    }
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())}))
    greedy = set(near_dup_filter(docs, jaccard_threshold=0.7)
                 .toPandas()["doc_id"])
    comp = set(near_dup_filter(docs, jaccard_threshold=0.7,
                               strategy="components").toPandas()["doc_id"])
    assert greedy == {0, 1}
    assert comp == {0}


def test_near_dup_filter_threshold_monotone(spark, docs):
    from duke_spark.operators.dedup import near_dup_filter
    strict = near_dup_filter(docs, jaccard_threshold=0.99).count()
    loose = near_dup_filter(docs, jaccard_threshold=0.3).count()
    assert loose <= strict  # lower threshold drops at least as many


def test_connected_components_random_graph_matches_union_find(spark):
    """200 random edges over 120 nodes: component partition must equal a
    union-find reference, with min-id labels."""
    rng = np.random.default_rng(17)
    a = rng.integers(0, 120, 200)
    b = rng.integers(0, 120, 200)
    keep = a != b
    pairs = pd.DataFrame({"a": a[keep], "b": b[keep]})
    exp = union_find(zip(pairs["a"].tolist(), pairs["b"].tolist()))
    got = (connected_components(spark.createDataFrame(pairs))
           .toPandas().set_index("node")["comp"].to_dict())
    assert got == exp


def test_clean_corpus_components_job(spark, tmp_path):
    """``jobs/clean_corpus.py --strategy components`` runs end to end,
    and its near-dup survivor count equals the in-process operator on
    the exact-deduplicated documents."""
    env = dict(os.environ, OPENBLAS_NUM_THREADS="1", OMP_NUM_THREADS="1")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "clean_corpus.py"),
         "--input", SF_DIR, "--out", str(tmp_path / "clean"),
         "--strategy", "components", "--parallelism", "2"],
        capture_output=True, text=True, env=env, cwd=tmp_path, timeout=420)
    assert proc.returncode == 0, proc.stderr[-3000:]
    stats = json.loads([ln for ln in proc.stdout.splitlines()
                        if ln.startswith("{")][-1])
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    docs = docs.join(exact_dedup(docs).select("doc_id"), "doc_id",
                     "left_semi")
    want = near_dup_filter(docs, strategy="components").count()
    assert stats["after_near_dup"] == want


def test_jaccard_quadratic_guard(spark):
    """ngram_jaccard_pairs is verification-grade: above max_docs it must
    raise and point at the LSH scale path unless allow_quadratic=True."""
    import pytest
    docs = spark.range(5).selectExpr(
        "id as doc_id", "concat('tok', id, ' alpha beta gamma') as text")
    with pytest.raises(ValueError, match="lsh_candidate_pairs"):
        ngram_jaccard_pairs(docs, threshold=0.1, max_docs=3)
    # explicit override bypasses the guard (and its eager count)
    out = ngram_jaccard_pairs(docs, threshold=0.1, max_docs=3,
                              allow_quadratic=True).toPandas()
    assert {"a", "b", "jaccard"} <= set(out.columns)
