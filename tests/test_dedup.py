"""Dedup operator tests: exact, MinHash+LSH, SimHash, n-gram Jaccard."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from duke_spark.operators.dedup import (exact_dedup, lsh_candidate_pairs,
                                        minhash_signatures,
                                        ngram_jaccard_pairs, simhash64,
                                        with_shingles)

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
    from duke_spark.operators.dedup import connected_components
    pairs = spark.createDataFrame(
        pd.DataFrame({"a": [1, 0, 5], "b": [2, 2, 6]}))
    comp = (connected_components(pairs).toPandas()
            .set_index("node")["comp"].to_dict())
    assert comp == {0: 0, 1: 0, 2: 0, 5: 5, 6: 5}


def test_connected_components_raises_on_non_convergence(spark):
    """A path graph 0-1-2-...-9 needs ~diameter rounds of min-label
    propagation; with max_iter below that the operator must RAISE rather
    than silently return partially-propagated labels (which would let the
    components survivor policy keep extra docs with no signal)."""
    from duke_spark.operators.dedup import connected_components
    path = spark.createDataFrame(
        pd.DataFrame({"a": list(range(9)), "b": list(range(1, 10))}))
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(path, max_iter=3)
    comp = (connected_components(path, max_iter=15).toPandas()
            .set_index("node")["comp"].to_dict())
    assert comp == {i: 0 for i in range(10)}


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
    import numpy as np
    from duke_spark.operators.dedup import connected_components

    rng = np.random.default_rng(17)
    a = rng.integers(0, 120, 200)
    b = rng.integers(0, 120, 200)
    keep = a != b
    pairs = pd.DataFrame({"a": a[keep], "b": b[keep]})

    parent = list(range(120))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in pairs.itertuples(index=False):
        rx, ry = find(int(x)), find(int(y))
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    touched = set(pairs["a"]) | set(pairs["b"])
    exp = {v: find(v) for v in sorted(touched)}
    # normalize to min-id per component
    comp_min = {}
    for v, r in exp.items():
        comp_min.setdefault(r, v)
    exp = {v: comp_min[r] for v, r in exp.items()}

    got = (connected_components(spark.createDataFrame(pairs))
           .toPandas().set_index("node")["comp"].to_dict())
    assert got == exp


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
