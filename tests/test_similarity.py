"""Similarity-search tests: brute-force cosine top-k, LSH ANN, near-dups."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duke_spark.operators.similarity import (ann_cosine_topk, cosine_topk,
                                             embedding_near_dups,
                                             lsh_bucket_ids, with_cosine)

DIM = 16
N = 200


@pytest.fixture(scope="module")
def emb_pdf():
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((N, DIM)).astype(np.float32)
    # plant a near-duplicate pair: 10 ≈ 11
    vecs[11] = vecs[10] + rng.standard_normal(DIM).astype(np.float32) * 0.01
    return pd.DataFrame({"vec_id": np.arange(N, dtype=np.int64),
                         "embedding": [v.tolist() for v in vecs]})


@pytest.fixture(scope="module")
def emb(spark, emb_pdf):
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    return spark.createDataFrame(emb_pdf, schema=schema)


def np_topk(emb_pdf, q, k):
    mat = np.stack(emb_pdf["embedding"].to_list()).astype(np.float64)
    qv = np.asarray(q, dtype=np.float64)
    sims = mat @ qv / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
    order = np.lexsort((emb_pdf["vec_id"], -sims))
    return emb_pdf["vec_id"].to_numpy()[order[:k]].tolist()


def test_cosine_topk_matches_numpy(spark, emb, emb_pdf):
    q = emb_pdf["embedding"][10]
    got = cosine_topk(emb, q, k=5).toPandas()
    assert got["vec_id"].tolist() == np_topk(emb_pdf, q, 5)
    assert got["vec_id"].iloc[0] == 10           # self is most similar
    assert got["vec_id"].iloc[1] == 11           # planted near-dup second
    assert got["cosine"].iloc[0] == pytest.approx(1.0, abs=1e-9)


def test_with_cosine_range(spark, emb, emb_pdf):
    q = emb_pdf["embedding"][0]
    vals = with_cosine(emb, q).select("cosine").toPandas()["cosine"]
    assert (vals <= 1.0 + 1e-9).all() and (vals >= -1.0 - 1e-9).all()


def test_lsh_buckets_deterministic(spark, emb):
    a = lsh_bucket_ids(emb, DIM, num_planes=6).toPandas()
    b = lsh_bucket_ids(emb, DIM, num_planes=6).toPandas()
    pd.testing.assert_frame_equal(a.sort_values("vec_id").reset_index(drop=True),
                                  b.sort_values("vec_id").reset_index(drop=True))
    assert a["bucket"].between(0, 63).all()


def test_ann_finds_planted_neighbor(spark, emb, emb_pdf):
    q = emb_pdf["embedding"][10]
    got = ann_cosine_topk(emb, q, k=5, dim=DIM, num_planes=6).toPandas()
    # query's own bucket contains itself; near-identical vec 11 almost
    # surely shares the bucket (sign pattern of a 1% perturbation)
    assert 10 in got["vec_id"].tolist()
    assert 11 in got["vec_id"].tolist()


def test_embedding_near_dups(spark, emb):
    out = embedding_near_dups(emb, threshold=0.95, dim=DIM,
                              num_planes=6).toPandas()
    got = set(map(tuple, out[["a", "b"]].itertuples(index=False)))
    assert (10, 11) in got
    # random 16-dim gaussians essentially never hit cosine ≥ 0.95
    assert len(got) <= 3


def test_ivf_full_probe_equals_exact(spark, emb, emb_pdf):
    from duke_spark.operators.similarity import ivf_cosine_topk
    q = emb_pdf["embedding"].iloc[0]
    exact = cosine_topk(emb, q, k=10).toPandas()
    ivf = ivf_cosine_topk(emb, q, k=10, k_clusters=8,
                          n_probe=8).toPandas()
    pd.testing.assert_frame_equal(exact.reset_index(drop=True),
                                  ivf.reset_index(drop=True))


def test_ivf_probe_recall(spark, emb, emb_pdf):
    from duke_spark.operators.similarity import ivf_cosine_topk
    q = emb_pdf["embedding"].iloc[10]  # near-dup pair planted at 10/11
    exact = set(cosine_topk(emb, q, k=10).toPandas()["vec_id"])
    ivf = set(ivf_cosine_topk(emb, q, k=10, k_clusters=8,
                              n_probe=3).toPandas()["vec_id"])
    # the query's own cluster is probed → its near-identical twin found
    assert 11 in ivf and 10 in ivf
    assert len(exact & ivf) / 10 >= 0.4  # partial-probe recall tradeoff


def test_near_dups_capped_equals_uncapped(spark, emb):
    """Block-pairing is exhaustive: a tiny max_bucket (forcing many block
    pairs) yields the identical pair set to effectively-unbounded."""
    kw = dict(threshold=0.5, dim=DIM, num_planes=2)  # 4 fat buckets
    unb = embedding_near_dups(emb, max_bucket=100000, **kw).toPandas()
    cap = embedding_near_dups(emb, max_bucket=13, **kw).toPandas()
    key = ["a", "b"]
    pd.testing.assert_frame_equal(
        unb.sort_values(key).reset_index(drop=True),
        cap.sort_values(key).reset_index(drop=True))


def _pair_task_sizes(rows, keys, cap):
    """(largest bucket, largest pair task) of the block-paired join over
    ``rows``: a probe cosine scores every pair with its task's row
    count, so the join's own output reports its group sizes."""
    from duke_spark.operators.similarity import _block_paired_pairs

    def task_rows(x, y=None):
        m = len(x) if y is None else len(y)
        return np.full((len(x), m), float(len(x) + (0 if y is None else m)))

    out = _block_paired_pairs(rows, keys, 0.0, task_rows, "vec_id",
                              "embedding", cap)
    biggest = rows.groupBy(*keys).count().agg(F.max("count")).head()[0]
    return biggest, out.agg(F.max("cosine")).head()[0]


def test_near_dups_group_sizes_bounded(spark, emb):
    """On a skewed bucketing (2 planes → ~N/4 per bucket) no pair task
    sees more than ~2·max_bucket rows."""
    from duke_spark.operators.similarity import _band_buckets
    cap = 13
    bucketed = _band_buckets(emb, DIM, 2, 7, 1, "embedding", "vec_id")
    biggest, task = _pair_task_sizes(bucketed, ["band", "bucket"], cap)
    # hash-split blocks wobble around cnt/nb; 3x the cap bounds the tail
    assert biggest > 3 * cap   # the fat buckets really did split
    assert task <= 3 * cap


def test_near_dups_band_or_improves_recall(spark):
    """Band-OR multi-probe: pairs whose signs differ in one plane set are
    recovered by an independent set; recall is monotone in num_bands."""
    rng = np.random.default_rng(5)
    base = rng.standard_normal((40, DIM)).astype(np.float32)
    noisy = base + rng.standard_normal((40, DIM)).astype(np.float32) * 0.12
    vecs = np.concatenate([base, noisy])
    pdf = pd.DataFrame({"vec_id": np.arange(80, dtype=np.int64),
                        "embedding": [v.tolist() for v in vecs]})
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType()))])
    df = spark.createDataFrame(pdf, schema=schema)
    planted = {(i, i + 40) for i in range(40)}

    def recall(bands):
        got = embedding_near_dups(df, threshold=0.9, dim=DIM,
                                  num_planes=8, num_bands=bands).toPandas()
        found = set(map(tuple, got[["a", "b"]].itertuples(index=False)))
        return len(found & planted) / len(planted)

    r1, r3 = recall(1), recall(3)
    assert r3 >= r1
    assert r3 >= 0.9


def test_cosine_near_dup_pairs_matches_reference(spark, emb, emb_pdf):
    """Catalyst coord-sign near-dup pairs == a NumPy reference with the
    same bucket rule (sign of the first num_planes coordinates)."""
    from duke_spark.operators.similarity import cosine_near_dup_pairs

    out = cosine_near_dup_pairs(emb, threshold=0.9,
                                num_planes=4).toPandas()
    got = set(map(tuple, out[["a", "b"]].itertuples(index=False)))

    mat = np.stack(emb_pdf["embedding"].to_list()).astype(np.float64)
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    buckets = ((mat[:, :4] >= 0) @ (1 << np.arange(4))).astype(int)
    sims = unit @ unit.T
    exp = set()
    for i in range(N):
        for j in range(i + 1, N):
            if buckets[i] == buckets[j] and sims[i, j] >= 0.9 - 1e-12:
                exp.add((i, j))
    assert got == exp
    assert (10, 11) in got  # planted pair shares all coordinate signs


def test_cosine_pairs_capped_equals_uncapped(spark, emb):
    """VERDICT-r4 #2: the oracle-twin pair kernel block-splits hot
    buckets. Forcing many block pairs (max_bucket=13 on ~N/4-row
    buckets) must yield the IDENTICAL frame — same pair set, bit-same
    cosines — as effectively-unbounded."""
    from duke_spark.operators.similarity import cosine_near_dup_pairs
    kw = dict(threshold=0.5, num_planes=2)  # 4 fat buckets
    unb = cosine_near_dup_pairs(emb, max_bucket=100000, **kw).toPandas()
    cap = cosine_near_dup_pairs(emb, max_bucket=13, **kw).toPandas()
    key = ["a", "b"]
    pd.testing.assert_frame_equal(
        unb.sort_values(key).reset_index(drop=True),
        cap.sort_values(key).reset_index(drop=True))


def _mixed_strings(n):
    """n distinct ids over ASCII, BMP and supplementary-plane characters
    (UTF-16 and code-point orders disagree on 'ﬀ' vs '𝔸')."""
    alphabet = "a\u00e9\ufb00\uff71\U0001d538z"
    out = []
    for i in range(n):
        digits = []
        for _ in range(3):
            i, d = divmod(i, len(alphabet))
            digits.append(alphabet[d])
        out.append("ent:" + "".join(reversed(digits)))
    return out


@pytest.mark.parametrize("max_bucket", [13, 100000])
def test_cosine_pairs_string_ids_match_ranked_long_ids(spark, emb_pdf,
                                                       max_bucket):
    """String ids (entity resolution keys pairs by the term) give the
    long-id pair set mapped through the sorted rank — same a < b
    orientation, bit-identical cosines — capped and uncapped; ``a``/``b``
    follow the id type."""
    from duke_spark.operators.similarity import cosine_near_dup_pairs
    strs = _mixed_strings(N)
    rank = {s: r for r, s in enumerate(sorted(strs))}
    vec = T.StructField("embedding", T.ArrayType(T.FloatType()))
    by_str = spark.createDataFrame(
        pd.DataFrame({"vec_id": strs, "embedding": emb_pdf["embedding"]}),
        schema=T.StructType([T.StructField("vec_id", T.StringType()),
                             vec]))
    by_rank = spark.createDataFrame(
        pd.DataFrame({"vec_id": [rank[s] for s in strs],
                      "embedding": emb_pdf["embedding"]}),
        schema=T.StructType([T.StructField("vec_id", T.LongType()),
                             vec]))
    kw = dict(threshold=0.5, num_planes=2, max_bucket=max_bucket)
    got = cosine_near_dup_pairs(by_str, **kw)
    want = cosine_near_dup_pairs(by_rank, **kw)
    assert got.columns == want.columns == ["a", "b", "cosine"]
    assert got.schema["a"].dataType == T.StringType()
    assert want.schema["a"].dataType == T.LongType()
    got = got.toPandas()
    got["a"] = got["a"].map(rank)
    got["b"] = got["b"].map(rank)
    key = ["a", "b"]
    pd.testing.assert_frame_equal(
        want.toPandas().sort_values(key).reset_index(drop=True),
        got.sort_values(key).reset_index(drop=True), check_exact=True)
    assert len(got) > 0


def test_cosine_pairs_group_sizes_bounded(spark, emb):
    """Scale proof for the ER path: with coord-sign bucketing (2 planes
    → ~N/4 rows per bucket) and max_bucket=13, no pair task may see
    more than ~2·max_bucket rows — the hot bucket really splits into
    block-pair groups instead of one quadratic task."""
    from duke_spark.operators.similarity import coord_sign_bucket
    cap = 13
    b = emb.select("vec_id", "embedding", coord_sign_bucket("embedding", 2)
                   .alias("bucket"))
    biggest, task = _pair_task_sizes(b, ["bucket"], cap)
    assert biggest > 3 * cap   # the fat buckets really did split
    assert task <= 3 * cap


def test_cosine_pairs_new_col_is_exact_delta(spark, emb, emb_pdf):
    """Incremental mode (new_col): marking a subset NEW emits exactly
    the full pair set minus the old×old pairs — same cosines — which is
    what makes the epoch-delta union equal the batch pair set."""
    from duke_spark.operators.similarity import cosine_near_dup_pairs
    kw = dict(threshold=0.5, num_planes=2, max_bucket=13)
    cut = int(emb_pdf["vec_id"].median())
    flagged = emb.withColumn("_new", F.col("vec_id") > F.lit(cut))
    delta = cosine_near_dup_pairs(flagged, new_col="_new",
                                  **kw).toPandas()
    full = cosine_near_dup_pairs(emb, **kw).toPandas()
    is_new = dict(zip(emb_pdf["vec_id"],
                      emb_pdf["vec_id"] > cut))
    want = full[[is_new[a] or is_new[b]
                 for a, b in zip(full["a"], full["b"])]]
    key = ["a", "b"]
    pd.testing.assert_frame_equal(
        want.sort_values(key).reset_index(drop=True),
        delta.sort_values(key).reset_index(drop=True))
    assert len(delta) < len(full)  # some old×old pairs really dropped


def test_ivf_md5_full_probe_equals_exact(spark, emb, emb_pdf):
    from duke_spark.operators.similarity import ivf_cosine_topk_md5
    q = emb_pdf["embedding"].iloc[0]
    exact = cosine_topk(emb, q, k=10).toPandas()
    ivf = ivf_cosine_topk_md5(emb, q, k=10, k_clusters=8,
                              n_probe=8).toPandas()
    pd.testing.assert_frame_equal(exact.reset_index(drop=True),
                                  ivf.reset_index(drop=True))


def test_ivf_assignment_deterministic(spark, emb):
    from duke_spark.operators.similarity import ivf_assign, ivf_centroids
    c1 = ivf_centroids(emb, k_clusters=8)
    c2 = ivf_centroids(emb.repartition(7), k_clusters=8)
    np.testing.assert_array_equal(c1, c2)
    a = ivf_assign(emb, c1).toPandas().set_index("vec_id")["cluster"]
    b = ivf_assign(emb.repartition(5), c1).toPandas() \
        .set_index("vec_id")["cluster"]
    assert a.sort_index().equals(b.sort_index())


def test_band_zero_is_lsh_bucket(spark, emb):
    """Band 0 of the multi-band assignment is the single-band bucket of
    the same seed (later bands use seed+t)."""
    from duke_spark.operators.similarity import _band_buckets
    bands = (_band_buckets(emb, DIM, 6, 11, 3, "embedding", "vec_id")
             .filter(F.col("band") == 0).select("vec_id", "bucket")
             .toPandas().sort_values("vec_id").reset_index(drop=True))
    single = (lsh_bucket_ids(emb, DIM, num_planes=6, seed=11)
              .select("vec_id", "bucket").toPandas()
              .sort_values("vec_id").reset_index(drop=True))
    assert len(bands) == N
    pd.testing.assert_frame_equal(bands, single)


def test_one_lsh_layer():
    """Each LSH rule has one home: the streaming writers carry no
    plane-family branch, plane sampling or band hashing of their own,
    and the Gaussian planes are drawn in ``hyperplane_buckets`` only."""
    import inspect
    import pathlib

    from duke_spark.operators import similarity
    root = pathlib.Path(similarity.__file__).resolve().parents[1]
    for name in ("ann_stream.py", "neardup_stream.py"):
        src = (root / "streaming" / name).read_text()
        for tok in ('"coord"', "standard_normal", "posexplode"):
            assert tok not in src, (name, tok)
    ops = [(root / "operators" / n).read_text()
           for n in ("similarity.py", "ann_index.py")]
    assert sum(s.count("standard_normal(") for s in ops) == 1
    assert "standard_normal(" in inspect.getsource(
        similarity.hyperplane_buckets)
    # one block-paired join and one IVF probe
    assert ops[0].count(".applyInPandas(") == 1
    assert sum(s.count("argsort(-(") for s in ops) == 1
