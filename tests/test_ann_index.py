"""Persisted ANN index: build, partition-pruned query, recall, IVF."""

import contextlib
import io

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duke_spark.operators.ann_index import (_lsh_probe_buckets,
                                            build_ivf_index, build_lsh_index,
                                            open_index, query_ivf_index,
                                            query_lsh_index)
from duke_spark.operators.similarity import cosine_topk

DIM = 16
N = 300


@pytest.fixture(scope="module")
def emb_pdf():
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((N, DIM)).astype(np.float32)
    vecs[21] = vecs[20] + rng.standard_normal(DIM).astype(np.float32) * 0.01
    return pd.DataFrame({"vec_id": np.arange(N, dtype=np.int64),
                         "embedding": [v.tolist() for v in vecs]})


@pytest.fixture(scope="module")
def emb(spark, emb_pdf):
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    return spark.createDataFrame(emb_pdf, schema=schema)


@pytest.fixture(scope="module")
def lsh_index(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ann") / "lsh")
    build_lsh_index(emb, path, dim=DIM, num_planes=5, seed=7)
    return path


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_query_equals_bruteforce_over_probed_buckets(spark, emb, emb_pdf,
                                                     lsh_index):
    q = emb_pdf["embedding"].iloc[20]
    got = query_lsh_index(spark, lsh_index, q, k=5, hamming=1).toPandas()
    idx = open_index(spark, lsh_index)
    # reproduce the probe set from the stored assignments and brute-force
    qb = idx.filter(F.col("vec_id") == 20).select("bucket").head()[0]
    probes = {qb} | {qb ^ (1 << j) for j in range(5)}
    manual = cosine_topk(idx.filter(F.col("bucket").isin(list(probes))),
                         q, k=5).toPandas()
    pd.testing.assert_frame_equal(got.reset_index(drop=True),
                                  manual.reset_index(drop=True))
    assert {20, 21} <= set(got["vec_id"])  # planted near-dup recalled


def test_query_plan_prunes_partitions(spark, emb_pdf, lsh_index):
    q = emb_pdf["embedding"].iloc[0]
    plan = _plan(query_lsh_index(spark, lsh_index, q, k=5, hamming=1))
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf_lines, plan
    # the IN filter must be resolved against the partition column, not
    # pushed as a data filter over a full scan
    assert any("bucket" in ln and "IN" in ln for ln in pf_lines), plan
    # probes = 1 + 5 flips of 32 buckets → strictly fewer partitions read
    idx = open_index(spark, lsh_index)
    n_buckets = idx.select("bucket").distinct().count()
    assert n_buckets > 6


def test_lsh_index_coord_planes_deterministic(spark, emb, tmp_path):
    path = str(tmp_path / "coord")
    build_lsh_index(emb, path, dim=DIM, num_planes=4, planes="coord")
    idx = open_index(spark, path).toPandas()
    mat = np.stack(idx["embedding"].to_list())
    exp = ((mat[:, :4] >= 0) @ (1 << np.arange(4))).astype(int)
    np.testing.assert_array_equal(idx["bucket"].to_numpy(), exp)


def test_ivf_index_full_probe_equals_exact(spark, emb, emb_pdf, tmp_path):
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, k_clusters=8)
    q = emb_pdf["embedding"].iloc[3]
    exact = cosine_topk(emb, q, k=10).toPandas()
    got = query_ivf_index(spark, path, q, k=10, n_probe=8).toPandas()
    pd.testing.assert_frame_equal(got.reset_index(drop=True),
                                  exact.reset_index(drop=True))


def test_ivf_partial_probe_prunes_and_recalls(spark, emb, emb_pdf,
                                              tmp_path):
    path = str(tmp_path / "ivf2")
    build_ivf_index(emb, path, k_clusters=8)
    q = emb_pdf["embedding"].iloc[20]
    res = query_ivf_index(spark, path, q, k=10, n_probe=2)
    plan = _plan(res)
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("cluster" in ln and "IN" in ln for ln in pf_lines), plan
    got = set(res.toPandas()["vec_id"])
    assert {20, 21} <= got  # query's own cluster holds the planted twin


def _append_matches_batch_build(spark, emb_pdf, emb, tmp_path, planes):
    """Incremental ingest (streaming/ann_stream.py): build from the first
    half, stream the second half in two micro-batches (one replayed),
    then query — results must equal a batch index built over the full
    corpus, and the replayed epoch must not distort top-k."""
    from duke_spark.streaming.ann_stream import StreamingAnnIndexWriter

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])

    def sdf(pdf: pd.DataFrame):
        return spark.createDataFrame(pdf.reset_index(drop=True), schema)

    kw = dict(dim=DIM, num_planes=5, seed=7, planes=planes)
    inc_path = str(tmp_path / "inc")
    build_lsh_index(sdf(emb_pdf.iloc[:150]), inc_path, **kw)
    writer = StreamingAnnIndexWriter(inc_path)
    writer.process(sdf(emb_pdf.iloc[150:220]), epoch_id=0)
    writer.process(sdf(emb_pdf.iloc[220:]), epoch_id=1)
    writer.process(sdf(emb_pdf.iloc[220:]), epoch_id=1)   # epoch REPLAY

    full_path = str(tmp_path / "full")
    build_lsh_index(emb, full_path, **kw)
    key = ["vec_id", "bucket"]
    assert (open_index(spark, inc_path).select(*key).distinct()
            .orderBy(*key).collect()
            == open_index(spark, full_path).select(*key)
            .orderBy(*key).collect())   # appends land where builds do

    q = emb_pdf.iloc[20]["embedding"]
    got = query_lsh_index(spark, inc_path, q, k=8, hamming=1).toPandas()
    exp = query_lsh_index(spark, full_path, q, k=8, hamming=1).toPandas()
    assert list(got["vec_id"]) == list(exp["vec_id"])
    assert len(got) == len(set(got["vec_id"]))            # replay deduped
    # compaction folds the duplicates away and preserves results
    n = writer.compact(spark)
    assert n == N
    after = query_lsh_index(spark, inc_path, q, k=8, hamming=1).toPandas()
    assert list(after["vec_id"]) == list(exp["vec_id"])


def test_streaming_append_matches_batch_build(spark, emb_pdf, tmp_path,
                                              emb):
    _append_matches_batch_build(spark, emb_pdf, emb, tmp_path, "gaussian")


def test_streaming_append_matches_batch_build_coord(spark, emb_pdf, tmp_path,
                                                    emb):
    _append_matches_batch_build(spark, emb_pdf, emb, tmp_path, "coord")


@pytest.mark.parametrize("planes", ["coord", "gaussian"])
def test_probe_bucket_equals_stored_bucket(spark, emb_pdf, tmp_path, planes):
    """The data-side and query-side bucket rules agree: every stored
    vector's hamming-0 probe is exactly the bucket it was written to —
    including a vector with -0.0 coordinates, which both rules read as
    a non-negative sign."""
    vecs = emb_pdf["embedding"].to_list()
    vecs[0] = [-0.0, 0.0, -0.0] + list(vecs[0][3:])
    pdf = pd.DataFrame({"vec_id": emb_pdf["vec_id"], "embedding": vecs})
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    path = str(tmp_path / planes)
    meta = build_lsh_index(spark.createDataFrame(pdf, schema), path,
                           dim=DIM, num_planes=4, planes=planes)
    idx = open_index(spark, path).toPandas()
    assert len(idx) == N
    for vec, bucket in zip(idx["embedding"], idx["bucket"]):
        assert _lsh_probe_buckets(vec, meta, hamming=0) == [bucket]
    if planes == "coord":   # -0.0 is a set bit on both sides
        assert idx.loc[idx["vec_id"] == 0, "bucket"].item() & 0b111 == 0b111
