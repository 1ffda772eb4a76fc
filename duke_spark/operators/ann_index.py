"""Persisted ANN index with partition pruning — the 100 TB similarity
path (SURVEY C8/C8b).

The in-flight ANN operators (``similarity.ann_cosine_topk`` /
``ivf_cosine_topk``) recompute bucket/cluster assignments over the whole
corpus per query; fine for one-off jobs, wrong for a serving corpus. This
module makes the bucket a PARTITION KEY of a stored parquet index:

  * build: assign bucket (LSH sign pattern or IVF nearest-centroid),
    ``repartition(bucket)`` (so each writer task holds whole partitions —
    no tasks×buckets small-file explosion) and
    ``write.partitionBy(bucket)``; index params go to a ``_meta.json``
    sidecar so the query side reproduces the exact assignment rule.
  * query: compute the query's probe buckets driver-side (the bucket rule
    is a pure function), then ``read.parquet(...).filter(bucket ∈
    probes)`` — Spark resolves the filter against the partition columns,
    so only the probed directories are LISTED and SCANNED
    (``PartitionFilters`` in the physical plan; asserted in pytest).

At 10^12 rows the probed fraction is ``probes / 2^num_planes`` (resp.
``n_probe / k_clusters``) of the corpus — the difference between a top-k
over everything and a top-k over a few partitions.
"""

from __future__ import annotations

import json
import os
from typing import List, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duke_spark.operators.similarity import (coord_sign_bucket, cosine_topk,
                                             hyperplane_buckets, ivf_assign,
                                             ivf_centroids, ivf_probe,
                                             lsh_bucket_ids)

META_FILE = "_meta.json"
DATA_DIR = "data"


def _write_meta(path: str, meta: dict) -> None:
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".{META_FILE}.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(path, META_FILE))


def _read_meta(path: str) -> dict:
    with open(os.path.join(path, META_FILE)) as f:
        return json.load(f)


def assign_lsh_buckets(df: DataFrame, meta: dict) -> DataFrame:
    """(id, vec, bucket) rows under the index's plane family — the one
    data-side assignment the batch build and the streaming append share.
    ``'coord'`` stays Catalyst (the form the SQL oracle reproduces)."""
    base = df.select(meta["id_col"], meta["vec_col"])
    if meta["planes"] == "coord":
        return base.withColumn(
            "bucket", coord_sign_bucket(meta["vec_col"], meta["num_planes"]))
    return lsh_bucket_ids(base, meta["dim"], meta["num_planes"],
                          meta["seed"], meta["vec_col"])


def build_lsh_index(df: DataFrame, path: str, dim: int,
                    num_planes: int = 8, seed: int = 7,
                    planes: str = "gaussian", vec_col: str = "embedding",
                    id_col: str = "vec_id") -> dict:
    """Write an LSH-bucket-partitioned index. ``planes='gaussian'`` uses
    the seeded random-hyperplane family (production); ``'coord'`` uses
    coordinate-sign planes (SQL-reproducible, used by the driver oracle).
    """
    meta = {"kind": "lsh", "planes": planes, "num_planes": num_planes,
            "seed": seed, "dim": dim, "vec_col": vec_col, "id_col": id_col}
    (assign_lsh_buckets(df, meta).repartition("bucket")
     .write.mode("overwrite").partitionBy("bucket")
     .parquet(os.path.join(path, DATA_DIR)))
    _write_meta(path, meta)
    return meta


def build_ivf_index(df: DataFrame, path: str, k_clusters: int = 16,
                    seed: int = 7, vec_col: str = "embedding",
                    id_col: str = "vec_id") -> dict:
    """Write an IVF index partitioned by nearest-centroid cluster; the
    (small) centroid matrix lives in the meta sidecar."""
    cents = ivf_centroids(df, k_clusters, seed, vec_col, id_col)
    assigned = ivf_assign(df.select(id_col, vec_col), cents, vec_col,
                          out_col="cluster")
    (assigned.repartition("cluster")
     .write.mode("overwrite").partitionBy("cluster")
     .parquet(os.path.join(path, DATA_DIR)))
    meta = {"kind": "ivf", "k_clusters": k_clusters, "seed": seed,
            "vec_col": vec_col, "id_col": id_col,
            "centroids": cents.tolist()}
    _write_meta(path, meta)
    return meta


def _lsh_probe_buckets(qvec: Sequence[float], meta: dict,
                       hamming: int = 1) -> List[int]:
    """Query bucket + all buckets within the given Hamming distance
    (multi-probe: the standard recall repair for sign-LSH — a near
    neighbor differs in at most a few plane signs)."""
    q = np.asarray(qvec, dtype=np.float64)
    p = meta["num_planes"]
    if meta["planes"] == "coord":   # coord_sign_bucket's rule
        qb = int((q[:p] >= 0) @ (1 << np.arange(p, dtype=np.int64)))
    else:
        qb = int(hyperplane_buckets(q[None, :], meta["dim"], p,
                                    meta["seed"])[0, 0])
    probes = {qb}
    if hamming >= 1:
        probes.update(qb ^ (1 << j) for j in range(p))
    if hamming >= 2:
        for i in range(p):
            for j in range(i + 1, p):
                probes.add(qb ^ (1 << i) ^ (1 << j))
    return sorted(probes)


def open_index(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(path, DATA_DIR))


def query_lsh_index(spark: SparkSession, path: str,
                    qvec: Sequence[float], k: int = 10,
                    hamming: int = 1) -> DataFrame:
    """Top-k over the probed partitions only. The ``bucket IN (...)``
    filter lands in PartitionFilters (bucket is a partition column), so
    unprobed directories are never read."""
    meta = _read_meta(path)
    probes = _lsh_probe_buckets(qvec, meta, hamming)
    idx = (open_index(spark, path)
           .filter(F.col("bucket").isin(probes))
           # streaming appends are at-least-once (replays re-append the
           # same rows); dedup on the probed subset keeps top-k exact
           .dropDuplicates([meta["id_col"]]))
    return cosine_topk(idx, qvec, k, meta["vec_col"], meta["id_col"])


def query_ivf_index(spark: SparkSession, path: str,
                    qvec: Sequence[float], k: int = 10,
                    n_probe: int = 4) -> DataFrame:
    meta = _read_meta(path)
    probe = ivf_probe(np.asarray(meta["centroids"], dtype=np.float64),
                      qvec, n_probe)
    idx = (open_index(spark, path)
           .filter(F.col("cluster").isin(probe))
           .dropDuplicates([meta["id_col"]]))
    return cosine_topk(idx, qvec, k, meta["vec_col"], meta["id_col"])
