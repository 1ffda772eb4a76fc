"""Similarity search over embedding columns (array<float>).

Two paths:
  * brute-force cosine top-k — exact baseline; dot product computed
    JVM-side with zip_with/aggregate in DOUBLE, index order, so results
    are bit-identical to a sequential double dot product (and to the
    DuckDB oracle). TakeOrdered (orderBy+limit) avoids a full sort.
  * LSH-bucketed ANN — random-hyperplane signs → bucket id; query probes
    only its bucket (and optionally neighbors). The 100 TB path: the
    bucket id is a pre-shuffle key, so the candidate scan is a partition-
    pruned fraction of the corpus. Hyperplanes are seeded and broadcast.

One home per LSH rule, shared with ``operators.ann_index`` and the
streaming writers: ``hyperplane_buckets`` (Gaussian planes),
``coord_sign_bucket`` (Catalyst coordinate signs), ``ivf_probe``, and
``_block_paired_pairs``, the one near-dup join — bucket, split hot
buckets into hash blocks, score each block pair — run with the SQL-exact
``seq_gram_matrix`` fold (``cosine_near_dup_pairs``, entity resolution)
or one GEMM of unit rows (``embedding_near_dups``).

Embedding-based near-dup (cosine ≥ τ within LSH buckets) composes the
two; the Duke anchor is the same unit-norm + dot kernel
(``Duke/dataset_descriptor.py:57``).
"""

from __future__ import annotations

from typing import Iterator, List, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duke_spark.kernel.vectors import unit_norm_rows


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y:
                                  x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, v: acc + v)


def with_cosine(df: DataFrame, query_vec: Sequence[float],
                vec_col: str = "embedding",
                out_col: str = "cosine") -> DataFrame:
    """Cosine similarity to a constant query vector, JVM-side in double."""
    q = [float(x) for x in query_vec]
    qn = float(np.sqrt(np.dot(q, q)))
    qlit = F.array(*[F.lit(x) for x in q])
    dot = _dot(F.col(vec_col), qlit)
    norm = F.sqrt(_dot(F.col(vec_col), F.col(vec_col)))
    return df.withColumn(out_col, dot / (norm * F.lit(qn)))


def cosine_topk(df: DataFrame, query_vec: Sequence[float], k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id",
                ) -> DataFrame:
    """Exact brute-force top-k by cosine (desc), ties by id asc.
    orderBy+limit compiles to TakeOrdered — no global sort shuffle."""
    return (with_cosine(df, query_vec, vec_col)
            .select(id_col, "cosine")
            .orderBy(F.desc("cosine"), F.asc(id_col))
            .limit(k))


def hyperplane_buckets(mat: np.ndarray, dim: int, num_planes: int,
                       seed: int, num_bands: int = 1) -> np.ndarray:
    """The Gaussian random-hyperplane bucket rule: an n × ``num_bands``
    int32 matrix whose column t is the sign pattern of the rows of
    ``mat`` (n × dim, float64) against the ``num_planes`` seeded N(0, 1)
    planes of ``seed + t``, plane j → bit j. Stored index rows, the
    in-flight ANN, near-dup bands and query probes all come from here,
    so a query lands in the bucket its twins were written to."""
    weights = 1 << np.arange(num_planes, dtype=np.int64)
    out = np.empty((mat.shape[0], num_bands), dtype=np.int32)
    for t in range(num_bands):
        planes = np.random.default_rng(seed + t).standard_normal(
            (dim, num_planes))
        out[:, t] = ((mat @ planes) >= 0) @ weights
    return out


def _with_int_column(df: DataFrame, vec_col: str, out_col: str,
                     rule) -> DataFrame:
    """``df`` plus an int ``out_col`` = ``rule`` of each Arrow batch's
    float64 n × dim vector matrix; narrow stage."""
    schema = T.StructType(df.schema.fields
                          + [T.StructField(out_col, T.IntegerType())])
    cols = df.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_col].to_list()).astype(np.float64)
            pdf = pdf[cols].copy()
            pdf[out_col] = rule(mat)
            yield pdf

    return df.mapInPandas(run, schema=schema)


def lsh_bucket_ids(df: DataFrame, dim: int, num_planes: int = 8,
                   seed: int = 7, vec_col: str = "embedding",
                   out_col: str = "bucket") -> DataFrame:
    """Random-hyperplane LSH bucket per row (``hyperplane_buckets``),
    one NumPy matmul per Arrow batch."""
    return _with_int_column(
        df, vec_col, out_col,
        lambda mat: hyperplane_buckets(mat, dim, num_planes, seed)[:, 0])


def ann_cosine_topk(df: DataFrame, query_vec: Sequence[float], k: int = 10,
                    dim: int | None = None, num_planes: int = 8,
                    seed: int = 7, vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """ANN: probe only the query's LSH bucket (hamming-0 probe). At 100 TB
    the bucket column is a partition key of the stored index, turning this
    into partition pruning; here it's a pushable equality filter."""
    q = np.asarray(query_vec, dtype=np.float64)
    dim = dim or len(q)
    qbucket = int(hyperplane_buckets(q[None, :], dim, num_planes, seed)[0, 0])
    bucketed = lsh_bucket_ids(df, dim, num_planes, seed, vec_col)
    return cosine_topk(bucketed.filter(F.col("bucket") == qbucket),
                       query_vec, k, vec_col, id_col)


def ivf_centroids(df: DataFrame, k_clusters: int = 16, seed: int = 7,
                  vec_col: str = "embedding",
                  id_col: str = "vec_id") -> np.ndarray:
    """Deterministic coarse quantizer: the k corpus vectors with the
    smallest xxhash64(id ⊕ seed) become centroids (a seeded reservoir —
    kmeans-quality isn't needed for the partition-pruning effect, and
    hash-sampling keeps the index build one cheap TakeOrdered instead of
    an iterative job). Unit-normed so assignment = cosine argmax."""
    rows = (df.select(id_col, vec_col)
            .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
            .limit(k_clusters).collect())
    mat = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    return unit_norm_rows(mat)


def ivf_assign(df: DataFrame, centroids: np.ndarray,
               vec_col: str = "embedding",
               out_col: str = "cluster") -> DataFrame:
    """Nearest-centroid (cosine) cluster id per row — NumPy matmul per
    Arrow batch against the broadcast centroid matrix. At 100 TB the
    cluster id is the stored index's partition key (probe = partition
    pruning), exactly like the LSH bucket column."""
    return _with_int_column(
        df, vec_col, out_col,
        lambda mat: np.argmax(unit_norm_rows(mat) @ centroids.T,
                              axis=1).astype(np.int32))


def ivf_probe(centroids: np.ndarray, query_vec: Sequence[float],
              n_probe: int) -> List[int]:
    """The IVF probe rule: the ``n_probe`` unit centroids with the
    highest cosine to the (unit-normed) query, best first, ties by
    centroid index."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)
    q = q / qn if qn else q
    return np.argsort(-(centroids @ q), kind="stable")[:n_probe].tolist()


def ivf_cosine_topk(df: DataFrame, query_vec: Sequence[float], k: int = 10,
                    k_clusters: int = 16, n_probe: int = 4, seed: int = 7,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """IVF ANN: assign corpus to centroid clusters, probe only the
    ``n_probe`` clusters nearest the query, brute-force within.
    ``n_probe == k_clusters`` degrades to exact search (tested)."""
    cents = ivf_centroids(df, k_clusters, seed, vec_col, id_col)
    probe = ivf_probe(cents, query_vec, n_probe)
    assigned = ivf_assign(df, cents, vec_col)
    return cosine_topk(assigned.filter(F.col("cluster").isin(probe)),
                       query_vec, k, vec_col, id_col)


def coord_sign_bucket(vec_col: str = "embedding", num_planes: int = 4):
    """Coordinate-sign LSH bucket (axis-aligned hyperplanes): bit j is
    sign(v[j]) — pure Catalyst, so a SQL oracle reproduces it verbatim.
    A degenerate but valid member of the hyperplane-LSH family; the
    Gaussian-plane variant (``lsh_bucket_ids``) is the production path."""
    if num_planes < 1:
        # fail fast: a 0-plane bucket would silently put the whole
        # corpus in one partition of the "pruned" ANN index
        raise ValueError("num_planes must be >= 1 (cosine_near_dup_pairs"
                         " accepts num_planes=0 for exact full-pairs)")
    bits = [F.when(F.col(vec_col).getItem(j) >= 0, F.lit(1 << j))
            .otherwise(F.lit(0)) for j in range(num_planes)]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def seq_gram_matrix(mat: np.ndarray,
                    other: np.ndarray | None = None) -> np.ndarray:
    """All-pairs dot products with STRICTLY SEQUENTIAL per-pair
    accumulation order: Σ_d x_d·y_d added in ascending d, exactly the
    fold order of ``F.aggregate`` / DuckDB ``list_dot_product`` — so each
    entry is bit-identical to the SQL engines' scalar loop, unlike a BLAS
    ``mat @ mat.T`` (pairwise/SIMD summation). Vectorized across pairs as
    D rank-1 updates; O(n·m·D) like the BLAS call, just without its
    blocking. With ``other``, the cross-gram mat × otherᵀ — the same
    floats as the self-gram's corresponding entries (scalar ``x_d·y_d``
    is commutative and the d-order is fixed), which is what lets the
    block-paired kernel below stay bit-exact to the unsplit one."""
    if other is None:
        other = mat
    acc = np.zeros((mat.shape[0], other.shape[0]), dtype=np.float64)
    for d in range(mat.shape[1]):
        acc += mat[:, d][:, None] * other[:, d][None, :]
    return acc


def _seq_sq_norms(mat: np.ndarray) -> np.ndarray:
    """Per-row Σ_d x_d² in ascending-d order — bit-identical to the
    diagonal of ``seq_gram_matrix(mat)`` without the O(n²) work."""
    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for d in range(mat.shape[1]):
        acc += mat[:, d] * mat[:, d]
    return acc


def _seq_cosines(x: np.ndarray, y: np.ndarray | None = None) -> np.ndarray:
    """Cosines of x's rows against y's (x's own when ``y`` is None) from
    the sequential ``seq_gram_matrix`` fold — bit-identical to the SQL
    engines'; a zero row scores NaN, so it never clears a threshold."""
    nx = np.sqrt(_seq_sq_norms(x))
    ny = nx if y is None else np.sqrt(_seq_sq_norms(y))
    gram = seq_gram_matrix(x, y)
    with np.errstate(divide="ignore", invalid="ignore"):
        return gram / (nx[:, None] * ny[None, :])


def _unit_cosines(x: np.ndarray, y: np.ndarray | None = None) -> np.ndarray:
    """Cosines of x's rows against y's (x's own when ``y`` is None) as
    one BLAS GEMM of unit rows; a zero row scores 0."""
    ux = unit_norm_rows(x)
    return ux @ (ux if y is None else unit_norm_rows(y)).T


def _block_paired_pairs(rows: DataFrame, keys: List[str], threshold: float,
                        cosine, id_col: str, vec_col: str,
                        max_bucket: int) -> DataFrame:
    """The block-paired cosine join: (*keys, a, b, cosine) for every
    pair of rows sharing their ``keys`` values (an LSH bucket) with
    ``cosine(x, y)`` ≥ threshold, a < b in Spark's ordering of
    ``id_col``'s type.

    A hot bucket is never one quadratic task: its rows are hash-split
    into ``ceil(|bucket| / max_bucket)`` blocks and every block PAIR is
    its own ``applyInPandas`` group (a row is replicated once per
    block), so per-task memory is ≤ 2·max_bucket rows and the
    O(|bucket|²) work spreads over nb² tasks. Block pairing is
    exhaustive within the bucket, and each group sorts its rows by id,
    so the pair set does not depend on ``max_bucket``; with the
    sequential fold neither does any cosine (the cross-gram reuses the
    self-gram's floats), which is why the SQL oracle needs no
    max_bucket awareness.

    If ``rows`` has a boolean ``_new`` column, only pairs touching a new
    row are emitted, and block pairs where NEITHER block holds a new row
    are pruned before the shuffle (a per-(bucket, block) any-new
    aggregate, broadcast back): an epoch against a large history costs
    O(new × history) candidate work, never O(history²)."""
    with_new = "_new" in rows.columns
    counts = rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
    sized = (rows.join(F.broadcast(counts), keys)
             .withColumn("nb", F.ceil(F.col("cnt") / max_bucket)
                         .cast("int"))
             .withColumn("blk", F.pmod(F.xxhash64(F.col(id_col)),
                                       F.col("nb")).cast("int")))
    cols = [id_col, vec_col, *keys, "blk"] + (["_new"] if with_new else [])
    rep = (sized.select(
        *cols,
        F.explode(F.sequence(F.lit(0), F.col("nb") - 1)).alias("j"))
        .withColumn("lo", F.least("blk", "j"))
        .withColumn("hi", F.greatest("blk", "j")))
    if with_new:
        has_new = (sized.groupBy(*keys, "blk")
                   .agg(F.max(F.col("_new").cast("int")).alias("_hn")))
        rep = (rep
               .join(F.broadcast(has_new), [*keys, "blk"])
               .join(F.broadcast(has_new.select(
                   *keys, F.col("blk").alias("j"),
                   F.col("_hn").alias("_hnj"))), [*keys, "j"])
               .filter((F.col("_hn") == 1) | (F.col("_hnj") == 1))
               .drop("_hn", "_hnj"))

    id_type = rows.schema[id_col].dataType
    schema = T.StructType(
        [T.StructField(k, rows.schema[k].dataType) for k in keys] + [
            T.StructField("a", id_type),
            T.StructField("b", id_type),
            T.StructField("cosine", T.DoubleType()),
        ])
    empty = pd.DataFrame(columns=schema.fieldNames())
    nk = len(keys)

    def pairs(key, pdf):
        # untyped on purpose: PySpark's hint inference can't type the
        # (key, pdf) grouped-map form and warns on partial annotations
        if len(pdf) < 2:
            return empty
        lo_blk, hi_blk = key[nk], key[nk + 1]
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        mat = np.stack(pdf[vec_col].to_numpy()[order]).astype(np.float64)
        new = pdf["_new"].to_numpy()[order].astype(bool) if with_new else None
        if lo_blk == hi_blk:
            iu = np.triu_indices(len(ids), k=1)
            vals = cosine(mat)[iu]
            mask = vals >= threshold
            if new is not None:  # pair must touch a new row
                mask &= new[iu[0]] | new[iu[1]]
            a, b = ids[iu[0][mask]], ids[iu[1][mask]]
            cos = vals[mask]
        else:
            left = pdf["blk"].to_numpy()[order] == lo_blk
            li, ri = np.flatnonzero(left), np.flatnonzero(~left)
            if len(li) == 0 or len(ri) == 0:
                return empty
            sims = cosine(mat[li], mat[ri])
            hit = sims >= threshold
            if new is not None:
                hit &= new[li][:, None] | new[ri][None, :]
            ai, bi = np.nonzero(hit)
            x, y = ids[li[ai]], ids[ri[bi]]
            # selects, not np.minimum/maximum: those have no loop for
            # object (string) arrays
            lt = x < y
            a, b = np.where(lt, x, y), np.where(lt, y, x)
            cos = sims[ai, bi]
        return pd.DataFrame({**dict(zip(keys, key[:nk])),
                             "a": a, "b": b, "cosine": cos})

    return rep.groupBy(*keys, "lo", "hi").applyInPandas(pairs, schema=schema)


def cosine_near_dup_pairs(df: DataFrame, threshold: float = 0.95,
                          num_planes: int = 4,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id",
                          max_bucket: int = 4096,
                          new_col: str | None = None) -> DataFrame:
    """Near-duplicate pairs (a, b, cosine), a < b, by cosine ≥ threshold
    within coordinate-sign LSH buckets — the oracle-checkable twin of
    ``embedding_near_dups``.

    Ids may be any orderable Spark type — integers or strings (entity
    resolution keys pairs by the term string itself); ``a``/``b`` take
    ``id_col``'s type, and ``a < b`` is Spark's ordering (code-point for
    strings, which Python's ``str`` comparison shares).

    Bucket bits are Catalyst; the pair kernel runs per group in NumPy
    using ``seq_gram_matrix``, whose per-pair accumulation order equals
    the SQL fold — every cosine matches DuckDB bit for bit at NumPy
    speed (the per-pair Catalyst higher-order-function fold is
    interpreted and ~5× slower). Cosines are rounded HALF_UP to 6 dp,
    as the SQL oracle's ROUND does.

    Scale: ``max_bucket`` caps the rows of one pair task without
    changing the output (``_block_paired_pairs``).

    ``new_col`` (incremental mode, the C41 composition): a boolean
    column marking this epoch's NEW rows. Only pairs touching at least
    one new row are emitted — exactly the edge delta an incremental
    component store needs — and block pairs with no new row are pruned
    before the shuffle."""
    return _near_dup_pairs_by_bucket(
        df, threshold, num_planes, vec_col, id_col, max_bucket,
        new_col).select("a", "b", "cosine")


def _near_dup_pairs_by_bucket(df: DataFrame, threshold: float,
                              num_planes: int, vec_col: str, id_col: str,
                              max_bucket: int,
                              new_col: str | None) -> DataFrame:
    """``cosine_near_dup_pairs`` plus each pair's LSH ``bucket``. A
    bucket is a function of the vector, so both ends of every pair — and
    hence every connected component of the pair graph — live in one
    bucket: a per-bucket closure is the global closure."""
    bucket = (F.lit(0) if num_planes < 1   # explicit exact full-pairs
              else coord_sign_bucket(vec_col, num_planes))
    keep = [F.col(id_col), F.col(vec_col), bucket.alias("bucket")]
    if new_col is not None:
        keep.append(F.col(new_col).cast("boolean").alias("_new"))
    raw = _block_paired_pairs(df.select(*keep), ["bucket"], threshold,
                              _seq_cosines, id_col, vec_col, max_bucket)
    # HALF_UP rounding JVM-side, matching the SQL oracle's ROUND
    return raw.select("bucket", "a", "b",
                      F.round("cosine", 6).alias("cosine"))


def ivf_cosine_topk_md5(df: DataFrame, query_vec: Sequence[float],
                        k: int = 10, k_clusters: int = 16, n_probe: int = 4,
                        seed: int = 7, vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Oracle-checkable IVF ANN twin of ``ivf_cosine_topk``: centroids are
    the ``k_clusters`` corpus rows with the smallest md5(seed:id) hex
    (SQL-reproducible sampling), assignment is a Catalyst greatest-of-
    structs over per-centroid cosines (sequential-double fold, DuckDB
    struct-max tie semantics: score then cluster id), probing keeps the
    ``n_probe`` centroids nearest the query. No NumPy anywhere, so every
    float matches the SQL oracle bit for bit."""
    import math

    cent_rows = (df.select(id_col, vec_col)
                 .orderBy(F.md5(F.concat(F.lit(f"{seed}:"),
                                         F.col(id_col).cast("string"))
                                .cast("binary")), F.col(id_col))
                 .limit(k_clusters).collect())
    q = [float(x) for x in query_vec]
    dqq = 0.0
    for x in q:
        dqq += x * x
    qn = math.sqrt(dqq)

    def _py_cos(vec) -> float:
        # plain sequential loop == the SQL fold order, so probe selection
        # agrees with the oracle exactly
        d = 0.0
        dcc = 0.0
        for x, y in zip(vec, q):
            d += float(x) * y
        for x in vec:
            dcc += float(x) * float(x)
        return d / (math.sqrt(dcc) * qn)

    order = sorted(range(len(cent_rows)),
                   key=lambda j: (-_py_cos(cent_rows[j][vec_col]), j))
    probe = sorted(order[:n_probe])

    structs = []
    v = F.col(vec_col)
    nv = F.sqrt(_dot(v, v))
    for j, row in enumerate(cent_rows):
        c = [float(x) for x in row[vec_col]]
        clit = F.array(*[F.lit(x) for x in c])
        dcc = 0.0
        for x in c:
            dcc += x * x
        cos_j = _dot(v, clit) / (nv * F.lit(math.sqrt(dcc)))
        structs.append(F.struct(cos_j.alias("c"), F.lit(j).alias("cid")))
    best = F.greatest(*structs) if len(structs) > 1 else structs[0]
    assigned = df.withColumn("cluster", best["cid"])
    return cosine_topk(assigned.filter(F.col("cluster").isin(probe)),
                       query_vec, k, vec_col, id_col)


def _band_buckets(df: DataFrame, dim: int, num_planes: int, seed: int,
                  num_bands: int, vec_col: str, id_col: str) -> DataFrame:
    """One narrow pass assigning every row its ``hyperplane_buckets``
    bucket in each of ``num_bands`` independent plane sets (band 0 is
    ``lsh_bucket_ids``'s bucket). Rows are replicated once per band:
    (id, vec, band, bucket)."""
    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField(vec_col, T.ArrayType(T.FloatType())),
        T.StructField("band", T.IntegerType()),
        T.StructField("bucket", T.IntegerType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_col].to_list()).astype(np.float64)
            n = len(pdf)
            yield pd.DataFrame({
                id_col: np.repeat(pdf[id_col].to_numpy(), num_bands),
                vec_col: np.repeat(pdf[vec_col].to_numpy(), num_bands),
                "band": np.tile(np.arange(num_bands, dtype=np.int32), n),
                "bucket": hyperplane_buckets(mat, dim, num_planes, seed,
                                             num_bands).reshape(-1),
            })

    return df.select(id_col, vec_col).mapInPandas(run, schema=schema)


def embedding_near_dups(df: DataFrame, threshold: float = 0.95,
                        dim: int = 64, num_planes: int = 12, seed: int = 7,
                        vec_col: str = "embedding", id_col: str = "vec_id",
                        num_bands: int = 1,
                        max_bucket: int = 4096) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold, candidate-
    limited to LSH buckets.

    Recall: a pair split across buckets in one plane set is a candidate
    if it collides in ANY of ``num_bands`` independent plane sets (band-
    OR, the MinHash-LSH banding trick) — miss probability decays as
    ``(1 - p^planes)^bands``.

    Scale: ``max_bucket`` caps the rows of one pair task without
    changing the pair set (``_block_paired_pairs``)."""
    bucketed = _band_buckets(df, dim, num_planes, seed, num_bands,
                             vec_col, id_col)
    raw = _block_paired_pairs(bucketed, ["band", "bucket"], threshold,
                              _unit_cosines, id_col, vec_col,
                              max_bucket).select("a", "b", "cosine")
    if num_bands == 1:
        return raw
    # same pair found in several bands: cosine is a pure function of the
    # two vectors, so max == the single deterministic value
    return raw.groupBy("a", "b").agg(F.max("cosine").alias("cosine"))
