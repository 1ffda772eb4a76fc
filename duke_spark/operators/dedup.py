"""Deduplication operators for large-scale training-data pipelines.

All hot paths are JVM-side built-ins (split/transform/slice/md5/xxhash64 —
whole-stage codegen) except the batched MinHash matrix, which is NumPy
inside mapInPandas. Shuffle shape notes per operator.

  * exact_dedup        — hash-groupBy on content key; one shuffle.
  * shingles           — word n-grams via transform/slice (no explode until
                         the consumer needs it).
  * minhash_signatures — k independent xxhash64 perms, min per perm;
                         vectorized NumPy per Arrow batch; narrow stage.
  * signature_bands    — the band rule: xxhash64 per signature slice.
  * lsh_candidate_pairs— band the signature, groupBy band-hash; candidate
                         pairs only within buckets (classic MinHash-LSH).
  * ngram_jaccard_pairs— exact Jaccard via explode + self-join on shingle;
                         SQL-expressible (oracle-checked in the driver
                         contract); use for verification / small τ-sweeps,
                         LSH for the 100 TB path.
  * simhash64          — 64-bit SimHash from JVM-side xxhash64 word
                         hashes; Hamming bucket join for near-dups.
  * simhash64_md5 / minhash_lsh_pairs_md5 — md5-hash twins whose output a
                         plain-SQL oracle reproduces exactly (driver
                         contract); production paths stay xxhash64.
  * near_dup_filter    — LSH → inline-Jaccard verify → greedy min-id or
                         connected-components survivor policy (the
                         closure is ``graph.connected_components``).
"""

from __future__ import annotations

from typing import Iterator, List

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duke_spark.operators.graph import connected_components


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Survivors of exact-content dedup: min id per distinct content.
    One hash-aggregate shuffle; AQE coalesces output partitions."""
    return (df.groupBy(F.col(text_col))
            .agg(F.min(id_col).alias(id_col),
                 F.count(F.lit(1)).alias("n_copies"))
            .select(id_col, text_col, "n_copies"))


def with_shingles(df: DataFrame, text_col: str = "text", n: int = 3,
                  out_col: str = "shingles") -> DataFrame:
    """Word n-gram shingles as array<string>; degenerate docs (<n words)
    get one whole-text shingle. Pure Catalyst (split/sequence/transform)."""
    words = F.split(F.col(text_col), " ")
    n_sh = F.greatest(F.size(words) - (n - 1), F.lit(1))
    shingles = F.transform(
        F.sequence(F.lit(1), n_sh),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)))
    return df.withColumn(out_col, shingles)


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 64,
                       shingle_len: int = 3) -> DataFrame:
    """MinHash signature per doc: sig[i] = min over shingles of
    mix(seed_i, h(shingle)).

    Split of labor: shingle string hashing runs JVM-side (``xxhash64``
    inside whole-stage codegen — Python never touches the strings); the
    k-seed multiply-xor mixing + min-reduction is one flattened NumPy pass
    per Arrow batch (``minimum.reduceat`` over doc offsets — no per-doc
    Python loop). Narrow stage, no shuffle."""
    base = (with_shingles(df.select(id_col, text_col), text_col,
                          n=shingle_len)
            .select(id_col,
                    F.transform("shingles",
                                lambda s: F.xxhash64(s)).alias("hashes")))
    seeds = np.arange(1, num_hashes + 1, dtype=np.uint64) * \
        np.uint64(0x9E3779B97F4A7C15)

    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("signature", T.ArrayType(T.LongType())),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lens = pdf["hashes"].map(len).to_numpy(dtype=np.int64)
            keep = lens > 0
            if not keep.any():
                continue
            pdf, lens = pdf[keep], lens[keep]
            flat = np.concatenate(pdf["hashes"].to_list()).astype(np.uint64)
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            sigs = np.empty((len(seeds), len(lens)), dtype=np.uint64)
            for i, seed in enumerate(seeds):
                mixed = flat * seed
                mixed ^= mixed >> np.uint64(33)
                sigs[i] = np.minimum.reduceat(mixed, starts)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "signature": list(sigs.T.view(np.int64)),
            })

    return base.mapInPandas(run, schema=schema)


def signature_bands(signatures: DataFrame, bands: int,
                    id_col: str = "doc_id") -> DataFrame:
    """The MinHash band rule: one (id, band_idx, band_hash) row per
    band, band_hash = xxhash64 of the band's signature slice, seeded by
    the band index. Batch candidate pairs and the streaming near-dup
    state both band through here, so they always agree."""
    rows_per_band = (F.size("signature") / F.lit(bands)).cast("int")
    return signatures.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.slice(F.col("signature"),
                            (b * rows_per_band + F.lit(1)).cast("int"),
                            rows_per_band).cast("string"),
                    b))
        ).alias("band_idx", "band_hash"))


def lsh_candidate_pairs(signatures: DataFrame, id_col: str = "doc_id",
                        bands: int = 16) -> DataFrame:
    """Band the signature; docs sharing any band bucket are candidates.
    Shuffle keys are (band_idx, band_hash) — uniform by construction, so
    no skew salting needed. Returns distinct (a, b) with a < b."""
    banded = signature_bands(signatures, bands, id_col)
    left = banded.alias("l")
    right = banded.alias("r")
    return (left.join(right,
                      (F.col("l.band_idx") == F.col("r.band_idx")) &
                      (F.col("l.band_hash") == F.col("r.band_hash")) &
                      (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
            .select(F.col(f"l.{id_col}").alias("a"),
                    F.col(f"r.{id_col}").alias("b"))
            .distinct())


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.5,
                        max_shingle_df: int | None = 1000,
                        allow_quadratic: bool = False,
                        max_docs: int = 100_000) -> DataFrame:
    """n-gram Jaccard similarity for all pairs above threshold.
    explode distinct shingles → self-join on shingle (AQE skew-join covers
    hot shingles) → |A∩B| / (|A|+|B|−|A∩B|). Use LSH first at scale.

    This operator is verification-grade, NOT the 100 TB path: even with
    the shingle-df cap, duplicate-heavy corpora make the self-join grow
    quadratically within buckets. Inputs above ``max_docs`` rows raise
    unless ``allow_quadratic=True`` is passed explicitly, with
    :func:`lsh_candidate_pairs` as the pointed-to scale path. The guard
    runs one eager ``count()`` on the (pruned, 2-column) input — a cheap
    scan relative to the join it protects — and is skipped entirely when
    ``allow_quadratic=True``, keeping the scale-path call fully lazy.

    ``max_shingle_df`` is the detonation guard: a stop-shingle ("of the
    and") appearing in d documents contributes d² join rows, so shingles
    with document frequency above the cap are dropped from BOTH the
    intersection and the sizes (Jaccard over non-ubiquitous shingles — a
    well-defined approximation; ubiquitous shingles carry no near-dup
    signal anyway). ``None`` disables the cap for exact verification on
    corpora known to be clean."""
    if not allow_quadratic:
        n_docs = df.select(id_col).count()
        if n_docs > max_docs:
            raise ValueError(
                f"ngram_jaccard_pairs: input has {n_docs} docs > "
                f"max_docs={max_docs}; this operator is quadratic within "
                "shingle buckets and is meant for verification at small "
                "scale. Use lsh_candidate_pairs (+ near_dup_filter) for "
                "the at-scale path, or pass allow_quadratic=True to "
                "override deliberately.")
    sh = (with_shingles(df.select(id_col, text_col), text_col, n=n)
          .select(id_col, F.explode(F.array_distinct("shingles"))
                  .alias("shingle")))
    if max_shingle_df is not None:
        rare = (sh.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("df_cnt"))
                .filter(F.col("df_cnt") <= max_shingle_df)
                .select("shingle"))
        sh = sh.join(rare, "shingle")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    # carry each doc's shingle count on the join rows: (a) the classic
    # size filter prunes pairs inside the join — J(A,B) ≤ min/max, so a
    # size ratio below the threshold can never qualify (semantics
    # preserved exactly); (b) the per-pair sizes ride the groupBy keys,
    # removing the two post-aggregation joins the old plan needed
    sh2 = sh.join(sizes, id_col)
    l, r = sh2.alias("l"), sh2.alias("r")
    ratio_ok = (F.col("l.n_sh") >= threshold * F.col("r.n_sh")) & \
               (F.col("r.n_sh") >= threshold * F.col("l.n_sh"))
    common = (l.join(r, (F.col("l.shingle") == F.col("r.shingle")) &
                     (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")) &
                     ratio_ok)
              .groupBy(F.col(f"l.{id_col}").alias("a"),
                       F.col(f"r.{id_col}").alias("b"),
                       F.col("l.n_sh").alias("na"),
                       F.col("r.n_sh").alias("nb"))
              .agg(F.count(F.lit(1)).alias("common")))
    return (common
            .withColumn("jaccard",
                        F.col("common") /
                        (F.col("na") + F.col("nb") - F.col("common")))
            .filter(F.col("jaccard") >= threshold)
            .select("a", "b", F.round("jaccard", 6).alias("jaccard")))


def near_dup_filter(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", num_hashes: int = 64,
                    bands: int = 16, shingle_len: int = 3,
                    jaccard_threshold: float = 0.8,
                    strategy: str = "greedy") -> DataFrame:
    """Drop near-duplicates: MinHash+LSH candidates, exact-Jaccard
    verified, then one of two survivor policies:

    * ``greedy`` (default): for every verified pair a<b, drop b.
      Deterministic and transitive-safe for true duplicate *clusters*
      (every member pairs with the cluster's min id at high τ); a doc
      that only pairs as the SMALLER id of its chain survives alongside
      the chain's true minimum.
    * ``components``: connected components over the verified pair graph,
      keep only each component's min id — the chain-correct policy, at
      the cost of closing the whole verified pair list in one Python
      worker (``graph.connected_components``).

    Shuffle shape: signatures are narrow; the LSH band join keys are
    uniform; the final anti-join is a broadcast when the drop set is small
    (AQE decides). Returns the surviving rows of ``df`` unchanged."""
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_len)
    cands = lsh_candidate_pairs(sigs, id_col, bands)
    docs = df.select(F.col(id_col), F.col(text_col))
    verified = (cands
                .join(docs.select(F.col(id_col).alias("a"),
                                  F.col(text_col).alias("text_a")), "a")
                .join(docs.select(F.col(id_col).alias("b"),
                                  F.col(text_col).alias("text_b")), "b"))
    # exact Jaccard on both texts inline (array fns, no extra joins)
    words_a = F.split(F.col("text_a"), " ")
    words_b = F.split(F.col("text_b"), " ")

    def _sh(words):
        n_sh = F.greatest(F.size(words) - (shingle_len - 1), F.lit(1))
        return F.array_distinct(F.transform(
            F.sequence(F.lit(1), n_sh),
            lambda i: F.concat_ws(" ", F.slice(words, i, shingle_len))))

    a_sh, b_sh = _sh(words_a), _sh(words_b)
    inter = F.size(F.array_intersect(a_sh, b_sh))
    union = F.size(a_sh) + F.size(b_sh) - inter
    dup_pairs = (verified
                 .withColumn("jaccard", inter / union)
                 .filter(F.col("jaccard") >= jaccard_threshold)
                 .select("a", "b"))
    if strategy == "components":
        comp = connected_components(dup_pairs)
        drops = (comp.filter(F.col("node") != F.col("comp"))
                 .select(F.col("node").alias(id_col)))
    elif strategy == "greedy":
        drops = dup_pairs.select(F.col("b").alias(id_col)).distinct()
    else:
        raise ValueError(f"unknown near-dup strategy {strategy!r}")
    return df.join(drops, id_col, "left_anti")


def simhash64(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash — per-bit majority vote over word hashes.

    Word hashing is JVM-side ``xxhash64`` (codegen); the bit unpack +
    majority vote is one flattened NumPy pass per Arrow batch
    (``add.reduceat`` over doc offsets) — no per-doc Python loop."""
    words_df = df.select(
        id_col,
        F.transform(F.split(F.col(text_col), " "),
                    lambda w: F.xxhash64(w)).alias("hashes"))
    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("simhash", T.LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lens = pdf["hashes"].map(len).to_numpy(dtype=np.int64)
            keep = lens > 0
            if not keep.any():
                continue
            pdf, lens = pdf[keep], lens[keep]
            flat = np.concatenate(pdf["hashes"].to_list()).astype(np.uint64)
            sigs = _majority_vote_sigs(flat, lens)
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(),
                                "simhash": sigs.view(np.int64)})

    return words_df.mapInPandas(run, schema=schema)


def _majority_vote_sigs(flat: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Per-doc 64-bit majority vote over concatenated word hashes.
    ``flat`` is uint64 word hashes for all docs back to back; ``lens`` the
    per-doc word counts (all > 0). One bit position at a time into a
    reused buffer: peak extra memory is O(total_words), not the
    O(total_words × 64) bit matrix a single vectorized unpack would
    materialize (multi-GB per Arrow batch on long documents)."""
    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    lens_u64 = lens.astype(np.uint64)
    sigs = np.zeros(len(lens), dtype=np.uint64)
    tmp = np.empty_like(flat)
    for b in range(64):
        np.right_shift(flat, np.uint64(b), out=tmp)
        np.bitwise_and(tmp, np.uint64(1), out=tmp)
        ones = np.add.reduceat(tmp, starts)
        vote = (ones * np.uint64(2) >= lens_u64).astype(np.uint64)
        sigs |= vote << np.uint64(b)
    return sigs


def simhash64_md5(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """SimHash with md5-derived word hashes — the oracle-checkable twin of
    ``simhash64``. Word hash = bytes [8:16] of the md5 digest read
    little-endian, exactly DuckDB's ``md5_number_lower``, so a plain-SQL
    oracle can recompute the signature bit for bit. md5 runs JVM-side
    (``unhex(md5(word))`` in whole-stage codegen); Python only reads the
    16-byte digests (no per-word hashing in Python)."""
    # ship only the digest's last 8 bytes (hex chars 17..32) through
    # Arrow — md5_number_lower needs nothing else and it halves transfer
    words_df = df.select(
        id_col,
        F.transform(F.split(F.col(text_col), " "),
                    lambda w: F.unhex(F.substring(F.md5(w.cast("binary")),
                                                  17, 16)))
        .alias("digests"))
    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("simhash", T.LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lens = pdf["digests"].map(len).to_numpy(dtype=np.int64)
            keep = lens > 0
            if not keep.any():
                continue
            pdf, lens = pdf[keep], lens[keep]
            exploded = pdf["digests"].explode().to_list()
            # 8-byte tails → uint64 little-endian == DuckDB
            # md5_number_lower (digest bytes [8:16], LE)
            flat = np.frombuffer(b"".join(exploded),
                                 dtype="<u8").astype(np.uint64)
            sigs = _majority_vote_sigs(flat, lens)
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(),
                                "simhash": sigs.view(np.int64)})

    return words_df.mapInPandas(run, schema=schema)


def minhash_lsh_pairs_md5(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", num_hashes: int = 32,
                          bands: int = 8,
                          shingle_len: int = 3) -> DataFrame:
    """Oracle-checkable MinHash+LSH candidate pairs.

    Same banding semantics as ``minhash_signatures`` +
    ``lsh_candidate_pairs`` (the xxhash64 production path), but every hash
    is plain SQL: sig[i] = MIN(md5("i:" ‖ shingle)) over the doc's
    distinct shingles (lexicographic min of the hex string == numeric min
    of the 128-bit value), and a band's key is the concat of its sig rows
    — no band re-hash, so DuckDB reproduces pairs exactly. All hashing is
    JVM-side codegen; ~k md5s per distinct shingle, so prefer the
    xxhash64 path when the output isn't being cross-checked."""
    r = num_hashes // bands
    assert bands * r == num_hashes
    sh = (with_shingles(df.select(id_col, text_col), text_col,
                        n=shingle_len)
          .select(id_col,
                  F.explode(F.array_distinct("shingles")).alias("s")))
    aggs = [F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s"))
                        .cast("binary"))).alias(f"h{i}")
            for i in range(num_hashes)]
    sigs = sh.groupBy(id_col).agg(*aggs)
    band_keys = [F.concat_ws("|", *[F.col(f"h{b * r + j}")
                                    for j in range(r)])
                 for b in range(bands)]
    banded = sigs.select(
        F.col(id_col),
        F.posexplode(F.array(*band_keys)).alias("band_idx", "band_key"))
    left, right = banded.alias("l"), banded.alias("r")
    return (left.join(right,
                      (F.col("l.band_idx") == F.col("r.band_idx")) &
                      (F.col("l.band_key") == F.col("r.band_key")) &
                      (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
            .select(F.col(f"l.{id_col}").alias("a"),
                    F.col(f"r.{id_col}").alias("b"))
            .distinct())
