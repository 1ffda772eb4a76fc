"""KG-embedding training prep: deterministic negative sampling and
leakage-free fact splits.

Training a KG embedding (TransE/DistMult family) over the constructed
graph needs, per positive fact, k corrupted facts (object replaced by a
pseudo-random entity) and a train/valid/test split that puts every
occurrence of a fact on the same side. Both must be DETERMINISTIC —
re-running the pipeline must yield byte-identical training data (the
same reproducibility stance as the repo's stratified sampling) — and
both must be pure Catalyst: corruption is a hash + modulo + one join
against an indexed entity pool, never an RNG in Python.

Hash twins, same pattern as dedup's xxhash64/md5 pairs:
``negative_samples`` uses JVM ``xxhash64`` (production path);
``negative_samples_md5`` derives a 48-bit integer from md5 hex chars
17..28 (``conv(substr(md5(k),17,12),16,10)``), which DuckDB reproduces
as ``('0x'||substr(md5(k),17,12))::BIGINT`` — so the whole sampler is
SQL-checkable end to end.

``dense_entity_index`` is the scale-safe global rank (0..n-1 in sorted
order) behind the pool: range-repartition + sort-within-partitions,
then per-partition counts (P driver-side integers) become offsets added
to the local position — two jobs, no single-partition window, exactly
the ``RDD.zipWithIndex`` plan expressed on DataFrames with a
deterministic (sorted) order.

False negatives (a "corrupted" fact that happens to be true) are
FLAGGED, not silently dropped: the standard filtered-setting join back
against the positive set, so the trainer can decide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _md5_48(col):
    """48-bit int from md5 hex chars 17..28; DuckDB twin:
    ('0x'||substr(md5(x),17,12))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 17, 12), 16, 10).cast("long")


def dense_entity_index(entities: DataFrame, col: str = "entity",
                       num_partitions: int | None = None) -> DataFrame:
    """(entity, idx) with idx = 0-based rank in sorted order.

    Scale-safe: no global window. Range-partition on ``col``, sort
    within partitions, count each partition (P integers to the driver),
    convert counts to offsets, add the running local position per
    partition in one mapInPandas pass.
    """
    spark = entities.sparkSession
    P = num_partitions or spark.sparkContext.defaultParallelism
    # persist the distinct DOMAIN first: repartitionByRange runs a
    # separate range-bound SAMPLING job over its child, which would
    # otherwise recompute the whole upstream distinct (a second scan of
    # the fact table when the pool is drawn from the triples) — and its
    # sample must see the same rows as the fill. Then persist the
    # range-partitioned result BEFORE the counts collect: the counts
    # job and the index job MUST see the same partitioning — the
    # standard zipWithIndex mitigation.
    dom = entities.select(F.col(col).alias("entity")).distinct().persist()
    dom.count()
    s = (dom.repartitionByRange(P, "entity")
         .sortWithinPartitions("entity")
         .withColumn("_pid", F.spark_partition_id())
         .persist())
    counts = {r["_pid"]: r["cnt"] for r in
              s.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    schema = T.StructType([T.StructField("entity", T.StringType()),
                           T.StructField("idx", T.LongType())])

    def run(batches):
        pos = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pos is None:
                pos = offsets[int(pdf["_pid"].iloc[0])]
            out = pdf[["entity"]].copy()
            out["idx"] = range(pos, pos + len(pdf))
            pos += len(pdf)
            yield out

    # materialize the (vertex-cardinality) index now so the sorted
    # intermediate can be released; the returned cache is reused by
    # count() and the pool join downstream — callers running many
    # samplers may unpersist() it when done
    out = s.mapInPandas(run, schema=schema).persist()
    out.count()
    # release the domain only now: if ``s`` is evicted before the fill,
    # its recompute re-samples the range bounds, and only the cached
    # ``dom`` guarantees the sample (hence the offsets) is unchanged
    s.unpersist()
    dom.unpersist()
    return out


def _negatives(triples: DataFrame, k: int, idx_fn, pool: DataFrame
               ) -> DataFrame:
    if k < 1:
        raise ValueError("k must be >= 1")
    facts = triples.select("subj", "pred", "obj").distinct()
    n = pool.count()  # pool arrives persisted from dense_entity_index
    if n == 0:
        raise ValueError("empty entity pool")
    cand = (facts
            .select("*", F.posexplode(F.array(*[F.lit(j)
                                                for j in range(k)]))
                    .alias("neg_j", "_j"))
            .drop("_j"))
    key = F.concat_ws("|", "subj", "pred", "obj",
                      F.col("neg_j").cast("string"))
    cand = cand.withColumn("idx", idx_fn(key, n))
    out = (cand.join(F.broadcast(pool) if n <= 1_000_000 else pool,
                     "idx")
           .select("subj", "pred", "obj", "neg_j",
                   F.col("entity").alias("neg_obj")))
    # flag corrupted facts that are actually true (filtered setting)
    positives = facts.select("subj", "pred",
                             F.col("obj").alias("neg_obj"),
                             F.lit(True).alias("is_false_neg"))
    return (out.join(positives, ["subj", "pred", "neg_obj"], "left")
            .select("subj", "pred", "obj", "neg_j", "neg_obj",
                    F.coalesce("is_false_neg", F.lit(False))
                    .alias("is_false_neg")))


def negative_samples(triples: DataFrame, k: int = 2,
                     entity_pool: DataFrame | None = None) -> DataFrame:
    """Production path: xxhash64 corruption index. One distinct, one
    (broadcastable) pool join, one flag join — all fact-cardinality."""
    pool = dense_entity_index(
        entity_pool if entity_pool is not None
        else triples.select(F.col("obj").alias("entity")))
    # pmod, not abs(hash) % n: abs(Long.MIN_VALUE) is still negative
    return _negatives(triples, k,
                      lambda key, n: F.pmod(F.xxhash64(key), F.lit(n)),
                      pool)


def negative_samples_md5(triples: DataFrame, k: int = 2,
                         entity_pool: DataFrame | None = None
                         ) -> DataFrame:
    """Oracle twin: 48-bit md5-derived index (always non-negative), SQL
    formula in the module docstring."""
    pool = dense_entity_index(
        entity_pool if entity_pool is not None
        else triples.select(F.col("obj").alias("entity")))
    return _negatives(triples, k,
                      lambda key, n: _md5_48(key) % F.lit(n), pool)


def split_facts(triples: DataFrame,
                train: int = 80, valid: int = 10) -> DataFrame:
    """Leakage-free deterministic split: every occurrence of a fact
    lands on the same side because the bucket is a hash of the FACT,
    not the row. md5-derived bucket so the assignment is SQL-checkable
    (same 48-bit formula). Returns distinct facts + split label."""
    if not (0 < train and 0 <= valid and train + valid <= 100):
        raise ValueError("need 0 < train, 0 <= valid, train+valid <= 100")
    facts = triples.select("subj", "pred", "obj").distinct()
    bucket = _md5_48(
        F.concat_ws("|", F.lit("split"), "subj", "pred", "obj")) % 100
    return facts.select(
        "*",
        F.when(bucket < train, "train")
        .when(bucket < train + valid, "valid")
        .otherwise("test").alias("split"))
