"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction pipeline on the
sf0.001 documents table (mapped to the transcript shape). ``queries()``
exposes one callable per implemented operator from SURVEY.md §2 (Table A
relational ops on the TPC-H-ish tables; training-data ops on documents/
embeddings; KG ops as rows-only checks). ``oracle_sql()`` carries the
DuckDB-equivalent SQL.

Cross-engine float policy: aggregates over money/quantity columns go
through integer cents (exact, associative → partition-order independent,
and ~3× faster than DECIMAL in the agg loop) and divide back to DOUBLE at
the end — the data is 2-dp by construction, verified to <1e-9; ratios of
integers and index-ordered double dot products are bit-deterministic;
everything else is rounded on BOTH sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _t_par(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table scan + spread: the testdata tables are single parquet files
    (often one row-group), so a bare scan is one task; narrow-heavy
    consumers (hash kernels) repartition to the session's parallelism
    first. At 100 TB inputs arrive multi-file and this is a no-op choice."""
    return _t(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism)


def _dec(col: str):
    return F.col(col).cast("decimal(18,2)")


def _cents(col: str):
    """Exact-money fast path: 2-dp doubles → integer cents (long). Integer
    sums are associative (partition-order independent) like decimal but
    ~3× faster (no BigDecimal in the agg loop); divide back at the end.
    Sums stay < 2^53 at bench scales so the final double is exact."""
    return F.round(F.col(col) * 100).cast("long")


# --------------------------------------------------------------------------
# flagship: documents → pseudo-transcripts → KG triples → edges
# --------------------------------------------------------------------------

_IDX_CACHE: dict = {}


def _turn_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, turn_idx) map, persisted per session+sf_dir: several KG
    queries (triples, conv_topics, vertices) all start from
    ``_docs_as_transcripts``; without the cache each re-runs the same
    window exchange+sort. The map is two fixed-width columns — safe to
    cache at bench scale; at 10^12 rows you'd derive it at ingest
    instead (see _docs_as_transcripts)."""
    cache_key = (spark.sparkContext.applicationId, sf_dir)
    cached = _IDX_CACHE.get(cache_key)
    if cached is not None:
        return cached
    from pyspark.sql import Window
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    idx = (docs.select("doc_id", "source")
           .select("doc_id",
                   (F.row_number().over(w) - 1).cast("int")
                   .alias("turn_idx"))).persist()
    _IDX_CACHE[cache_key] = idx
    return idx


def _docs_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # turn_idx = rank of doc within its source. Computing the window over
    # the PRUNED (source, doc_id) projection and broadcast-joining the
    # tiny map back keeps the text column out of the window's
    # exchange+sort — the text payload stays in its scan partitions,
    # untouched, for every downstream KG query. (At 10^12 rows the map
    # outgrows a broadcast; there you bucket both sides by doc_id or
    # derive the index arithmetically at ingest.)
    idx = _turn_index(spark, sf_dir)
    roles = F.array(F.lit("user"), F.lit("assistant"), F.lit("tool"))
    return (docs.join(F.broadcast(idx), "doc_id")
        .select(
        F.col("source").alias("conv_id"),
        F.col("turn_idx"),
        F.col("text"),
        F.col("lang").alias("tool"))
        .withColumn("role", F.element_at(roles,
                                         F.col("turn_idx") % 3 + 1))
        .withColumn("tool", F.when(F.col("role") == "tool",
                                   F.col("tool")))
        .withColumn("ts", F.timestamp_seconds(
            F.lit(1767225600).cast("long") +
            F.col("turn_idx").cast("long") * 60))
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts"))


_CTX_CACHE: dict = {}


def _corpus_context(spark: SparkSession, sf_dir: str):
    """LinkContext with vocab drawn from the corpus itself (top words by
    (count desc, word) — deterministic) + fixture class names. Cached per
    sf_dir: the context is immutable derived state (the reference's
    load-model-once pattern, ``Duke/evaluate.py:78-86``)."""
    # applicationId is unique per SparkContext (unlike id(), which can be
    # recycled after GC), so a broadcast is never reused across contexts
    cache_key = (spark.sparkContext.applicationId, sf_dir)
    cached = _CTX_CACHE.get(cache_key)
    if cached is not None:
        return cached
    from duke_spark.fixtures.class_tree import mini_tree
    from duke_spark.fixtures.embedding import _word_vector
    from duke_spark.operators.linking import LinkContext

    docs = _t(spark, sf_dir, "documents")
    top = (docs.select(F.explode(F.split("text", " ")).alias("w"))
           .filter(F.col("w") != "")
           .groupBy("w").count()
           .orderBy(F.desc("count"), F.asc("w"))
           .limit(2000).collect())
    tree = mini_tree()
    class_words = sorted({w for c in tree for w in c.split(" ")})
    vocab, seen = [], set()
    for w in [r["w"] for r in top] + class_words:
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    import numpy as np
    matrix = np.stack([_word_vector(w, 32) for w in vocab])
    ctx = LinkContext(vocab, matrix, tree)
    bc = spark.sparkContext.broadcast(ctx)
    _CTX_CACHE[cache_key] = bc
    return bc


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: KG edges from the sf0.001 documents corpus."""
    from duke_spark.operators.graph import build_edges
    from duke_spark.operators.triples import extract_triples

    sf_dir = "/root/testdata/sf0.001"
    transcripts = _docs_as_transcripts(spark, sf_dir)
    ctx_bc = _corpus_context(spark, sf_dir)
    triples = extract_triples(transcripts, ctx_bc)
    return build_edges(triples)


# --------------------------------------------------------------------------
# queries + oracles
# --------------------------------------------------------------------------

def q1_pricing_rollup(spark, sf_dir):
    """A25/A27 partial+final hash aggregate (TPC-H Q1 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg((F.sum(_cents("l_quantity")) / 100.0).alias("sum_qty"),
                 (F.sum(_cents("l_extendedprice")) / 100.0)
                 .alias("sum_base"),
                 (F.sum(_cents("l_extendedprice") *
                        (100 - _cents("l_discount"))) / 10000.0)
                 .alias("sum_disc_price"),
                 F.count(F.lit(1)).alias("n")))


def q2_string_projection(spark, sf_dir):
    """A12 type-based projection: keep only string columns (schema-driven,
    pure Catalyst column pruning)."""
    c = _t(spark, sf_dir, "customer")
    string_cols = [name for name, dtype in c.dtypes if dtype == "string"]
    return c.select(*string_cols)


def q3_null_filter(spark, sf_dir):
    """A13 null filtering expressed relationally (pushed to the scan)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.filter(F.col("props").isNotNull() &
                      F.col("value").isNotNull() &
                      (F.col("event_type") != ""))
            .select("event_id", "event_type"))


def q4_topk(spark, sf_dir):
    """A30 global top-k (TakeOrdered, no full sort)."""
    o = _t(spark, sf_dir, "orders")
    return (o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .select("o_orderkey",
                    F.round("o_totalprice", 2).alias("total_price"))
            .limit(10))


def q5_argmax_per_group(spark, sf_dir):
    """A29 argmax per group via window row_number (ties → custkey asc)."""
    from pyspark.sql import Window
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey"))
    return (c.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("c_nationkey", "c_custkey", "c_name",
                    F.round("c_acctbal", 2).alias("top_acctbal")))


def q6_grouped_stats(spark, sf_dir):
    """A32 grouped aggregate with exact decimal mean."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.sum(_cents("value")) / 100.0).alias("sum_value"),
                 ((F.sum(_cents("value")) / 100.0) /
                  F.count(F.lit(1))).alias("avg_value")))


def q7_masked_mean(spark, sf_dir):
    """A33 label semi/anti split + masked mean (segment as label)."""
    c = _t(spark, sf_dir, "customer")
    return (c.groupBy((F.col("c_mktsegment") == "BUILDING").alias("is_pos"))
            .agg(F.count(F.lit(1)).alias("n"),
                 ((F.sum(_cents("c_acctbal")) / 100.0) /
                  F.count(F.lit(1))).alias("avg_bal")))


def q8_derived_rollup(spark, sf_dir):
    """A36 derived column (revenue) + rollup, exact decimal math."""
    li = _t(spark, sf_dir, "lineitem")
    rev = _cents("l_extendedprice") * (100 - _cents("l_discount"))
    return (li.groupBy("l_returnflag")
            .agg((F.sum(rev) / 10000.0).alias("revenue"),
                 F.count(F.lit(1)).alias("n")))


def q9_sample_cap(spark, sf_dir):
    """A24 deterministic cardinality cap: first 100 rows per group under
    stable (orderkey, linenumber) order — the seeded-sample analogue."""
    from pyspark.sql import Window
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_orderkey", "l_linenumber")
    return (li.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 100)
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.sum(_cents("l_quantity")) / 100.0).alias("sum_qty")))


def q10_region_rollup(spark, sf_dir):
    """Broadcast-join chain customer⋈nation⋈region + rollup."""
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (c.join(n, c.c_nationkey == n.n_nationkey)
            .join(r, n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 ((F.sum(_cents("c_acctbal")) / 100.0) /
                  F.count(F.lit(1))).alias("avg_bal")))


def session_stats_events(spark, sf_dir):
    """Gap-based sessionization (30-min gap) of the events table +
    per-session rollup — one window exchange keyed by user_id, exact
    integer-microsecond gap math on both engines."""
    from duke_spark.operators.sessions import session_stats
    ev = _t(spark, sf_dir, "events")
    s = session_stats(ev, key_col="user_id", ts_col="ts",
                      gap_seconds=1800)
    return s.select("user_id", "session_idx", "n_events",
                    F.unix_micros(F.col("session_start").cast("timestamp"))
                    .alias("start_us"),
                    F.unix_micros(F.col("session_end").cast("timestamp"))
                    .alias("end_us"),
                    "span_us")


def asof_join_events(spark, sf_dir):
    """As-of join (the classic time-series operator Spark's API lacks —
    pandas merge_asof / DuckDB ASOF JOIN): each purchase event picks up
    the user's most recent click at-or-before it. One hash-partition
    exchange + window, NO join node (``operators/asof.py``; plan
    asserted in tests/test_asof.py). Clicks deduped to one row per
    (user, ts) for asof determinism — mirrored in the oracle. Timestamps
    emitted as epoch µs BIGINT on both engines."""
    from duke_spark.operators.asof import asof_join
    ev = _t(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("user_id", "ts",
                         F.col("event_id").alias("purchase_id"),
                         F.round("value", 6).alias("amount")))
    clicks = (ev.filter(F.col("event_type") == "click")
              .groupBy("user_id", "ts")
              .agg(F.max("event_id").alias("click_id")))
    out = asof_join(purchases, clicks, on="ts", by=["user_id"])
    return out.select(
        "user_id", "purchase_id",
        F.unix_micros(F.col("ts").cast("timestamp"))
        .alias("purchase_ts_us"),
        "amount", "click_id",
        F.unix_micros(F.col("ts_matched").cast("timestamp"))
        .alias("click_ts_us"))


def asof_forward_events(spark, sf_dir):
    """Forward as-of join: each signup picks up the user's EARLIEST click
    at-or-after it (time-to-first-action). Same window-only plan as the
    backward mode, mirrored; oracle = DuckDB ASOF LEFT JOIN with
    ``p.ts <= c.ts``."""
    from duke_spark.operators.asof import asof_join
    ev = _t(spark, sf_dir, "events")
    signups = (ev.filter(F.col("event_type") == "signup")
               .select("user_id", "ts",
                       F.col("event_id").alias("signup_id")))
    clicks = (ev.filter(F.col("event_type") == "click")
              .groupBy("user_id", "ts")
              .agg(F.min("event_id").alias("click_id")))
    out = asof_join(signups, clicks, on="ts", by=["user_id"],
                    direction="forward")
    return out.select(
        "user_id", "signup_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("signup_ts_us"),
        "click_id",
        F.unix_micros(F.col("ts_matched").cast("timestamp"))
        .alias("click_ts_us"))


def range_join_events(spark, sf_dir):
    """Range (interval) join — attribution shape: EVERY click within 24 h
    before a purchase, same user. Bucketized equi-join (no
    BroadcastNestedLoop — ``operators/range_join.py``, plan asserted in
    tests/test_range_join.py); DuckDB runs the same BETWEEN join via its
    IEJoin."""
    from duke_spark.operators.range_join import range_join
    ev = _t(spark, sf_dir, "events")
    day_us = 86_400_000_000
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("user_id", "ts",
                         F.col("event_id").alias("purchase_id")))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("user_id", "ts",
                      F.col("event_id").alias("click_id")))
    out = range_join(purchases, clicks, on="ts", by=["user_id"],
                     lower=-day_us, upper=0)
    return out.select(
        "user_id", "purchase_id", "click_id",
        F.unix_micros(F.col("ts_l").cast("timestamp"))
        .alias("purchase_ts_us"),
        F.unix_micros(F.col("ts_r").cast("timestamp"))
        .alias("click_ts_us"))


def chunk_docs(spark, sf_dir):
    """Pre-tokenization chunking (128-word windows, 16-word overlap) —
    pure Catalyst slice/explode, row growth ceil(n/112) per doc
    (``operators/corpus_prep.py``)."""
    from duke_spark.operators.corpus_prep import chunk_documents
    return chunk_documents(_t(spark, sf_dir, "documents"),
                           chunk_words=128, overlap=16)


def scrub_pii_docs(spark, sf_dir):
    """PII scrubbing over documents with deterministic injected PII (the
    synthetic corpus has none, so both engines append the same
    doc_id-derived email/IP/phone/SSN spans before scrubbing — the
    regexes are exercised on every row). Patterns are lookaround-free so
    Java regex (Spark) and RE2 (DuckDB) replay them identically."""
    from duke_spark.operators.corpus_prep import scrub_pii
    docs = _t(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.1."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit(".7 call +1 (555) 010-"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"),
                   4, "0"),
            F.lit(" id 123-45-6789")).alias("text"))
    return scrub_pii(seeded).select("doc_id", "scrubbed_text")


def repetition_docs(spark, sf_dir):
    """Duplicate-trigram repetition scores (Gopher-style quality signal)
    per document — per-row array work, 6dp float policy."""
    from duke_spark.operators.corpus_prep import repetition_scores
    return (repetition_scores(_t(spark, sf_dir, "documents"))
            .select("doc_id", "n_ngrams", "rep_ratio"))


def dedup_exact_docs(spark, sf_dir):
    from duke_spark.operators.dedup import exact_dedup
    return (exact_dedup(_t(spark, sf_dir, "documents"))
            .select("doc_id", "n_copies"))


def minhash_sig_docs(spark, sf_dir):
    """k=1 MinHash (min-md5 over 3-gram shingles) — the SQL-checkable
    variant; the full 64-perm MinHash+LSH path is pytest-verified."""
    from duke_spark.operators.dedup import with_shingles
    docs = _t_par(spark, sf_dir, "documents").select("doc_id", "text")
    # distinct before explode: MIN is duplicate-invariant, so this only
    # cuts md5 volume (no oracle change needed)
    sh = with_shingles(docs).select(
        "doc_id", F.explode(F.array_distinct("shingles")).alias("s"))
    return (sh.groupBy("doc_id")
            .agg(F.min(F.md5(F.col("s").cast("binary"))).alias("sig")))


def jaccard_pairs_docs(spark, sf_dir):
    from duke_spark.operators.dedup import ngram_jaccard_pairs
    return ngram_jaccard_pairs(_t_par(spark, sf_dir, "documents"),
                               threshold=0.2)


def token_stats_docs(spark, sf_dir):
    from duke_spark.operators.text_analysis import token_count
    d = token_count(_t(spark, sf_dir, "documents"))
    return (d.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
                 F.max("n_chars_actual").alias("max_chars")))


def stopword_ratio_docs(spark, sf_dir):
    from duke_spark.operators.text_analysis import quality_scores
    d = quality_scores(_t(spark, sf_dir, "documents"))
    return (d.groupBy("source")
            .agg(F.round(F.avg("stopword_ratio"), 6).alias("avg_stop_ratio"),
                 F.round(F.avg("punct_ratio"), 6).alias("avg_punct_ratio"),
                 F.count(F.lit(1)).alias("n_docs")))


def fingerprint_docs(spark, sf_dir):
    """md5 content fingerprint (oracle-checkable); xxhash64 variant in
    duke_spark.operators.text_analysis.doc_fingerprint."""
    docs = _t(spark, sf_dir, "documents")
    normalized = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    return docs.select(
        "doc_id", F.md5(normalized.cast("binary")).alias("fp"))


def ann_cosine_topk_docs(spark, sf_dir):
    from duke_spark.operators.similarity import cosine_topk
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    res = cosine_topk(emb.filter(F.col("vec_id") != 0), qvec, k=10)
    return res.select("vec_id", F.round("cosine", 6).alias("cosine"))


def ivf_ann_topk_docs(spark, sf_dir):
    """IVF ANN, oracle-checked end to end: md5-sampled centroids,
    Catalyst greatest-of-structs assignment, probe-limited cosine top-k —
    every float sequential-double so DuckDB reproduces it exactly. The
    NumPy-kernel production variant (``ivf_cosine_topk``) is
    pytest-verified (full-probe == exact)."""
    from duke_spark.operators.similarity import ivf_cosine_topk_md5
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    res = ivf_cosine_topk_md5(emb.filter(F.col("vec_id") != 0), qvec, k=10,
                              k_clusters=16, n_probe=4)
    return res.select("vec_id", F.round("cosine", 6).alias("cosine"))


def ann_index_topk_docs(spark, sf_dir):
    """Persisted partition-pruned ANN (C8 scale path): coordinate-sign
    LSH index written ``partitionBy(bucket)``; the query probes only the
    Hamming≤1 buckets, which Spark resolves as PartitionFilters — the
    unprobed 11/16 of the corpus is never listed or scanned (plan
    asserted in tests/test_ann_index.py)."""
    import hashlib
    from duke_spark.operators.ann_index import (build_lsh_index,
                                                query_lsh_index)
    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").head()[0])
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    path = ("/tmp/duke_spark_ann_"
            + hashlib.md5(sf_dir.encode()).hexdigest()[:8])
    build_lsh_index(emb.filter(F.col("vec_id") != 0), path, dim=dim,
                    num_planes=4, planes="coord")
    res = query_lsh_index(spark, path, qvec, k=10, hamming=1)
    return res.select("vec_id", F.round("cosine", 6).alias("cosine"))


def lang_counts_docs(spark, sf_dir):
    """Stopword-voting language ID (JVM-side greatest-of-structs), rolled
    up per source. Tie semantics (equal score → lexicographically larger
    lang) match DuckDB struct max exactly."""
    from duke_spark.operators.text_analysis import language_id
    d = language_id(_t(spark, sf_dir, "documents"))
    return (d.groupBy("source", "lang_pred")
            .agg(F.count(F.lit(1)).alias("n_docs")))


def simhash_docs(spark, sf_dir):
    """64-bit SimHash per doc, md5-hash words (== DuckDB
    md5_number_lower), per-bit majority vote — oracle-checked bit for
    bit. The xxhash64 production variant (``dedup.simhash64``) is
    pytest-verified against a per-doc reference."""
    from duke_spark.operators.dedup import simhash64_md5
    return simhash64_md5(_t_par(spark, sf_dir, "documents")
                         .select("doc_id", "text"))


def minhash_lsh_pairs_docs(spark, sf_dir):
    """MinHash(32) + 8-band LSH candidate pairs, md5 row hashes and
    concat band keys — oracle-checked pair for pair. The xxhash64
    production path (``minhash_signatures``+``lsh_candidate_pairs``) is
    pytest-verified (recall vs exact Jaccard)."""
    from duke_spark.operators.dedup import minhash_lsh_pairs_md5
    docs = _t_par(spark, sf_dir, "documents").select("doc_id", "text")
    return minhash_lsh_pairs_md5(docs)


def embedding_near_dups_docs(spark, sf_dir):
    """Embedding-cosine near-dups within coordinate-sign LSH buckets
    (4 planes → 16 buckets) — pure Catalyst, oracle-checked. The
    Gaussian-plane NumPy variant (``embedding_near_dups``) is
    pytest-verified (bucket-recall tradeoff)."""
    from duke_spark.operators.similarity import cosine_near_dup_pairs
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(emb, threshold=0.3, num_planes=4)


def entity_resolution_docs(spark, sf_dir):
    """Embedding-based entity resolution (C48): total merge map over
    the embeddings table — LSH-bucketed cosine pairs (≥0.3, the proven
    near-dups setting) → per-bucket min-label closure → canonical =
    component min, identity for isolates. Oracle: the pair CTE from
    embedding_near_dups_docs feeding a RECURSIVE-CTE closure, left
    joined back onto every vec_id."""
    from duke_spark.operators.entity_resolution import resolve_entities
    emb = _t(spark, sf_dir, "embeddings")
    return resolve_entities(emb, threshold=0.3, num_planes=4)


def entity_resolution_typed_docs(spark, sf_dir):
    """Type-GUARDED entity resolution (C48 + the r5 agreement check):
    same LSH-bucketed cosine pairs as entity_resolution_docs, but a
    candidate pair must also AGREE on a type column before entering the
    closure — cosine alone is not merge evidence. The type here is the
    deterministic pseudo-type vec_id % 3, so the oracle re-derives the
    guard as an extra equality in the pair CTE."""
    from duke_spark.operators.entity_resolution import resolve_entities
    emb = (_t(spark, sf_dir, "embeddings")
           .withColumn("ctype", F.pmod(F.col("vec_id"), F.lit(3))
                       .cast("string")))
    return resolve_entities(emb, threshold=0.3, num_planes=4,
                            type_col="ctype")


def q17_json_props(spark, sf_dir):
    """Semi-structured extraction: pull the numeric field out of the
    JSON props column (JVM-side get_json_object — no UDF) and roll up
    per event type."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (ev.withColumn("k", k)
            .filter(F.col("k").isNotNull())
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("k").alias("sum_k"),
                 F.min("k").alias("min_k"),
                 F.max("k").alias("max_k")))


def q18_above_nation_avg(spark, sf_dir):
    """Correlated-aggregate filter (the TPC-H Q17/Q22 shape): customers
    whose balance exceeds their nation's average, rolled up per nation.
    Decorrelated Spark-side into one aggregate + a broadcastable join —
    the plan Catalyst produces for the correlated-subquery SQL too.
    Money policy: averages compared in integer cents."""
    cust = _t(spark, sf_dir, "customer")
    cents = F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
    nat_avg = (cust.groupBy("c_nationkey")
               .agg((cents / F.count(F.lit(1))).alias("avg_cents")))
    return (cust
            .withColumn("bal_cents",
                        F.round(F.col("c_acctbal") * 100).cast("long"))
            .join(F.broadcast(nat_avg), "c_nationkey")
            .filter(F.col("bal_cents") > F.col("avg_cents"))
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n_above"),
                 (F.sum("bal_cents") / F.lit(100.0)).alias("sum_bal")))


def q19_topn_per_group(spark, sf_dir):
    """Window rank top-N (every analytics engine's bread and butter):
    top-3 orders by total price per order priority, deterministic
    tie-break on o_orderkey. Cents-integer ordering on both engines."""
    from pyspark.sql import Window
    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = (Window.partitionBy("o_orderpriority")
         .orderBy(F.desc("price_cents"), F.asc("o_orderkey")))
    return (orders.withColumn("price_cents", cents)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("o_orderpriority", "rn", "o_orderkey",
                    (F.col("price_cents") / F.lit(100.0))
                    .alias("total_price")))


def q20_exists_rollup(spark, sf_dir):
    """EXISTS semi-join + rollup: suppliers with at least one high-
    quantity lineitem (l_quantity > 45), counted per nation. LEFT SEMI
    join keeps the plan shuffle-light; the oracle spells it as EXISTS."""
    sup = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    hot = (li.filter(F.col("l_quantity") > 45)
           .select("l_suppkey").distinct())
    return (sup.join(hot, sup.s_suppkey == hot.l_suppkey, "left_semi")
            .groupBy("s_nationkey")
            .agg(F.count(F.lit(1)).alias("n_suppliers"),
                 (F.sum(F.round(F.col("s_acctbal") * 100).cast("long"))
                  / F.lit(100.0)).alias("sum_bal")))


def q14_running_total(spark, sf_dir):
    """Running aggregate: cumulative spend per customer over order time
    (window sum, integer cents for exact cross-engine equality)."""
    from pyspark.sql import Window
    o = _t(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (o.select("o_custkey", "o_orderkey",
                     (F.sum(_cents("o_totalprice")).over(w) / 100.0)
                     .alias("running_total")))


def q15_monthly_rollup(spark, sf_dir):
    """Temporal bucketing: per-month order counts + revenue
    (date_trunc-class; month emitted as a formatted string so both
    engines hash identically)."""
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy(F.date_format("o_orderdate", "yyyy-MM")
                      .alias("month"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 (F.sum(_cents("o_totalprice")) / 100.0).alias("revenue")))


def q16_pivot_segments(spark, sf_dir):
    """Pivot: customers per market segment as columns per nation —
    conditional aggregation (the plan Spark's .pivot compiles to, written
    portably so the oracle matches column for column)."""
    c = _t(spark, sf_dir, "customer")
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY"]
    aggs = [F.sum(F.when(F.col("c_mktsegment") == s, 1).otherwise(0))
            .alias(f"n_{s.lower()}") for s in segs]
    return c.groupBy("c_nationkey").agg(*aggs)


def q13_distinct_agg(spark, sf_dir):
    """Distinct aggregation: exact per-group user cardinality (== DuckDB
    COUNT(DISTINCT)); the HLL sketch path (approx_count_distinct — one
    pass, mergeable, the 10^12-row mode) is pytest-bounded against this.
    """
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n_users"),
                 F.count(F.lit(1)).alias("n_events")))


def q11_rollup_sets(spark, sf_dir):
    """Grouping sets (ROLLUP) — subtotal rows per flag and a grand
    total, one pass (Expand + hash aggregate)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg((F.sum(_cents("l_quantity")) / 100.0).alias("sum_qty"),
                 F.count(F.lit(1)).alias("n")))


def q12_anti_join(spark, sf_dir):
    """Anti join: customers with no order above 300k (NOT EXISTS),
    rolled up per market segment. Compiles to a broadcast/shuffled anti
    join — no subquery re-scan per row."""
    c = _t(spark, sf_dir, "customer")
    o = (_t(spark, sf_dir, "orders")
         .filter(F.col("o_totalprice") > 300000)
         .select(F.col("o_custkey").alias("c_custkey")))
    return (c.join(o, "c_custkey", "left_anti")
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_no_orders"),
                 (F.sum(_cents("c_acctbal")) / 100.0).alias("sum_bal")))


_MIX_RATES = {f"src{i}": [1.0, 0.5, 0.25, 0.1, 0.0][i % 5]
              for i in range(20)}

_BENCHMARK_TEXTS = [
    "key agg row scan slow fast table value",   # overlaps corpus prefixes
    "the quick brown fox jumps over the lazy dog",
]


def clean_text_docs(spark, sf_dir):
    """Unicode NFC + control-char/whitespace cleaning, fingerprinted —
    oracle reproduces the cleaned text byte for byte via nfc_normalize +
    the same ASCII-class regexes."""
    from duke_spark.operators.text_analysis import normalize_clean
    d = normalize_clean(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.md5(F.col("clean_text").cast("binary")).alias("clean_fp"),
        F.length("clean_text").alias("n_chars_clean"))


def length_percentiles_docs(spark, sf_dir):
    """Per-source word-length quantiles, exact mode (Spark percentile
    interpolation == DuckDB quantile_cont bit for bit); the
    approx_percentile sketch variant is the 100 TB path, pytest-bounded
    against this one."""
    from duke_spark.operators.text_analysis import length_percentiles
    return length_percentiles(_t(spark, sf_dir, "documents"), exact=True)


def unigram_logloss_docs(spark, sf_dir):
    """Corpus-unigram quality proxy per doc (training-data scoring)."""
    from duke_spark.operators.text_analysis import unigram_logloss
    return unigram_logloss(_t(spark, sf_dir, "documents"))


def tfidf_topk_docs(spark, sf_dir):
    """Top-5 TF-IDF keywords per document (corpus keyword extraction,
    C38) — deterministic top-k cut (6dp-rounded score, word tiebreak),
    re-derived formula-for-formula in the DuckDB oracle."""
    from duke_spark.operators.text_analysis import tfidf_topk
    return tfidf_topk(_t(spark, sf_dir, "documents"), k=5)


def kg_entity_pmi(spark, sf_dir):
    """Entity co-occurrence PMI over the live KG pipeline (extract →
    PMI weighting): conversation-level pointwise mutual information per
    co-mentioned entity pair. Oracle re-derives the counts + ln from the
    golden triples parquet (same 6dp rounding).

    The returned frame is a caller-owned cache (already materialized;
    unpersist when done) — fine here, the driver harness is a
    per-round process."""
    from duke_spark.operators.graph import entity_cooccurrence_pmi
    from duke_spark.operators.triples import extract_triples
    transcripts = _docs_as_transcripts(spark, sf_dir)
    triples = extract_triples(transcripts, _corpus_context(spark, sf_dir))
    return entity_cooccurrence_pmi(triples)


def stratified_sample_docs(spark, sf_dir):
    """Deterministic domain-mixing sample: per-source keep rates decided
    by md5(salt:doc_id) < threshold — a pure narrow filter, reproducible
    at any parallelism (unlike df.sample); rolled up per source."""
    from duke_spark.operators.sampling import stratified_sample
    kept = stratified_sample(_t(spark, sf_dir, "documents"), _MIX_RATES)
    return (kept.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.min("doc_id").alias("min_id"),
                 F.max("doc_id").alias("max_id")))


def contamination_docs(spark, sf_dir):
    """Benchmark n-gram contamination flags for every document."""
    from duke_spark.operators.contamination import contamination_flags
    return contamination_flags(_t(spark, sf_dir, "documents"),
                               _BENCHMARK_TEXTS)


def _docs_as_media(spark, sf_dir):
    """Deterministic binary media column derived from doc_id — the
    multimodal test substrate: doc_id%3==1 → DSIM fixture image,
    doc_id%3==2 → header-valid JPEG (real SOF0 marker walk, 41 bytes),
    doc_id%6==3 → header-valid MP3 (ID3v2 + real MPEG frame headers,
    frame walk), remaining doc_id%3==0 → DSAU fixture audio."""
    from duke_spark.operators.multimodal import (make_fake_audio,
                                                 make_fake_image,
                                                 make_fake_jpeg,
                                                 make_fake_mp3)
    docs = (_t(spark, sf_dir, "documents").select("doc_id")
            .filter(F.col("doc_id") < 300))

    import pandas as pd

    def gen(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 3 == 1:
                    blobs.append(make_fake_image(
                        f"doc_{did}", 16 + did % 16, 12 + did % 8))
                elif did % 3 == 2:
                    blobs.append(make_fake_jpeg(
                        16 + did % 16, 12 + did % 8))
                elif did % 6 == 3:
                    blobs.append(make_fake_mp3(
                        44100, n_frames=2 + did % 5))
                else:
                    blobs.append(make_fake_audio(
                        f"doc_{did}", 8000, 1024 + (did % 7) * 256))
            yield pd.DataFrame({"media_id": [f"m{int(d)}" for d in
                                             pdf["doc_id"]],
                                "doc_id": pdf["doc_id"], "blob": blobs})

    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("media_id", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("blob", T.BinaryType())])
    return docs.mapInPandas(gen, schema=schema)


def media_meta_docs(spark, sf_dir):
    """Multimodal metadata extraction (header parse, no full decode) over
    a deterministic media table derived from doc_id; aggregated per kind.
    The oracle re-derives the same dims/sizes from doc_id arithmetic, so
    a parse bug (wrong width/byte count) breaks the hash match."""
    from duke_spark.operators.multimodal import media_metadata
    media = _docs_as_media(spark, sf_dir)
    meta = media_metadata(media)
    return (meta.groupBy("kind")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("n_bytes").alias("total_bytes"),
                 F.min("width").cast("long").alias("min_w"),
                 F.max("width").cast("long").alias("max_w"),
                 F.sum("n_samples").alias("total_samples")))


def kg_triples_docs(spark, sf_dir):
    """KG triple extraction (B3-B5) over documents-as-transcripts.

    Oracle: golden parquet materialized by the Spark-free NumPy oracle
    (scripts/make_kg_golden.py → fixtures/golden/<sf>/kg_triples.parquet);
    score rounded to 6 dp on both sides (repo float policy — raw diffs
    are float32-kernel summation noise ≪ 1e-6)."""
    from duke_spark.operators.triples import extract_triples
    transcripts = _docs_as_transcripts(spark, sf_dir)
    triples = extract_triples(transcripts, _corpus_context(spark, sf_dir))
    return triples.withColumn("score", F.round("score", 6))


def kg_vertices(spark, sf_dir):
    """Graph materialize (B7): entity vertices with canonical types.

    Oracle: golden parquet from the NumPy oracle (make_kg_golden.py);
    score rounded to 6 dp on both sides (distributed-vs-sequential mean
    differs only by summation order, ~1e-15)."""
    from duke_spark.operators.canonical import canonical_types_df
    from duke_spark.operators.graph import build_vertices
    from duke_spark.operators.mentions import linked_mentions
    transcripts = _docs_as_transcripts(spark, sf_dir)
    ctx_bc = _corpus_context(spark, sf_dir)
    mentions = linked_mentions(transcripts, ctx_bc).persist()
    canonical = canonical_types_df(spark, mentions, ctx_bc)
    return build_vertices(mentions, canonical) \
        .withColumn("score", F.round("score", 6))


def kg_duke_describe(spark, sf_dir):
    """Full Duke EP1 semantics per conversation (role-as-source, headers
    source, whole-turn OOV rule, per-source tree fold, source mean) —
    hash-checked against the golden parquet from the NumPy oracle
    (make_kg_golden.py), plus exact parity in pytest."""
    from duke_spark.operators.describe import describe_conversations_duke
    transcripts = _docs_as_transcripts(spark, sf_dir)
    return describe_conversations_duke(transcripts,
                                       _corpus_context(spark, sf_dir))


def kg_conv_topics(spark, sf_dir):
    """Per-conversation canonical topic (B6) — hash-checked against the
    golden parquet from the NumPy oracle (make_kg_golden.py)."""
    from duke_spark.operators.canonical import describe_conversations
    from duke_spark.operators.mentions import linked_mentions
    transcripts = _docs_as_transcripts(spark, sf_dir)
    ctx_bc = _corpus_context(spark, sf_dir)
    mentions = linked_mentions(transcripts, ctx_bc)
    return describe_conversations(spark, mentions, ctx_bc)


def _kg_edges(spark, sf_dir):
    """Live-pipeline KG edges (B7): extract triples → aggregate to
    unique (src, rel, dst) edge rows."""
    from duke_spark.operators.graph import build_edges
    from duke_spark.operators.triples import extract_triples
    transcripts = _docs_as_transcripts(spark, sf_dir)
    triples = extract_triples(transcripts, _corpus_context(spark, sf_dir))
    return build_edges(triples)


def kg_degrees(spark, sf_dir):
    """Vertex degrees over the materialized KG (C25 graph analytics) —
    integer-only, so the oracle (same counts re-derived in SQL from the
    golden triples parquet) is float-free and hash-exact. Two hash aggs
    + one full-outer join; both sides shrink to the vertex set before
    joining, so the plan is vertex-cardinality, never edge-cardinality."""
    from duke_spark.operators.graph import degrees
    return degrees(_kg_edges(spark, sf_dir))


def kg_two_hop(spark, sf_dir):
    """Two-hop neighbor motif counts over the KG (C25) — distinct (a, c)
    pairs via some middle vertex with path counts; hub middles above the
    fan-out cap are excluded (none at test sf). Integer-only → oracle
    hash-exact vs the golden triples parquet."""
    from duke_spark.operators.graph import two_hop_neighbors
    return two_hop_neighbors(_kg_edges(spark, sf_dir))


def kg_components(spark, sf_dir):
    """Connected components over the live KG (C25): the one-shuffle
    closure `graph.connected_components` on the undirected edge set.
    Oracle: the same labels re-derived in DuckDB as a RECURSIVE-CTE
    reachability closure over the golden triples — the Spark closure
    hash-checked against a SQL fixpoint, not just pytest-pinned."""
    from duke_spark.operators.graph import connected_components
    pairs = _kg_edges(spark, sf_dir).select(F.col("src").alias("a"),
                                            F.col("dst").alias("b"))
    return connected_components(pairs)


def kg_pagerank(spark, sf_dir):
    """PageRank over the live KG (C25), 5 power iterations with dangling
    redistribution. Oracle: the same 5 iterations UNROLLED as chained
    DuckDB CTEs (contribs → total → damped update per step, identical
    double-precision literals), ranks rounded 6dp on both sides."""
    from duke_spark.operators.graph import pagerank
    ranks = pagerank(_kg_edges(spark, sf_dir), iters=5)
    return ranks.select("id", F.round("rank", 6).alias("rank"))


def kg_entity_timeline(spark, sf_dir):
    """Temporal KG attributes (first/last seen, conversation spread) per
    entity — mention triples joined back to the turn table's ``ts`` on
    (conv_id, turn_idx). Oracle re-derives ts arithmetically from
    turn_idx (the synthetic clock is epoch+60·turn_idx) over the golden
    triples."""
    from duke_spark.operators.graph import entity_timeline
    from duke_spark.operators.triples import extract_triples
    transcripts = _docs_as_transcripts(spark, sf_dir)
    triples = extract_triples(transcripts, _corpus_context(spark, sf_dir))
    return entity_timeline(triples, transcripts)


def kg_pattern_match(spark, sf_dir):
    """Declarative triple-pattern (BGP) matching compiled to Catalyst
    joins (C43): conv —mentions→ e1 —co_mentioned→ e2 with e2 also
    tool-linked — a 3-element pattern whose join order is picked by the
    constants-first selectivity heuristic. Oracle: the same pattern as
    an explicit 3-way self-join over the golden triples."""
    from duke_spark.operators.pattern import match_pattern
    from duke_spark.operators.triples import extract_triples
    transcripts = _docs_as_transcripts(spark, sf_dir)
    # persisted fan-out root (same rationale as kg_entity_pmi): the
    # pattern scans the relation once per element, and for a COMPUTED
    # relation each scan would re-run the extraction matmul; a
    # parquet-backed triple store needs no persist (per-element scans
    # are filter-pruned, which is cheaper).
    triples = (extract_triples(transcripts,
                               _corpus_context(spark, sf_dir))
               .select("subj", "pred", "obj").persist())
    return match_pattern(triples, [("?conv", "mentions", "?e1"),
                                   ("?e1", "co_mentioned", "?e2"),
                                   ("?e2", "used_tool", "?tool")])


def kg_pattern_optional(spark, sf_dir):
    """SPARQL OPTIONAL + FILTER NOT EXISTS over the live KG (C44):
    conversations and their mentioned entities that never used the
    anchor tool 'tool:de' (constant-anchored anti-join negation — a
    variable-only negation empties at larger sf where every entity is
    eventually tool-linked), each with its co-mentioned neighbor where
    one exists (left-join optional, NULL→'∅' for a driver-stable hash).
    Oracle: the same left join + NOT EXISTS over the golden triples."""
    from duke_spark.operators.pattern import match_pattern
    from duke_spark.operators.triples import extract_triples
    transcripts = _docs_as_transcripts(spark, sf_dir)
    triples = (extract_triples(transcripts,
                               _corpus_context(spark, sf_dir))
               .select("subj", "pred", "obj").persist())
    out = match_pattern(triples, [("?conv", "mentions", "?e")],
                        negate=[[("?e", "used_tool", "tool:de")]],
                        optional=[[("?e", "co_mentioned", "?nbr")]])
    return out.select("conv", "e",
                      F.coalesce("nbr", F.lit("∅")).alias("nbr"))


def kg_reachability(spark, sf_dir):
    """Bounded property path co_mentioned{1,3} over the live KG (C44):
    all entity pairs within 3 co-mention hops, hops = shortest path
    length, via BFS frontier expansion with per-hop anti-join. Oracle:
    a DuckDB RECURSIVE CTE walk bounded at 3 hops, MIN(hops) per pair."""
    from duke_spark.operators.pattern import match_path
    from duke_spark.operators.triples import extract_triples
    transcripts = _docs_as_transcripts(spark, sf_dir)
    triples = (extract_triples(transcripts,
                               _corpus_context(spark, sf_dir))
               .select("subj", "pred", "obj").persist())
    return match_path(triples, "co_mentioned", max_hops=3)


def kg_typed_pattern(spark, sf_dir):
    """Ontology-typed pattern matching (C43×B6 composition): BGP
    bindings (?conv mentions ?e) joined to the canonicalization
    pipeline's vertex types, rolled up to entity counts per
    (conversation, canonical type) — 'what KINDS of things does each
    conversation talk about', the typed query a KG exists to answer.
    Oracle: golden mentions ⋈ golden vertices, same rollup."""
    from duke_spark.operators.canonical import canonical_types_df
    from duke_spark.operators.graph import build_vertices
    from duke_spark.operators.mentions import linked_mentions
    from duke_spark.operators.pattern import match_pattern
    from duke_spark.operators.triples import triples_from_mentions
    transcripts = _docs_as_transcripts(spark, sf_dir)
    ctx_bc = _corpus_context(spark, sf_dir)
    mentions = linked_mentions(transcripts, ctx_bc).persist()
    vertices = build_vertices(
        mentions, canonical_types_df(spark, mentions, ctx_bc))
    # both the vertex side and the triple side branch off the SAME
    # persisted mentions — the linking matmul runs once, not twice;
    # triples_from_mentions runs extract_triples' own assembler
    # (triples_batch) over them, so the triples are the same (tested)
    triples = (triples_from_mentions(mentions)
               .select("subj", "pred", "obj"))
    bindings = match_pattern(triples, [("?conv", "mentions", "?e")])
    return (bindings
            .join(vertices.select(F.col("id").alias("e"),
                                  "canonical_type"), "e")
            .groupBy("conv", "canonical_type")
            .agg(F.count_distinct("e").alias("n_entities")))


def kg_negative_samples(spark, sf_dir):
    """Deterministic negative sampling for KG-embedding training (C47):
    per distinct fact, k=2 corrupted objects drawn by 48-bit-md5 hash →
    rank → sorted entity pool lookup, with true ('false negative')
    corruptions flagged via a join back against the positives. Oracle:
    the identical hash/rank/pool formula in SQL over the golden triples
    (row_number pool, ('0x'||substr(md5,17,12))::BIGINT index)."""
    from duke_spark.operators.kg_train import negative_samples_md5
    from duke_spark.operators.triples import extract_triples
    transcripts = _docs_as_transcripts(spark, sf_dir)
    triples = (extract_triples(transcripts,
                               _corpus_context(spark, sf_dir))
               .select("subj", "pred", "obj").persist())
    return negative_samples_md5(triples, k=2)


def kg_fact_split(spark, sf_dir):
    """Leakage-free train/valid/test fact split (C47): the bucket is a
    48-bit md5 hash of the FACT, so every occurrence lands on the same
    side and the assignment is reproducible run-to-run. Oracle: same
    bucket formula in SQL over the golden triples."""
    from duke_spark.operators.kg_train import split_facts
    from duke_spark.operators.triples import extract_triples
    transcripts = _docs_as_transcripts(spark, sf_dir)
    triples = extract_triples(transcripts, _corpus_context(spark, sf_dir))
    return split_facts(triples, train=80, valid=10)


def kg_fact_support(spark, sf_dir):
    """Fact provenance rollup (C45): one row per distinct fact with its
    evidence — occurrence count, distinct source conversations, score
    envelope (NELL / Knowledge Vault-style confidence accumulation).
    One hash-agg shuffle keyed on the fact; O(distinct facts) exchange.
    Oracle: the same rollup in SQL over the golden triples."""
    from duke_spark.operators.triples import extract_triples, fact_support
    transcripts = _docs_as_transcripts(spark, sf_dir)
    return fact_support(extract_triples(transcripts,
                                        _corpus_context(spark, sf_dir)))


def kg_validate(spark, sf_dir):
    """SHACL-lite KG quality gate (C46): declarative shapes (IRI-prefix
    discipline, closed vocabulary, irreflexive co-mentions, referential
    domain, per-subject cardinality bound) checked over the live KG;
    violations come back as (rule, pred, subj, obj) rows. The real KG
    DOES violate two shapes (self-co-mentions from adjacent duplicate
    mentions; entities using >1 tool), so the report is non-trivial.
    Oracle: every rule re-derived as a SQL block, UNION ALL'd."""
    from duke_spark.operators.triples import extract_triples
    from duke_spark.operators.validation import validate_graph
    transcripts = _docs_as_transcripts(spark, sf_dir)
    triples = (extract_triples(transcripts,
                               _corpus_context(spark, sf_dir))
               .select("subj", "pred", "obj").persist())
    return validate_graph(triples, {
        "mentions": {"subject_prefix": "conv:", "object_prefix": "ent:"},
        "co_mentioned": {"subject_prefix": "ent:",
                         "object_prefix": "ent:", "irreflexive": True},
        "used_tool": {"subject_prefix": "ent:", "object_prefix": "tool:",
                      "subject_in": ("mentions", "obj"),
                      "max_distinct_objects": 1},
    }, closed=True)


def kg_ntriples(spark, sf_dir):
    """Standard RDF N-Triples serialization of the live KG (C42
    interop sink) — pure Catalyst concat over distinct triples with
    IRI-safety enforced by the reject split. Oracle rebuilds the same
    lines with string concatenation over the golden triples parquet —
    byte-exact, so the export grammar itself is hash-checked."""
    from duke_spark.operators.rdf import serialize_ntriples
    from duke_spark.operators.triples import extract_triples
    transcripts = _docs_as_transcripts(spark, sf_dir)
    triples = extract_triples(transcripts, _corpus_context(spark, sf_dir))
    lines, _rejects = serialize_ntriples(triples)
    return lines


def neardup_clusters_docs(spark, sf_dir):
    """Near-dup cluster resolution (C5b made driver-visible): MinHash+LSH
    candidate pairs → connected components → one rollup row per dup
    cluster (representative = min doc_id — the keep-one rule). Oracle:
    the md5-twin LSH pair SQL feeding a RECURSIVE-CTE closure. This is
    the full dedup *pipeline* (signatures → banding → graph → clusters)
    hash-checked end-to-end, not its stages in isolation."""
    from duke_spark.operators.dedup import minhash_lsh_pairs_md5
    from duke_spark.operators.graph import connected_components
    docs = _t_par(spark, sf_dir, "documents").select("doc_id", "text")
    comps = connected_components(minhash_lsh_pairs_md5(docs))
    return (comps.groupBy(F.col("comp").alias("cluster"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("node").alias("min_doc"),
                 F.max("node").alias("max_doc")))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order matters: the driver's correctness harness runs the
    FIRST 50 entries. Round 5 rotates the window (VERDICT-r4 item #1) so
    the core KG surface — driver-untested in r4 — sits inside it; the 18
    displaced queries (q11/q14–q20 variants, one ANN twin, the
    verification-grade jaccard path, text-analysis variants) were all
    driver-green in CORRECTNESS_r04 and stay oracle-checked every round by
    scripts/check_contract.py at sf0.001/0.01/0.1/1."""
    return {
        # -- window slots 1-50: core reference ops + full KG surface -----
        "q1_pricing_rollup": q1_pricing_rollup,
        "q2_string_projection": q2_string_projection,
        "q3_null_filter": q3_null_filter,
        "q4_topk": q4_topk,
        "q5_argmax_per_group": q5_argmax_per_group,
        "q6_grouped_stats": q6_grouped_stats,
        "q7_masked_mean": q7_masked_mean,
        "q8_derived_rollup": q8_derived_rollup,
        "q10_region_rollup": q10_region_rollup,
        "q12_anti_join": q12_anti_join,
        "q13_distinct_agg": q13_distinct_agg,
        "session_stats_events": session_stats_events,
        "asof_join_events": asof_join_events,
        "range_join_events": range_join_events,
        "chunk_docs": chunk_docs,
        "scrub_pii_docs": scrub_pii_docs,
        "dedup_exact_docs": dedup_exact_docs,
        "minhash_sig_docs": minhash_sig_docs,
        "minhash_lsh_pairs_docs": minhash_lsh_pairs_docs,
        "neardup_clusters_docs": neardup_clusters_docs,
        "embedding_near_dups_docs": embedding_near_dups_docs,
        "entity_resolution_docs": entity_resolution_docs,
        "entity_resolution_typed_docs": entity_resolution_typed_docs,
        "token_stats_docs": token_stats_docs,
        "stopword_ratio_docs": stopword_ratio_docs,
        "lang_counts_docs": lang_counts_docs,
        "simhash_docs": simhash_docs,
        "ann_cosine_topk_docs": ann_cosine_topk_docs,
        "ann_index_topk_docs": ann_index_topk_docs,
        "contamination_docs": contamination_docs,
        "media_meta_docs": media_meta_docs,
        "kg_entity_pmi": kg_entity_pmi,
        "kg_triples_docs": kg_triples_docs,
        "kg_vertices": kg_vertices,
        "kg_duke_describe": kg_duke_describe,
        "kg_conv_topics": kg_conv_topics,
        "kg_degrees": kg_degrees,
        "kg_two_hop": kg_two_hop,
        "kg_components": kg_components,
        "kg_pagerank": kg_pagerank,
        "kg_entity_timeline": kg_entity_timeline,
        "kg_ntriples": kg_ntriples,
        "kg_pattern_match": kg_pattern_match,
        "kg_pattern_optional": kg_pattern_optional,
        "kg_reachability": kg_reachability,
        "kg_typed_pattern": kg_typed_pattern,
        "kg_negative_samples": kg_negative_samples,
        "kg_fact_split": kg_fact_split,
        "kg_fact_support": kg_fact_support,
        "kg_validate": kg_validate,
        # -- slots 51+: driver-green in r4, contract-checked every round --
        "q9_sample_cap": q9_sample_cap,
        "q11_rollup_sets": q11_rollup_sets,
        "q14_running_total": q14_running_total,
        "q15_monthly_rollup": q15_monthly_rollup,
        "q16_pivot_segments": q16_pivot_segments,
        "q17_json_props": q17_json_props,
        "q18_above_nation_avg": q18_above_nation_avg,
        "q19_topn_per_group": q19_topn_per_group,
        "q20_exists_rollup": q20_exists_rollup,
        "asof_forward_events": asof_forward_events,
        "repetition_docs": repetition_docs,
        "jaccard_pairs_docs": jaccard_pairs_docs,
        "fingerprint_docs": fingerprint_docs,
        "ivf_ann_topk_docs": ivf_ann_topk_docs,
        "clean_text_docs": clean_text_docs,
        "length_percentiles_docs": length_percentiles_docs,
        "unigram_logloss_docs": unigram_logloss_docs,
        "tfidf_topk_docs": tfidf_topk_docs,
        "stratified_sample_docs": stratified_sample_docs,
    }


def _minhash_lsh_oracle(num_hashes: int = 32, bands: int = 8) -> str:
    """DuckDB twin of dedup.minhash_lsh_pairs_md5 (same shingles, same
    md5('i:'||s) row hashes, same concat band keys)."""
    r = num_hashes // bands
    sig_cols = ",\n                    ".join(
        f"MIN(md5('{i}:' || s)) AS h{i}" for i in range(num_hashes))
    band_union = "\n              UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        + " || '|' || ".join(f"h{b * r + j}" for j in range(r))
        + " AS band_key FROM sig"
        for b in range(bands))
    return f"""
            WITH words AS (SELECT doc_id, string_split(text, ' ') AS w
                           FROM documents),
            sh AS (SELECT DISTINCT doc_id,
                          unnest(list_transform(
                              range(1, greatest(len(w) - 1, 2)),
                              i -> array_to_string(w[i:i+2], ' '))) AS s
                   FROM words),
            sig AS (SELECT doc_id, {sig_cols}
                    FROM sh GROUP BY doc_id),
            bands AS ({band_union})
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM bands l JOIN bands r
              ON l.band_idx = r.band_idx AND l.band_key = r.band_key
             AND l.doc_id < r.doc_id
        """


def _coord_bucket_sql(col: str, num_planes: int = 4) -> str:
    return " + ".join(
        f"CASE WHEN {col}[{j + 1}] >= 0 THEN {1 << j} ELSE 0 END"
        for j in range(num_planes))


_COS = ("list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) / "
        "(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), "
        "CAST({a} AS DOUBLE[]))) * "
        "sqrt(list_dot_product(CAST({b} AS DOUBLE[]), "
        "CAST({b} AS DOUBLE[]))))")


_SHINGLE_EXPR = ("list_transform(range(1, greatest(len({w}) - 1, 2)), "
                 "i -> array_to_string({w}[i:i+2], ' '))")


def _stratified_sample_oracle() -> str:
    """DuckDB twin of operators.sampling.stratified_sample over
    _MIX_RATES (same md5 hash, same 32-hex threshold literals)."""
    from duke_spark.operators.sampling import md5_threshold
    arms = []
    for src, frac in sorted(_MIX_RATES.items()):
        if frac >= 1.0:
            arms.append(f"WHEN '{src}' THEN TRUE")
        elif frac <= 0.0:
            arms.append(f"WHEN '{src}' THEN FALSE")
        else:
            arms.append(f"WHEN '{src}' THEN md5('sample:' || "
                        f"CAST(doc_id AS VARCHAR)) < "
                        f"'{md5_threshold(frac)}'")
    case = "CASE source " + " ".join(arms) + " ELSE FALSE END"
    return f"""
            SELECT source, COUNT(*) AS n_kept,
                   MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
            FROM documents WHERE {case}
            GROUP BY source
        """


def _contamination_oracle() -> str:
    vals = ", ".join(f"('{t}')" for t in _BENCHMARK_TEXTS)
    return f"""
            WITH bench(t) AS (VALUES {vals}),
            bw AS (SELECT string_split(t, ' ') AS w FROM bench),
            bs AS (SELECT DISTINCT
                          unnest({_SHINGLE_EXPR.format(w='w')}) AS s
                   FROM bw),
            words AS (SELECT doc_id, string_split(text, ' ') AS w
                      FROM documents),
            ds AS (SELECT DISTINCT doc_id,
                          unnest({_SHINGLE_EXPR.format(w='w')}) AS s
                   FROM words),
            ov AS (SELECT doc_id, COUNT(*) AS n_overlap
                   FROM ds JOIN bs USING (s) GROUP BY doc_id)
            SELECT d.doc_id,
                   COALESCE(ov.n_overlap, 0) AS n_overlap,
                   COALESCE(ov.n_overlap, 0) >= 1 AS contaminated
            FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
        """


def oracle_sql() -> dict[str, str]:
    stop_list = "('the','a','of','and','in','to','is','was','on','for')"
    return {
        "q1_pricing_rollup": """
            SELECT l_returnflag, l_linestatus,
                   SUM(CAST(round(l_quantity*100) AS BIGINT)) / 100.0 AS sum_qty,
                   SUM(CAST(round(l_extendedprice*100) AS BIGINT)) / 100.0 AS sum_base,
                   SUM(CAST(round(l_extendedprice*100) AS BIGINT) *
                       (100 - CAST(round(l_discount*100) AS BIGINT))) / 10000.0
                       AS sum_disc_price,
                   COUNT(*) AS n
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "q2_string_projection": """
            SELECT c_name, c_mktsegment FROM customer
        """,
        "q3_null_filter": """
            SELECT event_id, event_type FROM events
            WHERE props IS NOT NULL AND value IS NOT NULL
              AND event_type <> ''
        """,
        "q4_topk": """
            SELECT o_orderkey, ROUND(o_totalprice, 2) AS total_price
            FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
        """,
        "q5_argmax_per_group": """
            SELECT c_nationkey, c_custkey, c_name,
                   ROUND(c_acctbal, 2) AS top_acctbal
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY c_nationkey
                     ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
                  FROM customer) WHERE rn = 1
        """,
        "q6_grouped_stats": """
            SELECT event_type, COUNT(*) AS n,
                   SUM(CAST(round(value*100) AS BIGINT)) / 100.0 AS sum_value,
                   (SUM(CAST(round(value*100) AS BIGINT)) / 100.0) / COUNT(*) AS avg_value
            FROM events GROUP BY event_type
        """,
        "q7_masked_mean": """
            SELECT (c_mktsegment = 'BUILDING') AS is_pos, COUNT(*) AS n,
                   (SUM(CAST(round(c_acctbal*100) AS BIGINT)) / 100.0) / COUNT(*) AS avg_bal
            FROM customer GROUP BY (c_mktsegment = 'BUILDING')
        """,
        "q8_derived_rollup": """
            SELECT l_returnflag,
                   SUM(CAST(round(l_extendedprice*100) AS BIGINT) *
                       (100 - CAST(round(l_discount*100) AS BIGINT))) / 10000.0
                       AS revenue,
                   COUNT(*) AS n
            FROM lineitem GROUP BY l_returnflag
        """,
        "q9_sample_cap": """
            SELECT l_returnflag, COUNT(*) AS n,
                   SUM(CAST(round(l_quantity*100) AS BIGINT)) / 100.0 AS sum_qty
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
                     ORDER BY l_orderkey, l_linenumber) AS rn
                  FROM lineitem) WHERE rn <= 100 GROUP BY l_returnflag
        """,
        "q10_region_rollup": """
            SELECT r_name, COUNT(*) AS n_customers,
                   (SUM(CAST(round(c_acctbal*100) AS BIGINT)) / 100.0) / COUNT(*) AS avg_bal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "session_stats_events": """
            WITH b AS (
              SELECT user_id, epoch_us(ts) AS us,
                     CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 0
                          WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                               > 1800000000 THEN 1
                          ELSE 0 END AS brk
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (SELECT user_id, us,
                         CAST(SUM(brk) OVER (PARTITION BY user_id
                              ORDER BY us ROWS UNBOUNDED PRECEDING)
                              AS INT) AS session_idx
                  FROM b)
            SELECT user_id, session_idx, COUNT(*) AS n_events,
                   MIN(us) AS start_us, MAX(us) AS end_us,
                   MAX(us) - MIN(us) AS span_us
            FROM s GROUP BY user_id, session_idx
        """,
        "asof_join_events": """
            WITH purchases AS (
                SELECT user_id, ts, event_id AS purchase_id,
                       ROUND(value, 6) AS amount
                FROM events WHERE event_type = 'purchase'
            ), clicks AS (
                SELECT user_id, ts, MAX(event_id) AS click_id
                FROM events WHERE event_type = 'click'
                GROUP BY user_id, ts
            )
            SELECT p.user_id, p.purchase_id,
                   epoch_us(p.ts) AS purchase_ts_us, p.amount,
                   c.click_id, epoch_us(c.ts) AS click_ts_us
            FROM purchases p ASOF LEFT JOIN clicks c
              ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
        "asof_forward_events": """
            WITH signups AS (
                SELECT user_id, ts, event_id AS signup_id
                FROM events WHERE event_type = 'signup'
            ), clicks AS (
                SELECT user_id, ts, MIN(event_id) AS click_id
                FROM events WHERE event_type = 'click'
                GROUP BY user_id, ts
            )
            SELECT p.user_id, p.signup_id,
                   epoch_us(p.ts) AS signup_ts_us,
                   c.click_id, epoch_us(c.ts) AS click_ts_us
            FROM signups p ASOF LEFT JOIN clicks c
              ON p.user_id = c.user_id AND p.ts <= c.ts
        """,
        "range_join_events": """
            SELECT p.user_id, p.event_id AS purchase_id,
                   c.event_id AS click_id,
                   epoch_us(p.ts) AS purchase_ts_us,
                   epoch_us(c.ts) AS click_ts_us
            FROM events p JOIN events c
              ON p.user_id = c.user_id
             AND c.ts BETWEEN p.ts - INTERVAL 24 HOUR AND p.ts
            WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        """,
        "chunk_docs": """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents),
                 c AS (SELECT doc_id, ws,
                              GREATEST(CAST(CEIL((len(ws) - 16) / 112.0)
                                            AS BIGINT), 1) AS nc
                       FROM w),
                 e AS (SELECT doc_id, ws,
                              unnest(range(0, nc)) AS i
                       FROM c)
            SELECT doc_id, CAST(i AS INT) AS chunk_idx,
                   array_to_string(list_slice(ws, i*112 + 1, i*112 + 128),
                                   ' ') AS chunk_text,
                   CAST(len(list_slice(ws, i*112 + 1, i*112 + 128))
                        AS INT) AS n_words
            FROM e
        """,
        "scrub_pii_docs": """
            WITH seeded AS (
                SELECT doc_id,
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com from 10.1.'
                            || CAST(doc_id % 256 AS VARCHAR)
                            || '.7 call +1 (555) 010-'
                            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                            || ' id 123-45-6789' AS text
                FROM documents)
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(
                       regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                           '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b',
                           '<IP>', 'g'),
                           '\\+[0-9][0-9 ().-]{6,}[0-9]',
                           '<PHONE>', 'g'),
                           '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b',
                           '<SSN>', 'g') AS scrubbed_text
            FROM seeded
        """,
        "repetition_docs": """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents),
                 g AS (SELECT doc_id, len(ws) AS n,
                              CASE WHEN len(ws) >= 3
                                   THEN list_transform(
                                       range(1, len(ws) - 1),
                                       i -> ws[i] || ' ' || ws[i+1]
                                            || ' ' || ws[i+2])
                                   ELSE [] END AS grams
                       FROM w)
            SELECT doc_id,
                   CAST(GREATEST(n - 2, 0) AS INT) AS n_ngrams,
                   CASE WHEN n >= 3
                        THEN ROUND(1.0 - len(list_distinct(grams)) * 1.0
                                   / (n - 2), 6)
                        ELSE 0.0 END AS rep_ratio
            FROM g
        """,
        "q11_rollup_sets": """
            SELECT l_returnflag, l_linestatus,
                   SUM(CAST(round(l_quantity*100) AS BIGINT)) / 100.0
                       AS sum_qty,
                   COUNT(*) AS n
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "q12_anti_join": """
            SELECT c_mktsegment, COUNT(*) AS n_no_orders,
                   SUM(CAST(round(c_acctbal*100) AS BIGINT)) / 100.0
                       AS sum_bal
            FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_totalprice > 300000)
            GROUP BY c_mktsegment
        """,
        "q13_distinct_agg": """
            SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
                   COUNT(*) AS n_events
            FROM events GROUP BY event_type
        """,
        "q17_json_props": """
            WITH e AS (SELECT event_type,
                              CAST(props->>'k' AS BIGINT) AS k
                       FROM events)
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(k) AS BIGINT) AS sum_k,
                   MIN(k) AS min_k, MAX(k) AS max_k
            FROM e WHERE k IS NOT NULL GROUP BY event_type
        """,
        "q18_above_nation_avg": """
            WITH c AS (SELECT c_nationkey,
                              CAST(round(c_acctbal*100) AS BIGINT)
                                  AS bal_cents
                       FROM customer),
                 a AS (SELECT c_nationkey,
                              SUM(bal_cents) * 1.0 / COUNT(*) AS avg_cents
                       FROM c GROUP BY c_nationkey)
            SELECT c.c_nationkey, COUNT(*) AS n_above,
                   SUM(c.bal_cents) / 100.0 AS sum_bal
            FROM c JOIN a ON c.c_nationkey = a.c_nationkey
            WHERE c.bal_cents > a.avg_cents
            GROUP BY c.c_nationkey
        """,
        "q19_topn_per_group": """
            WITH r AS (SELECT o_orderpriority, o_orderkey,
                              CAST(round(o_totalprice*100) AS BIGINT)
                                  AS price_cents,
                              ROW_NUMBER() OVER (
                                  PARTITION BY o_orderpriority
                                  ORDER BY CAST(round(o_totalprice*100)
                                               AS BIGINT) DESC,
                                           o_orderkey ASC) AS rn
                       FROM orders)
            SELECT o_orderpriority, rn, o_orderkey,
                   price_cents / 100.0 AS total_price
            FROM r WHERE rn <= 3
        """,
        "q20_exists_rollup": """
            SELECT s_nationkey, COUNT(*) AS n_suppliers,
                   SUM(CAST(round(s_acctbal*100) AS BIGINT)) / 100.0
                       AS sum_bal
            FROM supplier s
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_suppkey = s.s_suppkey
                            AND l.l_quantity > 45)
            GROUP BY s_nationkey
        """,
        "q14_running_total": """
            SELECT o_custkey, o_orderkey,
                   SUM(CAST(round(o_totalprice*100) AS BIGINT))
                       OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey
                             ROWS UNBOUNDED PRECEDING) / 100.0
                       AS running_total
            FROM orders
        """,
        "q15_monthly_rollup": """
            SELECT strftime(o_orderdate, '%Y-%m') AS month,
                   COUNT(*) AS n_orders,
                   SUM(CAST(round(o_totalprice*100) AS BIGINT)) / 100.0
                       AS revenue
            FROM orders GROUP BY strftime(o_orderdate, '%Y-%m')
        """,
        "q16_pivot_segments": """
            -- CAST: DuckDB types SUM(int) as HUGEINT, which pandas
            -- materializes as float64 ("17.0"); Spark emits BIGINT ("17").
            -- The grading driver hashes the string forms, so every integer
            -- SUM must be CAST to BIGINT (same pattern as q17_json_props).
            SELECT c_nationkey,
                   CAST(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1
                            ELSE 0 END) AS BIGINT) AS n_automobile,
                   CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1
                            ELSE 0 END) AS BIGINT) AS n_building,
                   CAST(SUM(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1
                            ELSE 0 END) AS BIGINT) AS n_furniture,
                   CAST(SUM(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1
                            ELSE 0 END) AS BIGINT) AS n_household,
                   CAST(SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1
                            ELSE 0 END) AS BIGINT) AS n_machinery
            FROM customer GROUP BY c_nationkey
        """,
        "dedup_exact_docs": """
            SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
            FROM documents GROUP BY text
        """,
        "minhash_sig_docs": """
            WITH words AS (SELECT doc_id, string_split(text, ' ') AS w
                           FROM documents),
            sh AS (SELECT doc_id,
                          unnest(list_transform(
                              range(1, greatest(len(w) - 1, 2)),
                              i -> array_to_string(w[i:i+2], ' '))) AS s
                   FROM words)
            SELECT doc_id, MIN(md5(s)) AS sig FROM sh GROUP BY doc_id
        """,
        "jaccard_pairs_docs": """
            WITH words AS (SELECT doc_id, string_split(text, ' ') AS w
                           FROM documents),
            sh0 AS (SELECT DISTINCT doc_id,
                          unnest(list_transform(
                              range(1, greatest(len(w) - 1, 2)),
                              i -> array_to_string(w[i:i+2], ' '))) AS s
                   FROM words),
            rare AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= 1000),
            sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN rare USING (s)),
            sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
            common AS (SELECT l.doc_id AS a, r.doc_id AS b, COUNT(*) AS c
                       FROM sh l JOIN sh r
                         ON l.s = r.s AND l.doc_id < r.doc_id
                       GROUP BY l.doc_id, r.doc_id)
            SELECT a, b,
                   ROUND(c * 1.0 / (sa.n_sh + sb.n_sh - c), 6) AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE c * 1.0 / (sa.n_sh + sb.n_sh - c) >= 0.2
        """,
        "token_stats_docs": r"""
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                       AS total_tokens,
                   CAST(SUM(len(regexp_extract_all(text,
                       ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+')))
                       AS BIGINT) AS total_bpe_tokens,
                   MAX(length(text)) AS max_chars
            FROM documents GROUP BY source
        """,
        "stopword_ratio_docs": f"""
            WITH q AS (
              SELECT source,
                     len(list_filter(string_split(text, ' '),
                                     x -> x IN {stop_list})) * 1.0 /
                       greatest(len(string_split(text, ' ')), 1)
                         AS stopword_ratio,
                     (length(text) - length(regexp_replace(text,
                          '[^\\w\\s]', '', 'g'))) * 1.0 /
                       greatest(length(text), 1) AS punct_ratio
              FROM documents)
            SELECT source, ROUND(AVG(stopword_ratio), 6) AS avg_stop_ratio,
                   ROUND(AVG(punct_ratio), 6) AS avg_punct_ratio,
                   COUNT(*) AS n_docs
            FROM q GROUP BY source
        """,
        "fingerprint_docs": """
            SELECT doc_id,
                   md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS fp
            FROM documents
        """,
        "ann_cosine_topk_docs": """
            WITH q AS (SELECT embedding AS qv FROM embeddings
                       WHERE vec_id = 0)
            SELECT vec_id,
                   ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(q.qv AS DOUBLE[])) /
                         (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                CAST(e.embedding AS DOUBLE[]))) *
                          sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]),
                                                CAST(q.qv AS DOUBLE[])))), 6)
                       AS cosine
            FROM embeddings e, q WHERE e.vec_id <> 0
            ORDER BY cosine DESC, vec_id ASC LIMIT 10
        """,
        "lang_counts_docs": """
            WITH langs(lg, sw) AS (VALUES
              ('de', ['der','die','das','und','ist','ein','eine','zu','mit']),
              ('en', ['the','a','of','and','in','to','is','was','on','for']),
              ('es', ['el','la','los','y','es','un','una','de','para']),
              ('fr', ['le','la','les','et','est','un','une','de','pour'])),
            scored AS (
              SELECT d.doc_id, d.source,
                     max(struct_pack(
                         score := len(list_filter(string_split(d.text, ' '),
                                                  x -> list_contains(l.sw, x)))
                                  * 1.0 /
                                  greatest(len(string_split(d.text, ' ')), 1),
                         lang := l.lg)) AS best
              FROM documents d CROSS JOIN langs l
              GROUP BY d.doc_id, d.source)
            SELECT source,
                   CASE WHEN best.score > 0 THEN best.lang
                        ELSE 'und' END AS lang_pred,
                   COUNT(*) AS n_docs
            FROM scored GROUP BY source, lang_pred
        """,
        "clean_text_docs": r"""
            WITH c AS (SELECT doc_id,
                              trim(regexp_replace(regexp_replace(
                                  nfc_normalize(COALESCE(text, '')),
                                  '[\x00-\x1f\x7f]', ' ', 'g'),
                                  '[ \t\n\r\f]+', ' ', 'g'), ' ')
                                  AS clean_text
                       FROM documents)
            SELECT doc_id, md5(clean_text) AS clean_fp,
                   length(clean_text) AS n_chars_clean
            FROM c
        """,
        "length_percentiles_docs": """
            SELECT source, COUNT(*) AS n_docs,
                   quantile_cont(CAST(len(string_split(text, ' '))
                                      AS DOUBLE), 0.5) AS p5,
                   quantile_cont(CAST(len(string_split(text, ' '))
                                      AS DOUBLE), 0.9) AS p9,
                   quantile_cont(CAST(len(string_split(text, ' '))
                                      AS DOUBLE), 0.99) AS p99
            FROM documents GROUP BY source
        """,
        "unigram_logloss_docs": """
            WITH w AS (SELECT doc_id, unnest(string_split(text, ' '))
                              AS word FROM documents),
            wf AS (SELECT doc_id, word FROM w WHERE word <> ''),
            freq AS (SELECT word, COUNT(*) AS cnt FROM wf GROUP BY word),
            tot AS (SELECT SUM(cnt) AS total FROM freq)
            SELECT doc_id,
                   ROUND(AVG(-ln(cnt * 1.0 / total)), 6) AS logloss,
                   COUNT(*) AS n_words
            FROM wf JOIN freq USING (word) CROSS JOIN tot
            GROUP BY doc_id
        """,
        # tfidf_topk_docs: rank on the 6dp-ROUNDed score (both engines)
        # with word-ascending tiebreak, so the top-k cut is identical
        # even where ln() differs in the last ulp between JVM and DuckDB.
        "tfidf_topk_docs": """
            WITH w AS (SELECT doc_id, unnest(string_split(text, ' '))
                              AS word FROM documents),
            wf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w
                   WHERE word <> '' GROUP BY doc_id, word),
            dfq AS (SELECT word, COUNT(*) AS df FROM wf GROUP BY word),
            nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs
                   FROM documents),
            s AS (SELECT doc_id, word, tf, df,
                         ROUND(tf * ln(n_docs * 1.0 / df), 6) AS tfidf
                  FROM wf JOIN dfq USING (word) CROSS JOIN nd),
            r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY tfidf DESC, word ASC) AS rnk
                  FROM s)
            SELECT doc_id, word, tf, df, tfidf, rnk FROM r WHERE rnk <= 5
        """,
        "stratified_sample_docs": _stratified_sample_oracle(),
        "contamination_docs": _contamination_oracle(),
        # media_meta_docs: the oracle re-derives sizes/dims from the same
        # doc_id arithmetic the media generator uses; the Spark side must
        # round-trip them through real blob encode → header parse.
        "media_meta_docs": """
            WITH m AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 <> 0 THEN 'image'
                          ELSE 'audio' END AS kind,
                     CASE WHEN doc_id % 3 <> 0
                          THEN 16 + doc_id % 16 END AS width,
                     CASE WHEN doc_id % 3 = 1
                          THEN 9 + (16 + doc_id % 16) * (12 + doc_id % 8) * 3
                          WHEN doc_id % 3 = 2 THEN 41
                          WHEN doc_id % 6 = 3
                          THEN 10 + (2 + doc_id % 5) * 417
                          ELSE 12 + (1024 + (doc_id % 7) * 256) * 4
                          END AS n_bytes,
                     CASE WHEN doc_id % 6 = 3
                          THEN (2 + doc_id % 5) * 1152
                          WHEN doc_id % 3 = 0
                          THEN 1024 + (doc_id % 7) * 256 END AS n_samples
              FROM documents WHERE doc_id < 300)
            SELECT kind, COUNT(*) AS n,
                   CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
                   CAST(MIN(width) AS BIGINT) AS min_w,
                   CAST(MAX(width) AS BIGINT) AS max_w,
                   CAST(SUM(n_samples) AS BIGINT) AS total_samples
            FROM m GROUP BY kind
        """,
        "simhash_docs": """
            WITH w AS (SELECT doc_id, unnest(string_split(text, ' '))
                              AS word FROM documents),
            h AS (SELECT doc_id, md5_number_lower(word) AS hv FROM w),
            b AS (SELECT doc_id, bit,
                         (SUM(CASE WHEN ((hv >> bit) & 1) = 1
                                   THEN 1 ELSE 0 END) * 2
                            >= COUNT(*)) AS isset
                  FROM h CROSS JOIN (SELECT unnest(range(64)) AS bit) bits
                  GROUP BY doc_id, bit)
            SELECT doc_id,
                   CAST(SUM(CASE WHEN NOT isset THEN 0
                                 WHEN bit = 63 THEN -9223372036854775808
                                 ELSE (CAST(1 AS BIGINT) << bit)
                            END) AS BIGINT) AS simhash
            FROM b GROUP BY doc_id
        """,
        "minhash_lsh_pairs_docs": _minhash_lsh_oracle(),
        # neardup_clusters_docs: the LSH pair SQL above feeds a
        # RECURSIVE-CTE reachability closure (the SQL twin of
        # `graph.connected_components`), then one rollup row per dup
        # cluster. End-to-end pipeline oracle: signatures → banding →
        # graph → clusters.
        "neardup_clusters_docs": f"""
            WITH RECURSIVE pairs AS ({_minhash_lsh_oracle()}),
            e AS (SELECT a AS u, b AS v FROM pairs
                  UNION SELECT b, a FROM pairs),
            reach(id, lbl) AS (
                SELECT u, u FROM e
                UNION
                SELECT e.u, r.lbl FROM reach r JOIN e ON r.id = e.v
            ),
            comp AS (SELECT id, MIN(lbl) AS cluster FROM reach
                     GROUP BY id)
            SELECT cluster, COUNT(*) AS n_docs,
                   MIN(id) AS min_doc, MAX(id) AS max_doc
            FROM comp GROUP BY cluster
        """,
        "embedding_near_dups_docs": f"""
            WITH b AS (SELECT vec_id, embedding,
                              ({_coord_bucket_sql('embedding')}) AS bucket,
                              sqrt(list_dot_product(
                                  CAST(embedding AS DOUBLE[]),
                                  CAST(embedding AS DOUBLE[]))) AS nrm
                       FROM embeddings),
            p AS (SELECT l.vec_id AS pa, r.vec_id AS pb,
                         list_dot_product(CAST(l.embedding AS DOUBLE[]),
                                          CAST(r.embedding AS DOUBLE[]))
                             / (l.nrm * r.nrm) AS cos_raw
                  FROM b l JOIN b r
                    ON l.bucket = r.bucket AND l.vec_id < r.vec_id)
            SELECT pa AS a, pb AS b, ROUND(cos_raw, 6) AS cosine
            FROM p WHERE cos_raw >= 0.3
        """,
        "entity_resolution_docs": f"""
            WITH RECURSIVE bkt AS (
                SELECT vec_id, embedding,
                       ({_coord_bucket_sql('embedding')}) AS bucket,
                       sqrt(list_dot_product(
                           CAST(embedding AS DOUBLE[]),
                           CAST(embedding AS DOUBLE[]))) AS nrm
                FROM embeddings),
            p AS (SELECT l.vec_id AS a, r.vec_id AS b
                  FROM bkt l JOIN bkt r
                    ON l.bucket = r.bucket AND l.vec_id < r.vec_id
                  WHERE list_dot_product(CAST(l.embedding AS DOUBLE[]),
                                         CAST(r.embedding AS DOUBLE[]))
                        / (l.nrm * r.nrm) >= 0.3),
            e AS (SELECT a AS u, b AS v FROM p
                  UNION SELECT b, a FROM p),
            reach(id, lbl) AS (
                SELECT u, u FROM e
                UNION
                SELECT e.u, r.lbl FROM reach r JOIN e ON r.id = e.v),
            comp AS (SELECT id, MIN(lbl) AS c FROM reach GROUP BY id)
            SELECT emb.vec_id AS entity,
                   COALESCE(comp.c, emb.vec_id) AS canonical
            FROM embeddings emb LEFT JOIN comp ON comp.id = emb.vec_id
        """,
        "entity_resolution_typed_docs": f"""
            WITH RECURSIVE bkt AS (
                SELECT vec_id, embedding,
                       ({_coord_bucket_sql('embedding')}) AS bucket,
                       sqrt(list_dot_product(
                           CAST(embedding AS DOUBLE[]),
                           CAST(embedding AS DOUBLE[]))) AS nrm
                FROM embeddings),
            -- the type-agreement guard: pairs must share vec_id % 3
            p AS (SELECT l.vec_id AS a, r.vec_id AS b
                  FROM bkt l JOIN bkt r
                    ON l.bucket = r.bucket AND l.vec_id < r.vec_id
                   AND l.vec_id % 3 = r.vec_id % 3
                  WHERE list_dot_product(CAST(l.embedding AS DOUBLE[]),
                                         CAST(r.embedding AS DOUBLE[]))
                        / (l.nrm * r.nrm) >= 0.3),
            e AS (SELECT a AS u, b AS v FROM p
                  UNION SELECT b, a FROM p),
            reach(id, lbl) AS (
                SELECT u, u FROM e
                UNION
                SELECT e.u, r.lbl FROM reach r JOIN e ON r.id = e.v),
            comp AS (SELECT id, MIN(lbl) AS c FROM reach GROUP BY id)
            SELECT emb.vec_id AS entity,
                   COALESCE(comp.c, emb.vec_id) AS canonical
            FROM embeddings emb LEFT JOIN comp ON comp.id = emb.vec_id
        """,
        "ann_index_topk_docs": f"""
            WITH q AS (SELECT embedding AS qv FROM embeddings
                       WHERE vec_id = 0),
            qb AS (SELECT ({_coord_bucket_sql('qv')}) AS b FROM q),
            probes AS (SELECT DISTINCT xor(b, p) AS pb FROM qb,
                       (SELECT unnest([0, 1, 2, 4, 8]) AS p)),
            c AS (SELECT vec_id, embedding,
                         ({_coord_bucket_sql('embedding')}) AS bucket
                  FROM embeddings WHERE vec_id <> 0)
            SELECT vec_id,
                   ROUND({_COS.format(a='c.embedding', b='q.qv')}, 6)
                       AS cosine
            FROM c, q WHERE bucket IN (SELECT pb FROM probes)
            ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        "ivf_ann_topk_docs": f"""
            WITH q AS (SELECT embedding AS qv FROM embeddings
                       WHERE vec_id = 0),
            cents AS (SELECT row_number() OVER (
                                 ORDER BY md5('7:' || CAST(vec_id AS VARCHAR)),
                                          vec_id) - 1 AS cid,
                             embedding AS cv
                      FROM embeddings WHERE vec_id <> 0
                      ORDER BY md5('7:' || CAST(vec_id AS VARCHAR)), vec_id
                      LIMIT 16),
            probes AS (SELECT cid FROM cents, q
                       ORDER BY {_COS.format(a='cv', b='qv')} DESC, cid
                       LIMIT 4),
            scored AS (SELECT e.vec_id,
                              {_COS.format(a='e.embedding', b='q.qv')}
                                  AS cosine,
                              max(struct_pack(
                                  c := {_COS.format(a='e.embedding',
                                                    b='c2.cv')},
                                  cid := c2.cid)) AS best
                       FROM embeddings e, q, cents c2
                       WHERE e.vec_id <> 0
                       GROUP BY 1, 2)
            SELECT vec_id, ROUND(cosine, 6) AS cosine
            FROM scored WHERE best.cid IN (SELECT cid FROM probes)
            ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        # kg_triples_docs / kg_vertices / kg_duke_describe /
        # kg_conv_topics: the pandas-UDF embedding matmul + ontology tree
        # fold are not SQL-expressible, so their oracles are GOLDEN PARQUET
        # tables materialized entirely without Spark by the sequential
        # NumPy mini-Duke (scripts/make_kg_golden.py; semantics pinned to
        # the reference in kernel/oracle.py). Appended below per sf dir.
        **_kg_golden_oracles(),
    }


def _kg_pagerank_oracle(rp, iters: int = 5, damping: float = 0.85) -> str:
    """DuckDB twin of graph.pagerank: the power iteration UNROLLED as
    chained CTEs (recursive CTEs can't aggregate over the recursive
    relation, so fixed-K unrolling is the SQL-expressible form). The
    damped-update literals are emitted with repr() so the SQL uses the
    exact same doubles Python computes (1.0 - 0.85 is NOT 0.15 in
    binary); residual cross-engine drift is summation order, absorbed by
    the 6dp round both sides apply."""
    base = 1.0 - damping
    parts = [f"""e AS (SELECT DISTINCT subj, pred, obj
                       FROM {rp('kg_triples')}),
            ed AS (SELECT subj AS src, obj AS dst FROM e),
            outd AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS od FROM ed
                     GROUP BY src),
            norm AS (SELECT ed.src, ed.dst, CAST(1.0 AS DOUBLE) / od
                         AS frac
                     FROM ed JOIN outd USING (src)),
            verts AS (SELECT src AS id FROM ed
                      UNION SELECT dst FROM ed),
            nv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),
            pr0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS r FROM verts)"""]
    prev = "pr0"
    for i in range(1, iters + 1):
        parts.append(f"""c{i} AS (SELECT norm.dst AS id,
                        SUM(frac * p.r) AS contrib
                 FROM norm JOIN {prev} p ON norm.src = p.id
                 GROUP BY norm.dst),
            t{i} AS (SELECT COALESCE(SUM(contrib), CAST(0 AS DOUBLE))
                         AS tot FROM c{i}),
            pr{i} AS (SELECT v.id,
                         CAST({base!r} AS DOUBLE) +
                         CAST({damping!r} AS DOUBLE) *
                         (COALESCE(c{i}.contrib, CAST(0 AS DOUBLE)) +
                          (nv.n - t{i}.tot) / nv.n) AS r
                  FROM verts v LEFT JOIN c{i} ON v.id = c{i}.id
                  CROSS JOIN t{i} CROSS JOIN nv)""")
        prev = f"pr{i}"
    return ("WITH " + ",\n            ".join(parts) +
            f"\n            SELECT id, ROUND(r, 6) AS rank FROM {prev}")


def _nt_enc_sql(col: str) -> str:
    """DuckDB twin of rdf._enc: the same ordered literal-replace chain
    ('%' first), emitted as nested replace() calls."""
    from duke_spark.operators.rdf import _IRI_ENC
    expr = col
    for raw, pct in _IRI_ENC:
        raw_sql = raw.replace("'", "''")
        expr = f"replace({expr}, '{raw_sql}', '{pct}')"
        if raw == "\t":
            expr = expr.replace("'\t'", "chr(9)")
    return expr


def _kg_golden_oracles() -> dict[str, str]:
    """Oracle SQL for the four KG queries: SELECT from the golden parquet
    written by ``scripts/make_kg_golden.py`` for the active sf dir (the
    grading driver compares at sf0.01; ``SF_DIR`` overrides for local
    check_contract runs). Falls back to rows-only (no entry) when no
    golden exists for the sf, e.g. ad-hoc scale dirs."""
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    golden = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "duke_spark", "fixtures", "golden",
                          os.path.basename(os.path.normpath(sf_dir)))
    if not os.path.isdir(golden):
        return {}

    def rp(name: str) -> str:
        return f"read_parquet('{os.path.join(golden, name)}.parquet')"

    return {
        "kg_triples_docs": f"""
            SELECT subj, pred, obj, conv_id, turn_idx,
                   ROUND(score, 6) AS score
            FROM {rp('kg_triples')}
        """,
        "kg_vertices": f"""
            SELECT id, label, kind, canonical_type, ROUND(score, 6) AS score
            FROM {rp('kg_vertices')}
        """,
        "kg_duke_describe": f"""
            SELECT conv_id, top_class, description, n_sources
            FROM {rp('kg_duke_describe')}
        """,
        "kg_conv_topics": f"""
            SELECT conv_id, topic, description, n_mentions
            FROM {rp('kg_conv_topics')}
        """,
        # kg_degrees / kg_two_hop: the Spark side runs the LIVE pipeline
        # (extract_triples → build_edges → analytics); the oracle
        # re-derives the same integer counts in SQL from the golden
        # triples, so a linking/extraction/aggregation bug anywhere in
        # the pipeline breaks these hashes too (float-free → exact).
        "kg_degrees": f"""
            WITH e AS (SELECT DISTINCT subj, pred, obj
                       FROM {rp('kg_triples')}),
            o AS (SELECT subj AS id, COUNT(*) AS out_deg FROM e
                  GROUP BY subj),
            i AS (SELECT obj AS id, COUNT(*) AS in_deg FROM e
                  GROUP BY obj)
            SELECT COALESCE(o.id, i.id) AS id,
                   COALESCE(out_deg, 0) AS out_deg,
                   COALESCE(in_deg, 0) AS in_deg,
                   COALESCE(out_deg, 0) + COALESCE(in_deg, 0) AS degree
            FROM o FULL OUTER JOIN i ON o.id = i.id
        """,
        "kg_two_hop": f"""
            WITH e AS (SELECT DISTINCT subj, pred, obj
                       FROM {rp('kg_triples')}),
            d AS (SELECT obj AS mid, COUNT(*) AS d_in FROM e
                  GROUP BY obj HAVING COUNT(*) <= 10000),
            l AS (SELECT e.subj AS a, e.obj AS b FROM e
                  JOIN d ON e.obj = d.mid),
            r AS (SELECT subj AS b, obj AS c FROM e)
            SELECT a, c, COUNT(*) AS n_paths
            FROM l JOIN r USING (b) WHERE a <> c GROUP BY a, c
        """,
        # kg_components: the Spark side closes the edge list in one
        # NumPy min-label kernel; the oracle computes the same labels as
        # a recursive reachability closure (id, reachable-label) and
        # takes MIN per id — component label = min vertex id, both
        # sides.
        "kg_components": f"""
            WITH RECURSIVE b AS (SELECT DISTINCT subj AS u, obj AS v
                                 FROM {rp('kg_triples')}),
            e AS (SELECT u, v FROM b UNION SELECT v, u FROM b),
            reach(id, lbl) AS (
                SELECT u, u FROM e
                UNION
                SELECT e.u, r.lbl FROM reach r JOIN e ON r.id = e.v
            )
            SELECT id AS node, MIN(lbl) AS comp FROM reach GROUP BY id
        """,
        "kg_pagerank": _kg_pagerank_oracle(rp),
        "kg_pattern_match": f"""
            WITH g AS (SELECT DISTINCT subj, pred, obj
                       FROM {rp('kg_triples')})
            SELECT DISTINCT m.subj AS conv, m.obj AS e1,
                            c.obj AS e2, u.obj AS tool
            FROM g m
            JOIN g c ON c.subj = m.obj AND c.pred = 'co_mentioned'
            JOIN g u ON u.subj = c.obj AND u.pred = 'used_tool'
            WHERE m.pred = 'mentions'
        """,
        "kg_pattern_optional": f"""
            WITH g AS (SELECT DISTINCT subj, pred, obj
                       FROM {rp('kg_triples')}),
            m AS (SELECT DISTINCT subj AS conv, obj AS e
                  FROM g WHERE pred = 'mentions'),
            opt AS (SELECT DISTINCT subj AS e, obj AS nbr
                    FROM g WHERE pred = 'co_mentioned')
            SELECT DISTINCT m.conv, m.e, COALESCE(opt.nbr, '∅') AS nbr
            FROM m LEFT JOIN opt USING (e)
            WHERE NOT EXISTS (SELECT 1 FROM g n
                              WHERE n.pred = 'used_tool'
                                AND n.subj = m.e
                                AND n.obj = 'tool:de')
        """,
        "kg_typed_pattern": f"""
            WITH m AS (SELECT DISTINCT subj AS conv, obj AS e
                       FROM {rp('kg_triples')} WHERE pred = 'mentions')
            SELECT m.conv, v.canonical_type,
                   COUNT(DISTINCT m.e) AS n_entities
            FROM m JOIN {rp('kg_vertices')} v ON v.id = m.e
            GROUP BY m.conv, v.canonical_type
        """,
        "kg_negative_samples": f"""
            WITH g AS (SELECT DISTINCT subj, pred, obj
                       FROM {rp('kg_triples')}),
            pool AS (SELECT entity,
                            ROW_NUMBER() OVER (ORDER BY entity) - 1
                            AS idx
                     FROM (SELECT DISTINCT obj AS entity
                           FROM {rp('kg_triples')})),
            n AS (SELECT COUNT(*) AS c FROM pool),
            cand AS (
                SELECT g.subj, g.pred, g.obj, j.j AS neg_j,
                       ('0x' || substr(md5(g.subj || '|' || g.pred ||
                            '|' || g.obj || '|' || j.j::VARCHAR),
                            17, 12))::BIGINT % (SELECT c FROM n) AS idx
                FROM g CROSS JOIN (SELECT j FROM
                                   generate_series(0, 1) t(j)) j)
            SELECT c.subj, c.pred, c.obj, c.neg_j,
                   p.entity AS neg_obj,
                   EXISTS (SELECT 1 FROM g x
                           WHERE x.subj = c.subj AND x.pred = c.pred
                             AND x.obj = p.entity) AS is_false_neg
            FROM cand c JOIN pool p USING (idx)
        """,
        "kg_fact_split": f"""
            WITH g AS (SELECT DISTINCT subj, pred, obj
                       FROM {rp('kg_triples')})
            SELECT subj, pred, obj,
                   CASE WHEN b < 80 THEN 'train'
                        WHEN b < 90 THEN 'valid'
                        ELSE 'test' END AS split
            FROM (SELECT *,
                         ('0x' || substr(md5('split' || '|' || subj ||
                              '|' || pred || '|' || obj),
                              17, 12))::BIGINT % 100 AS b
                  FROM g)
        """,
        "kg_fact_support": f"""
            SELECT subj, pred, obj,
                   COUNT(*) AS n_support,
                   COUNT(DISTINCT conv_id) AS n_convs,
                   ROUND(MAX(score), 6) AS max_score,
                   ROUND(AVG(score), 6) AS mean_score
            FROM {rp('kg_triples')}
            GROUP BY subj, pred, obj
        """,
        "kg_validate": f"""
            WITH g AS (SELECT DISTINCT subj, pred, obj
                       FROM {rp('kg_triples')})
            SELECT 'empty_term' AS rule, pred, subj, obj FROM g
            WHERE subj IS NULL OR obj IS NULL
               OR trim(subj) = '' OR trim(obj) = ''
            UNION ALL
            SELECT 'closed_vocab', pred, subj, obj FROM g
            WHERE pred NOT IN ('mentions', 'co_mentioned', 'used_tool')
            UNION ALL
            SELECT 'subject_prefix', pred, subj, obj FROM g
            WHERE (pred = 'mentions' AND subj NOT LIKE 'conv:%')
               OR (pred = 'co_mentioned' AND subj NOT LIKE 'ent:%')
               OR (pred = 'used_tool' AND subj NOT LIKE 'ent:%')
            UNION ALL
            SELECT 'object_prefix', pred, subj, obj FROM g
            WHERE (pred = 'mentions' AND obj NOT LIKE 'ent:%')
               OR (pred = 'co_mentioned' AND obj NOT LIKE 'ent:%')
               OR (pred = 'used_tool' AND obj NOT LIKE 'tool:%')
            UNION ALL
            SELECT 'irreflexive', pred, subj, obj FROM g
            WHERE pred = 'co_mentioned' AND subj = obj
            UNION ALL
            SELECT 'subject_domain', pred, subj, obj FROM g
            WHERE pred = 'used_tool'
              AND subj NOT IN (SELECT obj FROM g WHERE pred = 'mentions')
            UNION ALL
            SELECT 'max_cardinality', pred, subj, obj FROM g
            WHERE pred = 'used_tool' AND subj IN (
                SELECT subj FROM (
                    SELECT subj, COUNT(DISTINCT obj) AS n FROM g
                    WHERE pred = 'used_tool' GROUP BY subj)
                WHERE n > 1)
        """,
        "kg_reachability": f"""
            WITH RECURSIVE e AS (
                SELECT DISTINCT subj AS src, obj AS dst
                FROM {rp('kg_triples')} WHERE pred = 'co_mentioned'),
            walk(src, dst, hops) AS (
                SELECT src, dst, 1 FROM e
                UNION ALL
                SELECT w.src, e.dst, w.hops + 1
                FROM walk w JOIN e ON e.src = w.dst
                WHERE w.hops < 3)
            SELECT src, dst, MIN(hops) AS hops
            FROM walk GROUP BY src, dst
        """,
        "kg_ntriples": f"""
            SELECT '<urn:duke:' || {_nt_enc_sql('subj')} ||
                   '> <urn:duke:rel:' || {_nt_enc_sql('pred')} ||
                   '> <urn:duke:' || {_nt_enc_sql('obj')} || '> .' AS nt
            FROM (SELECT DISTINCT subj, pred, obj FROM {rp('kg_triples')})
        """,
        "kg_entity_timeline": f"""
            WITH m AS (SELECT conv_id, turn_idx, obj AS entity
                       FROM {rp('kg_triples')}
                       WHERE pred = 'mentions'),
            j AS (SELECT entity, conv_id,
                         TIMESTAMP '2026-01-01 00:00:00' +
                             turn_idx * INTERVAL 1 MINUTE AS ts
                  FROM m)
            SELECT entity, MIN(ts) AS first_seen, MAX(ts) AS last_seen,
                   COUNT(DISTINCT conv_id) AS n_convs,
                   COUNT(*) AS n_mentions
            FROM j GROUP BY entity
        """,
        "kg_entity_pmi": f"""
            -- one event space for pairs, marginals, AND total: convs
            -- with <= 10000 distinct entities (the operator's hub cap)
            WITH ents0 AS (SELECT DISTINCT conv_id, obj AS entity
                           FROM {rp('kg_triples')}
                           WHERE pred = 'mentions'),
            keep AS (SELECT conv_id FROM ents0 GROUP BY conv_id
                     HAVING COUNT(*) <= 10000),
            ents AS (SELECT ents0.* FROM ents0
                     JOIN keep USING (conv_id)),
            tot AS (SELECT COUNT(DISTINCT conv_id) AS n_total FROM ents),
            marg AS (SELECT entity, COUNT(*) AS n_convs FROM ents
                     GROUP BY entity),
            pairs AS (SELECT l.entity AS ent_a, r.entity AS ent_b,
                             COUNT(*) AS n_pairs
                      FROM ents l JOIN ents r
                        ON l.conv_id = r.conv_id AND l.entity < r.entity
                      GROUP BY 1, 2)
            SELECT ent_a, ent_b, n_pairs,
                   ROUND(ln(n_pairs * 1.0 * n_total /
                            (ma.n_convs * 1.0 * mb.n_convs)), 6) AS pmi
            FROM pairs
            JOIN marg ma ON pairs.ent_a = ma.entity
            JOIN marg mb ON pairs.ent_b = mb.entity
            CROSS JOIN tot
        """,
    }
