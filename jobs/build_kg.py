"""spark-submit entry: build the knowledge graph from a transcript table.

Usage (sandbox two-scale proxy, SURVEY B11):
    spark-submit --py-files dist/duke_spark.zip jobs/build_kg.py \
        --input /path/transcripts.parquet --out /tmp/kg --parallelism 8
    python jobs/build_kg.py --convs 2000 --out /tmp/kg --parallelism 32

With --convs N (no --input) a deterministic synthetic transcript table is
generated (seed 42, 30% hot-conversation skew) so both cluster sizes see
the identical input. Emits one JSON line of metrics (triples/sec etc.).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="transcripts parquet path (or iceberg table with --format iceberg)")
    ap.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    ap.add_argument("--convs", type=int, default=500,
                    help="synthesize this many conversations if no --input")
    ap.add_argument("--max-turns", type=int, default=24)
    ap.add_argument("--hot-frac", type=float, default=0.3)
    ap.add_argument("--out", required=True)
    ap.add_argument("--parallelism", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--num-parts", type=int, default=64)
    ap.add_argument("--graph", action="store_true",
                    help="also materialize vertices/edges parquet")
    ap.add_argument("--export-nt", action="store_true",
                    help="also export the triples as RDF N-Triples text"
                         " (<out>/kg.nt; rejected control-char rows"
                         " counted in metrics)")
    ap.add_argument("--validate", action="store_true",
                    help="run the SHACL-lite quality gate over the"
                         " emitted triples (<out>/violations parquet;"
                         " per-rule counts in metrics)")
    ap.add_argument("--fact-support", action="store_true",
                    help="also materialize the per-fact provenance"
                         " rollup (<out>/fact_support parquet)")
    ap.add_argument("--partition-triples", action="store_true",
                    help="also write a predicate-partitioned triple"
                         " store (<out>/triples_by_pred, Hive layout):"
                         " BGP constant predicates prune whole"
                         " partitions instead of filtering row groups")
    ap.add_argument("--resolve", type=float, metavar="THRESHOLD",
                    help="entity resolution: merge entities whose"
                         " linking-space embeddings have cosine >="
                         " THRESHOLD; writes <out>/merge_map and"
                         " <out>/triples_resolved parquet. When nothing"
                         " merges the rewrite is skipped: downstream"
                         " stages read the checkpoint store, and a"
                         " triples_resolved left by an earlier run is"
                         " removed")
    ap.add_argument("--resolve-guard", action="store_true",
                    help="with --resolve: require canonical-type"
                         " agreement (B6 tree fold) before two labels"
                         " merge — cosine alone is not merge evidence")
    ap.add_argument("--scale", default="mini", choices=["mini", "reference"],
                    help="embedding/ontology scale: mini (D=32, ~30 classes,"
                         " test fixture) or reference (D=1000, 788 classes —"
                         " the reference's wiki2vec/DBpedia dims)")
    ap.add_argument("--model",
                    help="real embedding model (word2vec .txt/.vec, .npz,"
                         " gensim .kv, or <stem>.npy distributable) —"
                         " distributed to executors via SparkFiles + mmap;"
                         " overrides --scale's fixture embedding")
    ap.add_argument("--ontology",
                    help="class-tree JSON (e.g. from"
                         " scripts/prepare_ontology.py); with --model this"
                         " runs the real DBpedia path end to end")
    ap.add_argument("--warmup", action="store_true",
                    help="run the extraction once untimed first (steady-state"
                         " throughput: long-lived executors, as on a cluster)")
    args = ap.parse_args()

    from duke_spark.config import get_spark
    from duke_spark.pipeline import build_kg, make_context
    from duke_spark.plans.checkpoint import TripleCheckpoint
    from duke_spark.plans.metrics import StageMetrics
    from duke_spark.sources.transcripts import read_transcripts

    spark = get_spark("build_kg", master=f"local[{args.parallelism}]",
                      shuffle_partitions=max(8, args.parallelism))
    metrics = StageMetrics()

    if args.input:
        transcripts = read_transcripts(spark, args.input, args.format)
        input_desc = args.input
    else:
        from duke_spark.fixtures.transcripts import (generate_transcripts,
                                                     spark_transcripts)
        pdf = generate_transcripts(n_convs=args.convs,
                                   max_turns=args.max_turns, seed=42,
                                   hot_frac=args.hot_frac)
        src = os.path.join(args.out, "_input", "transcripts.parquet")
        os.makedirs(os.path.dirname(src), exist_ok=True)
        pdf.to_parquet(src, index=False)
        transcripts = read_transcripts(spark, src)
        input_desc = f"synthetic(convs={args.convs}, turns={len(pdf)})"
    # repartition to the worker count so the narrow UDF stage uses all cores
    transcripts = transcripts.repartition(args.parallelism * 2).persist()
    n_turns = transcripts.count()

    raw_tree = None
    if args.ontology:
        from duke_spark.sources.ontology import load_dbpedia_tree
        raw_tree = load_dbpedia_tree(args.ontology)
    if args.model:
        from duke_spark.sources.embedding_model import mmap_link_context
        if raw_tree is None:
            from duke_spark.fixtures.class_tree import mini_tree
            raw_tree = mini_tree()
        ctx_bc = mmap_link_context(
            spark, args.model, raw_tree,
            work_dir=os.path.join(args.out, "_model"))
    elif args.scale == "reference":
        from duke_spark.fixtures.scale import scale_arrays
        vocab, matrix, tree = scale_arrays()
        ctx_bc = make_context(spark, vocab=vocab, matrix=matrix,
                              raw_tree=raw_tree or tree)
    else:
        ctx_bc = make_context(spark, raw_tree=raw_tree)

    if args.warmup:
        from duke_spark.operators.triples import extract_triples
        extract_triples(transcripts, ctx_bc).count()

    ck = TripleCheckpoint(args.out, num_parts=args.num_parts)
    t0 = time.time()
    res = ck.run(spark, transcripts, ctx_bc,
                 input_path=input_desc)
    elapsed = time.time() - t0
    n_triples = res["rows"]
    metrics.record("triples", rows=n_triples, wall_seconds=elapsed,
                   triples_per_sec=n_triples / elapsed if elapsed else 0.0,
                   turns=n_turns, parallelism=args.parallelism,
                   skipped_parts=res["skipped"])
    if not args.graph:
        # extraction is the only consumer (--graph rebuilds from the
        # transcripts later); a turn-cardinality cache held across the
        # post stages squeezes the heap their aggregation hash tables
        # need — measured as fact_support running ~50% slower in-job
        # than standalone on the same input
        transcripts.unpersist()

    # --resolve runs FIRST among the post-processing stages: when set,
    # export/validate/fact-support all consume the RESOLVED triples
    # (read back from parquet, so the embed+merge pipeline runs once)
    triples_src = ck.read_triples(spark)
    if args.resolve is not None:
        from duke_spark.operators.entity_resolution import \
            resolve_kg_entities
        with metrics.time_stage("resolve_entities"):
            mm, resolved = resolve_kg_entities(
                triples_src, ctx_bc, threshold=args.resolve,
                type_guard=args.resolve_guard)
            n_merged = mm.count()  # persisted inside resolve_kg_entities
            mm.write.mode("overwrite").parquet(
                os.path.join(args.out, "merge_map"))
            resolved_path = os.path.join(args.out, "triples_resolved")
            if n_merged:
                resolved.write.mode("overwrite").parquet(resolved_path)
            else:
                # a rerun into an existing --out must not leave an
                # earlier run's rewrite beside this run's merge map
                shutil.rmtree(resolved_path, ignore_errors=True)
            mm.unpersist()
            metrics.record("resolve_merged", rows=n_merged,
                           rewrite="written" if n_merged
                           else "skipped (identity: 0 merges)")
        if n_merged:
            triples_src = spark.read.parquet(resolved_path)
        # else: resolved IS triples_src (identity map) — downstream
        # stages keep reading the checkpoint store directly

    if args.export_nt:
        from duke_spark.operators.rdf import write_ntriples
        with metrics.time_stage("export_nt"):
            n_rejected = write_ntriples(triples_src,
                                        os.path.join(args.out, "kg.nt"))
            metrics.record("export_nt_rejects", rows=n_rejected)

    if args.validate:
        from pyspark.sql import functions as F

        from duke_spark.operators.validation import validate_graph
        with metrics.time_stage("validate"):
            report = validate_graph(triples_src, {
                "mentions": {"subject_prefix": "conv:",
                             "object_prefix": "ent:"},
                "co_mentioned": {"subject_prefix": "ent:",
                                 "object_prefix": "ent:",
                                 "irreflexive": True},
                # no max_distinct_objects bound here: multi-tool use is
                # legal in production; the kg_validate contract query
                # adds the bound purely to exercise the cardinality rule
                "used_tool": {"subject_prefix": "ent:",
                              "object_prefix": "tool:",
                              "subject_in": ("mentions", "obj")},
            }, closed=True)
            report.write.mode("overwrite").parquet(
                os.path.join(args.out, "violations"))
            by_rule = {r["rule"]: int(r["n"]) for r in
                       spark.read.parquet(os.path.join(args.out,
                                                       "violations"))
                       .groupBy("rule").agg(F.count("*").alias("n"))
                       .collect()}
            metrics.record("validate_violations", **(by_rule or
                                                     {"none": 0}))

    if args.fact_support:
        from duke_spark.operators.triples import fact_support
        with metrics.time_stage("fact_support"):
            fact_support(triples_src).write.mode(
                "overwrite").parquet(os.path.join(args.out,
                                                  "fact_support"))

    if args.partition_triples:
        from duke_spark.sources.triple_store import write_triple_store
        with metrics.time_stage("partition_triples"):
            write_triple_store(triples_src,
                               os.path.join(args.out, "triples_by_pred"))

    if args.graph:
        # vertices/edges rebuild from the transcripts (they need the
        # mention table, not just triples) — UNRESOLVED; apply the
        # written merge_map with apply_entity_merge downstream if the
        # resolved graph is wanted
        with metrics.time_stage("graph"):
            kg = build_kg(spark, transcripts, ctx_bc)
            kg["vertices"].write.mode("overwrite").parquet(
                os.path.join(args.out, "vertices"))
            kg["edges"].write.mode("overwrite").parquet(
                os.path.join(args.out, "edges"))

    print(json.dumps({"job": "build_kg", "input": input_desc,
                      "turns": int(n_turns), "triples": int(n_triples),
                      "elapsed_sec": round(elapsed, 3),
                      "triples_per_sec": round(n_triples / elapsed, 1)
                      if elapsed else None,
                      "parallelism": args.parallelism,
                      "stages": metrics.harvest()}))
    spark.stop()


if __name__ == "__main__":
    main()
