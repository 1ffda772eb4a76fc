"""The three benchmark workloads: inputs, one job, and its output checks.

Every workload runs at the reference compute shape (D=1000, 788
classes). ``job`` is the timed unit; ``check`` and ``digest`` run after
it, untimed, and compare the output with ``kernel/oracle.py``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duke_spark import pipeline
from duke_spark.fixtures.transcripts import generate_transcripts
from duke_spark.kernel.oracle import oracle_mentions, oracle_triples
from duke_spark.kernel.tree import PRODUCTION_TREE_AGG, aggregate_tree_scores
from duke_spark.operators.canonical import describe_conversations
from duke_spark.operators.entity_resolution import resolve_kg_entities
from duke_spark.operators.mentions import linked_mentions
from duke_spark.operators.triples import fact_support
from duke_spark.operators.validation import validate_graph
from duke_spark.plans.checkpoint import MANIFEST_DIR, TripleCheckpoint
from duke_spark.sources.transcripts import read_transcripts

HOT_CONV = "conv_000000"
NUM_PARTS = 64
SCORE_TOL = 1e-6
# jobs/build_kg.py --validate shapes
SHAPES = {
    "mentions": {"subject_prefix": "conv:", "object_prefix": "ent:"},
    "co_mentioned": {"subject_prefix": "ent:", "object_prefix": "ent:",
                     "irreflexive": True},
    "used_tool": {"subject_prefix": "ent:", "object_prefix": "tool:",
                  "subject_in": ("mentions", "obj")},
}
RESOLVE_THRESHOLD = 0.95  # jobs/build_kg.py --resolve 0.95 --resolve-guard


def table_digest(df) -> str:
    """Order-independent digest: sum of per-row xxhash64 (doubles rounded
    to 6 dp, the repo's float policy) plus the row count."""
    cols = [F.round(f.name, 6) if isinstance(f.dataType, T.DoubleType)
            else F.col(f.name) for f in df.schema.fields]
    row = df.select(F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
                    F.count(F.lit(1))).first()
    return f"{row[0]}/{row[1]}"


def _read_cached(spark, path, parts):
    """Scan into cache, as jobs/build_kg.py does before extraction."""
    df = read_transcripts(spark, path).repartition(parts).persist()
    return df, df.count()


def _sample_convs(pdf: pd.DataFrame, seed: int, k: int) -> list[str]:
    convs = sorted(pdf["conv_id"].unique())
    rng = np.random.default_rng(seed)
    return sorted(rng.choice(convs, size=min(k, len(convs)), replace=False))


class Workload:
    """Base: transcript input generated from the seed and cached as
    parquet. ``shape`` holds generate_transcripts arguments; ``size``
    scales the conversation count (the smoke test uses a tiny one)."""

    name = ""
    shape: dict = {}
    output = ""  # the output directory ``corrupt`` damages

    def __init__(self, seed: int, size: float, inputs_dir: str, src: str):
        self.seed = seed
        self.n_convs = max(4, round(self.shape["n_convs"] * size))
        # one input per (seed, input size, program version)
        self.key = f"{self.name}-s{seed}-c{self.n_convs}-{src}"
        self.cache_dir = os.path.join(inputs_dir, self.key)
        self.pdf: pd.DataFrame | None = None

    def prepare(self, session_factory) -> None:
        """Write (or reuse) the input for this seed; untimed."""
        os.makedirs(self.cache_dir, exist_ok=True)
        self.transcripts = os.path.join(self.cache_dir, "transcripts.parquet")
        self.warm = os.path.join(self.cache_dir, "warm.parquet")
        if not os.path.exists(self.warm):
            pdf = generate_transcripts(
                n_convs=self.n_convs, max_turns=self.shape["max_turns"],
                seed=self.seed, hot_frac=self.shape["hot_frac"])
            _atomic_parquet(pdf, self.transcripts)
            # warm-up slice: the last 1/16 of the conversations
            convs = sorted(pdf["conv_id"].unique())
            tail = convs[-max(2, len(convs) // 16):]
            _atomic_parquet(pdf[pdf["conv_id"].isin(tail)], self.warm)
        self.pdf = pd.read_parquet(self.transcripts)

    def warmup(self, spark, ctx_bc, parallelism: int) -> None:
        """Start every Python worker and load the broadcast context in
        it: the linking kernel over a small slice, one task per core."""
        t = read_transcripts(spark, self.warm).repartition(parallelism)
        linked_mentions(t, ctx_bc).count()

    def corrupt(self, out: str) -> None:
        """Delete the largest data file of the output (fault injection
        for the smoke test)."""
        files = glob.glob(os.path.join(out, self.output, "**", "*.parquet"),
                          recursive=True)
        os.remove(max(files, key=os.path.getsize))

    def _oracle(self, compute) -> pd.DataFrame:
        """The oracle's expected output for this seed, computed once and
        kept beside the input (the cache key includes the program's
        source hash, so an oracle change recomputes it)."""
        path = os.path.join(self.cache_dir, "oracle.parquet")
        if not os.path.exists(path):
            _atomic_parquet(compute(), path)
        return pd.read_parquet(path)


def _atomic_parquet(pdf: pd.DataFrame, path: str) -> None:
    tmp = path + ".tmp"
    pdf.to_parquet(tmp, index=False)
    os.replace(tmp, path)


class ExtractRef(Workload):
    """Production extraction stage: TripleCheckpoint.run over a skewed
    table (one conversation holds ~30% of the turns)."""

    name = "extract_ref"
    shape = {"n_convs": 500, "max_turns": 24, "hot_frac": 0.3}
    output = "triples"

    def job(self, b, tr, out):
        with tr.span("sources.read") as r:
            t, r.rows = _read_cached(b.spark, self.transcripts,
                                     2 * b.parallelism)
        with tr.span("checkpoint.run") as r:
            res = TripleCheckpoint(out, NUM_PARTS).run(
                b.spark, t, b.ctx_bc, input_path=self.transcripts)
            r.rows = res["rows"]
        t.unpersist()
        return res["rows"]

    def check(self, b, out, n_triples) -> list[str]:
        problems = []
        ck = TripleCheckpoint(out, NUM_PARTS)
        convs = sorted(set(_sample_convs(self.pdf, self.seed, 5))
                       | {HOT_CONV} & set(self.pdf["conv_id"]))
        exp = self._oracle(lambda: _sorted_triples(oracle_triples(
            b.oracle, self.pdf[self.pdf["conv_id"].isin(convs)])))
        got = _sorted_triples(ck.read_triples(b.spark)
                              .filter(F.col("conv_id").isin(convs))
                              .toPandas())
        problems += _compare_triples(got, exp)
        manifests = glob.glob(os.path.join(out, MANIFEST_DIR, "part_*.json"))
        manifest_rows = 0
        for path in manifests:
            with open(path) as f:
                manifest_rows += json.load(f)["rows"]
        total = ck.read_triples(b.spark).count()
        if not total == manifest_rows == n_triples:
            problems.append(f"triple count {total}, manifest rows "
                            f"{manifest_rows}, job rows {n_triples}")
        rerun = ck.run(b.spark, read_transcripts(b.spark, self.transcripts),
                       b.ctx_bc)
        if rerun["written"] or rerun["skipped"] != NUM_PARTS:
            problems.append(f"rerun wrote {len(rerun['written'])} parts, "
                            f"skipped {rerun['skipped']} of {NUM_PARTS}")
        return problems

    def digest(self, b, out) -> str:
        return table_digest(TripleCheckpoint(out, NUM_PARTS)
                            .read_triples(b.spark))

    def triples(self, b, out, n_triples) -> int:
        return n_triples


def _sorted_triples(df: pd.DataFrame) -> pd.DataFrame:
    key = ["conv_id", "turn_idx", "pred", "subj", "obj", "score"]
    df = df.astype({"turn_idx": "int64", "score": "float64"})
    return df.sort_values(key).reset_index(drop=True)[key]


def _compare_triples(got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    if len(got) != len(exp):
        return [f"sampled triples: {len(got)} emitted, oracle {len(exp)}"]
    exact = ["conv_id", "turn_idx", "pred", "subj", "obj"]
    bad = (got[exact].to_numpy() != exp[exact].to_numpy()).any(axis=1)
    if bad.any():
        return [f"sampled triples: {int(bad.sum())} rows differ from the "
                f"oracle outside score"]
    err = float(np.abs(got["score"].to_numpy() - exp["score"].to_numpy())
                .max(initial=0.0))
    return [f"sampled triples: max |score - oracle| {err:.3g}"] \
        if err > SCORE_TOL else []


class PostStages(Workload):
    """The production job's post-extraction stages (type-guarded entity
    resolution, validation, fact rollup) over a triple table the repo's
    own extraction writes once per seed."""

    name = "post_stages"
    shape = {"n_convs": 250, "max_turns": 24, "hot_frac": 0.3}
    output = "fact_support"
    _terms = None

    def prepare(self, session_factory) -> None:
        super().prepare(session_factory)
        self.store = os.path.join(self.cache_dir, "store")
        if not os.path.exists(self.store):
            tmp = self.store + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            with session_factory() as (spark, ctx_bc):
                t = read_transcripts(spark, self.transcripts).repartition(
                    2 * spark.sparkContext.defaultParallelism)
                TripleCheckpoint(tmp, NUM_PARTS).run(
                    spark, t, ctx_bc, input_path=self.transcripts)
            os.replace(tmp, self.store)
        self.n_input = 0
        for path in glob.glob(os.path.join(self.store, MANIFEST_DIR,
                                           "part_*.json")):
            with open(path) as f:
                self.n_input += json.load(f)["rows"]

    def job(self, b, tr, out):
        spark = b.spark
        triples = TripleCheckpoint(self.store, NUM_PARTS).read_triples(spark)
        with tr.span("entity_resolution.resolve_kg_entities") as r:
            mm, resolved = resolve_kg_entities(
                triples, b.ctx_bc, threshold=RESOLVE_THRESHOLD,
                type_guard=True)
            r.rows = n_merged = mm.count()
            mm.write.parquet(os.path.join(out, "merge_map"))
            if n_merged:
                resolved.write.parquet(os.path.join(out, "triples_resolved"))
            mm.unpersist()
        if n_merged:
            triples = spark.read.parquet(os.path.join(out,
                                                      "triples_resolved"))
        with tr.span("validation.validate_graph"):
            validate_graph(triples, SHAPES, closed=True).write.parquet(
                os.path.join(out, "violations"))
        with tr.span("triples.fact_support"):
            fact_support(triples).write.parquet(
                os.path.join(out, "fact_support"))
        return n_merged

    def check(self, b, out, n_merged) -> list[str]:
        spark, problems = b.spark, []
        support = (spark.read.parquet(os.path.join(out, "fact_support"))
                   .agg(F.sum("n_support")).first()[0]) or 0
        if support != self.n_input:
            problems.append(f"sum(n_support) {support} != input triples "
                            f"{self.n_input}")
        if self._terms is None:
            self._terms = {r[0] for r in (
                TripleCheckpoint(self.store, NUM_PARTS).read_triples(spark)
                .select(F.explode(F.array("subj", "obj")))
                .filter(F.col("col").startswith("ent:")).distinct()
                .collect())}
        mm = spark.read.parquet(os.path.join(out, "merge_map")).toPandas()
        keys, canon = set(mm["entity"]), set(mm["canonical"])
        if len(keys) != len(mm):
            problems.append("merge map maps an entity twice")
        if keys & canon:
            problems.append("merge map target is itself merged")
        if not (keys | canon) <= self._terms:
            problems.append("merge map names terms absent from the input")
        return problems

    def digest(self, b, out) -> str:
        return " ".join(table_digest(b.spark.read.parquet(
            os.path.join(out, name)))
            for name in ("merge_map", "violations", "fact_support"))

    def triples(self, b, out, n_merged) -> int:
        return self.n_input


class GraphTopics(Workload):
    """Graph construction from materialized mentions (pipeline.build_kg),
    then one topic per conversation, over many short, unskewed
    conversations."""

    name = "graph_topics"
    shape = {"n_convs": 400, "max_turns": 4, "hot_frac": 0.0}
    output = "topics"
    BUILD_KG_LAYERS = {
        "linked_mentions": "mentions.linked_mentions",
        "triples_from_mentions": "triples.triples_from_mentions",
        "canonical_types_df": "canonical.canonical_types_df",
    }

    def job(self, b, tr, out):
        spark = b.spark
        with tr.span("sources.read") as r:
            t, r.rows = _read_cached(spark, self.transcripts,
                                     2 * b.parallelism)
        with tr.patched(pipeline, self.BUILD_KG_LAYERS):
            kg = pipeline.build_kg(spark, t, b.ctx_bc)
        with tr.span("graph.build_vertices"):
            kg["vertices"].write.parquet(os.path.join(out, "vertices"))
        with tr.span("graph.build_edges"):
            kg["edges"].write.parquet(os.path.join(out, "edges"))
        with tr.span("canonical.describe_conversations"):
            describe_conversations(spark, kg["mentions"], b.ctx_bc) \
                .write.parquet(os.path.join(out, "topics"))
        kg["mentions"].unpersist()
        t.unpersist()
        return None

    def check(self, b, out, _) -> list[str]:
        convs = _sample_convs(self.pdf, self.seed, 20)

        def oracle_topics():
            om = oracle_mentions(b.oracle, self.pdf[self.pdf["conv_id"]
                                                    .isin(convs)])
            rows = []
            for conv, grp in om.groupby("conv_id"):
                vec = np.mean(np.stack(grp["class_scores"].to_list()), axis=0)
                agg = aggregate_tree_scores(b.oracle.classes, vec,
                                            b.oracle.tree, PRODUCTION_TREE_AGG)
                rows.append((conv, b.oracle.classes[int(np.argmax(agg))],
                             len(grp)))
            return pd.DataFrame(rows, columns=["conv_id", "topic",
                                               "n_mentions"])

        exp = {r.conv_id: (r.topic, r.n_mentions) for r in
               self._oracle(oracle_topics).itertuples(index=False)}
        got = (b.spark.read.parquet(os.path.join(out, "topics"))
               .filter(F.col("conv_id").isin(convs)).toPandas())
        got = {r.conv_id: (r.topic, r.n_mentions)
               for r in got.itertuples(index=False)}
        if got != exp:
            diff = sorted(c for c in set(got) | set(exp)
                          if got.get(c) != exp.get(c))
            return [f"topics differ from the oracle for {len(diff)} sampled "
                    f"conversations, e.g. {diff[0]}"]
        return []

    def digest(self, b, out) -> str:
        return " ".join(table_digest(b.spark.read.parquet(
            os.path.join(out, name)))
            for name in ("vertices", "edges", "topics"))

    def triples(self, b, out, _) -> int:
        return int(b.spark.read.parquet(os.path.join(out, "edges"))
                   .agg(F.sum("n")).first()[0] or 0)


WORKLOADS = {w.name: w for w in (ExtractRef, PostStages, GraphTopics)}
