"""Graph materialization (B7) + checkpoint/lineage/resume (B9) tests."""

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from duke_spark.pipeline import build_kg
from duke_spark.plans.checkpoint import TripleCheckpoint


def test_build_kg_shapes(spark, tiny_transcripts, ctx_bc):
    kg = build_kg(spark, tiny_transcripts, ctx_bc)
    verts = kg["vertices"].toPandas()
    edges = kg["edges"].toPandas()
    assert set(verts["kind"]) == {"ent", "conv", "tool"}
    # every ent vertex has a canonical type from B6
    ents = verts[verts["kind"] == "ent"]
    assert ents["canonical_type"].notna().all()
    # conv vertices have a canonical type (dominant entity's)
    convs = verts[verts["kind"] == "conv"]
    assert convs["canonical_type"].notna().all()
    # edge weights aggregate triples: total n == triple count
    n_triples = kg["triples"].count()
    assert edges["n"].sum() == n_triples
    # vertex ids unique
    assert verts["id"].is_unique
    kg["mentions"].unpersist()


def test_edge_weights_match_groupby(spark, tiny_transcripts, ctx_bc):
    from duke_spark.operators.graph import build_edges
    from duke_spark.operators.triples import extract_triples

    triples = extract_triples(tiny_transcripts, ctx_bc).persist()
    edges = build_edges(triples).toPandas()
    tp = triples.toPandas()
    exp = (tp.groupby(["subj", "pred", "obj"])
           .agg(weight=("score", "sum"), n=("score", "size")).reset_index())
    got = edges.sort_values(["src", "rel", "dst"]).reset_index(drop=True)
    exp = exp.rename(columns={"subj": "src", "pred": "rel", "obj": "dst"}) \
             .sort_values(["src", "rel", "dst"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["src", "rel", "dst", "n"]], exp[["src", "rel", "dst", "n"]],
        check_dtype=False)
    triples.unpersist()


def test_checkpoint_resume_idempotent(spark, tiny_transcripts, ctx_bc,
                                      tmp_path):
    out = str(tmp_path / "kg_out")
    ck = TripleCheckpoint(out, num_parts=8)

    # simulate a mid-job kill: only 3 partitions complete
    r1 = ck.run(spark, tiny_transcripts, ctx_bc, input_path="tiny",
                max_parts=3)
    assert len(r1["written"]) == 3
    assert ck.completed_parts() == set(r1["written"])

    # resume: completes the rest, skips the done ones
    r2 = ck.run(spark, tiny_transcripts, ctx_bc, input_path="tiny")
    assert set(r1["written"]).isdisjoint(r2["written"])
    assert len(r1["written"]) + len(r2["written"]) == 8

    # third run: everything skipped, nothing rewritten
    r3 = ck.run(spark, tiny_transcripts, ctx_bc, input_path="tiny")
    assert r3["written"] == [] and r3["skipped"] == 8

    # output equals a fresh full extraction, no dupes
    from duke_spark.operators.triples import extract_triples
    key = ["subj", "pred", "obj", "conv_id", "turn_idx"]
    got = (ck.read_triples(spark).toPandas()
           .sort_values(key).reset_index(drop=True))
    exp = (extract_triples(tiny_transcripts, ctx_bc).toPandas()
           .sort_values(key).reset_index(drop=True))
    assert len(got) == len(exp)
    pd.testing.assert_frame_equal(got[key], exp[key])

    # lineage manifests carry counts that sum to the output size
    mdir = os.path.join(out, "_manifest")
    total = 0
    for name in os.listdir(mdir):
        with open(os.path.join(mdir, name)) as f:
            m = json.load(f)
        assert {"part_id", "rows", "input", "engine_version",
                "num_parts"} <= set(m)
        total += m["rows"]
    assert total == len(got)


def test_checkpoint_rejects_foreign_partition_scheme(spark, tiny_transcripts,
                                                     ctx_bc, tmp_path):
    """Resume guard: manifests written under a different partition function
    (legacy conv_id-only hash, or a different part count) must refuse to
    resume rather than silently duplicate/drop rows."""
    out = str(tmp_path / "kg_guard")
    ck = TripleCheckpoint(out, num_parts=8)
    ck.run(spark, tiny_transcripts, ctx_bc, input_path="tiny", max_parts=2)

    # legacy manifest: no partition_scheme key (pre-0.2.0 layout)
    mdir = os.path.join(out, "_manifest")
    name = sorted(os.listdir(mdir))[0]
    with open(os.path.join(mdir, name)) as f:
        m = json.load(f)
    del m["partition_scheme"]
    with open(os.path.join(mdir, name), "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="partition scheme"):
        ck.run(spark, tiny_transcripts, ctx_bc, input_path="tiny")

    # num_parts mismatch is refused too
    with open(os.path.join(mdir, name), "w") as f:
        json.dump({**m, "partition_scheme":
                   __import__("duke_spark.plans.checkpoint",
                              fromlist=["PARTITION_SCHEME"]
                              ).PARTITION_SCHEME}, f)
    ck16 = TripleCheckpoint(out, num_parts=16)
    with pytest.raises(ValueError, match="num_parts"):
        ck16.completed_parts()


def test_checkpoint_rejects_remote_uri(tmp_path):
    with pytest.raises(ValueError, match="driver-local"):
        TripleCheckpoint("s3a://bucket/kg_out")


def test_checkpoint_partition_ids_deterministic(spark, tiny_transcripts):
    from duke_spark.plans.checkpoint import with_part_id
    key = ["conv_id", "turn_idx"]
    a = (with_part_id(tiny_transcripts, 8).select(*key, "part_id")
         .toPandas().sort_values(key).reset_index(drop=True))
    b = (with_part_id(tiny_transcripts.repartition(5), 8)
         .select(*key, "part_id").toPandas()
         .sort_values(key).reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)


def test_salted_parts_spread_hot_conversation(spark):
    """SURVEY B8: with 30% of all turns in one conversation, the salted
    part_id must keep every partition's share near uniform (an unsalted
    hash(conv_id) would put ~30% in ONE part and straggle every stage)."""
    from duke_spark.fixtures.transcripts import (generate_transcripts,
                                                 spark_transcripts)
    from duke_spark.plans.checkpoint import with_part_id

    pdf = generate_transcripts(n_convs=200, max_turns=24, seed=3,
                               hot_frac=0.3)
    df = spark_transcripts(spark, pdf)
    counts = (with_part_id(df, 16).groupBy("part_id").count()
              .toPandas()["count"])
    share = counts.max() / counts.sum()
    # hot conv spans ~turns/64 salt buckets → no part holds its 30% share
    assert share < 0.2, f"hot partition holds {share:.0%} of rows"


def _kg_outputs(spark, transcripts, ctx_bc) -> dict:
    """build_kg → type-guarded resolution → fact rollup, as sorted pandas
    frames. Two planted triples name "home run" and "run home" (the same
    word group, so the same vector and type), so the merge map and the
    rewrite are never empty."""
    from duke_spark.operators.entity_resolution import resolve_kg_entities
    from duke_spark.operators.triples import TRIPLE_SCHEMA, fact_support

    kg = build_kg(spark, transcripts, ctx_bc)
    planted = spark.createDataFrame(
        [("conv:p", "mentions", f"ent:{e}", "p", 0, 0.5)
         for e in ("home run", "run home")], TRIPLE_SCHEMA)
    merges, resolved = resolve_kg_entities(
        kg["triples"].unionByName(planted), ctx_bc, 0.99, type_guard=True)
    out = {}
    for name, df in (("vertices", kg["vertices"]), ("edges", kg["edges"]),
                     ("merges", merges), ("facts", fact_support(resolved))):
        pdf = df.toPandas()
        out[name] = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
    kg["mentions"].unpersist()
    return out


def test_no_persist_is_load_bearing(spark, tiny_transcripts, ctx_bc,
                                    monkeypatch):
    """With ``persist``/``cache`` made no-ops, every DataFrame is
    recomputed from lineage, as after an eviction; the KG's vertices and
    edges, the merge map and the fact rollup over the resolved triples
    stay the same (doubles to 1e-12: Spark may merge a sum's partials in
    another order), so a cache only ever saves time."""
    from pyspark.sql import DataFrame

    exp = _kg_outputs(spark, tiny_transcripts, ctx_bc)
    assert exp["merges"].values.tolist() == [["ent:run home",
                                              "ent:home run"]]
    monkeypatch.setattr(DataFrame, "persist", lambda self, *a, **k: self)
    monkeypatch.setattr(DataFrame, "cache", lambda self: self)
    got = _kg_outputs(spark, tiny_transcripts, ctx_bc)
    for name in exp:
        pd.testing.assert_frame_equal(got[name], exp[name], rtol=1e-12,
                                      obj=name)
