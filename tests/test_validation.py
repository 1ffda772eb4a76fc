"""SHACL-lite graph validation (operators.validation) and the fact
provenance rollup (operators.triples.fact_support)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from duke_spark.operators.triples import fact_support
from duke_spark.operators.validation import validate_graph


@pytest.fixture()
def kg(spark):
    rows = [
        ("conv:1", "mentions", "ent:a"),
        ("conv:1", "mentions", "ent:b"),
        ("bad_subj", "mentions", "ent:c"),       # subject_prefix
        ("conv:2", "mentions", "oops"),          # object_prefix
        ("ent:a", "co_mentioned", "ent:a"),      # irreflexive
        ("ent:a", "co_mentioned", "ent:b"),
        ("ent:a", "used_tool", "tool:t1"),
        ("ent:a", "used_tool", "tool:t2"),       # max_distinct_objects=1
        ("ent:ghost", "used_tool", "tool:t1"),   # subject_domain
        ("conv:1", "weird_pred", "ent:a"),       # closed_vocab
        ("conv:1", "mentions", ""),              # empty_term
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["subj", "pred", "obj"]))


SHAPES = {
    "mentions": {"subject_prefix": "conv:", "object_prefix": "ent:"},
    "co_mentioned": {"irreflexive": True},
    "used_tool": {"max_distinct_objects": 1,
                  "subject_in": ("mentions", "obj")},
}


def _viol(df):
    return {(r.rule, r.pred, r.subj, r.obj) for r in df.collect()}


def test_each_rule_fires_exactly_on_its_violation(kg):
    got = _viol(validate_graph(kg, SHAPES, closed=True))
    assert got == {
        ("subject_prefix", "mentions", "bad_subj", "ent:c"),
        ("object_prefix", "mentions", "conv:2", "oops"),
        # the empty obj also fails object_prefix — two rules, two rows
        ("object_prefix", "mentions", "conv:1", ""),
        ("empty_term", "mentions", "conv:1", ""),
        ("irreflexive", "co_mentioned", "ent:a", "ent:a"),
        ("max_cardinality", "used_tool", "ent:a", "tool:t1"),
        ("max_cardinality", "used_tool", "ent:a", "tool:t2"),
        ("subject_domain", "used_tool", "ent:ghost", "tool:t1"),
        ("closed_vocab", "weird_pred", "conv:1", "ent:a"),
    }


def test_null_or_empty_pred_is_flagged_not_skipped(spark):
    """A NULL/empty predicate must surface as empty_term — every other
    rule's pred comparison evaluates to NULL and silently drops it."""
    df = spark.createDataFrame(
        pd.DataFrame([("conv:1", None, "ent:a"),
                      ("conv:1", " ", "ent:b"),
                      ("conv:1", "mentions", "ent:c")],
                     columns=["subj", "pred", "obj"]))
    got = _viol(validate_graph(df, SHAPES, closed=True))
    assert ("empty_term", None, "conv:1", "ent:a") in got
    assert ("empty_term", " ", "conv:1", "ent:b") in got
    assert not any(r[1] == "mentions" for r in got)


def test_conforming_graph_empty_report(spark):
    df = spark.createDataFrame(pd.DataFrame(
        [("conv:1", "mentions", "ent:a"),
         ("ent:a", "co_mentioned", "ent:b")],
        columns=["subj", "pred", "obj"]))
    out = validate_graph(df, SHAPES, closed=True)
    assert out.count() == 0
    assert out.columns == ["rule", "pred", "subj", "obj"]


def test_open_vocabulary_skips_closed_rule(kg):
    got = _viol(validate_graph(kg, SHAPES, closed=False))
    assert not any(r[0] == "closed_vocab" for r in got)


def test_duplicate_triples_report_once(spark):
    df = spark.createDataFrame(pd.DataFrame(
        [("ent:a", "co_mentioned", "ent:a")] * 5,
        columns=["subj", "pred", "obj"]))
    out = validate_graph(df, {"co_mentioned": {"irreflexive": True}})
    assert out.count() == 1


def test_unknown_constraint_raises(kg):
    with pytest.raises(ValueError, match="unknown constraint"):
        validate_graph(kg, {"mentions": {"sujbect_prefix": "x"}})


def test_bad_subject_in_position_raises(kg):
    with pytest.raises(ValueError, match="subj|obj"):
        validate_graph(kg, {"used_tool": {"subject_in": ("mentions", "x")}})


def test_bad_cardinality_raises(kg):
    with pytest.raises(ValueError, match="max_distinct_objects"):
        validate_graph(kg, {"used_tool": {"max_distinct_objects": 0}})


def test_build_kg_job_validate_and_fact_support(tmp_path):
    """The production job wires both stages: violations + fact_support
    parquet written, per-rule counts in the metrics JSON. Validate and
    fact-support consume the RESOLVED triples; a rerun into the same
    --out that merges nothing skips the identity rewrite and removes the
    first run's triples_resolved (downstream reads the checkpoint)."""
    import json
    import os
    import subprocess
    import sys
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = tmp_path / "kg"

    def run(threshold):
        proc = subprocess.run(
            [sys.executable, os.path.join(repo, "jobs", "build_kg.py"),
             "--convs", "20", "--out", str(out), "--parallelism", "2",
             "--validate", "--fact-support", "--resolve", threshold],
            capture_output=True, text=True, timeout=420)
        assert proc.returncode == 0, proc.stderr[-3000:]
        return json.loads([ln for ln in proc.stdout.splitlines()
                           if ln.startswith("{")][-1])

    # 0.3 merges several of the fixture's (seed-42) entity labels
    rec = run("0.3")
    assert "validate_violations" in rec["stages"]
    assert (out / "violations").exists()
    assert (out / "fact_support").exists()
    assert (out / "merge_map").exists()
    assert rec["stages"]["resolve_merged"]["rows"] > 0
    assert rec["stages"]["resolve_merged"]["rewrite"] == "written"
    assert (out / "triples_resolved").exists()

    # no fixture label pair reaches cosine 0.99: zero merges
    rec = run("0.99")
    assert rec["stages"]["triples"]["skipped_parts"] > 0  # resumed
    assert rec["stages"]["resolve_merged"]["rows"] == 0
    assert rec["stages"]["resolve_merged"]["rewrite"].startswith("skipped")
    assert not (out / "triples_resolved").exists()


# --- fact_support --------------------------------------------------------


def test_fact_support_rollup(spark):
    rows = [
        ("ent:a", "co_mentioned", "ent:b", "c1", 0, 0.9),
        ("ent:a", "co_mentioned", "ent:b", "c1", 3, 0.5),
        ("ent:a", "co_mentioned", "ent:b", "c2", 1, 0.7),
        ("ent:a", "used_tool", "tool:t", "c1", 0, 1.0),
        # no provenance: counts as support, but is not a conversation
        ("ent:a", "co_mentioned", "ent:b", None, 2, 0.3),
    ]
    df = spark.createDataFrame(pd.DataFrame(
        rows, columns=["subj", "pred", "obj", "conv_id", "turn_idx",
                       "score"]))
    got = {(r.subj, r.pred, r.obj): (r.n_support, r.n_convs, r.max_score,
                                     r.mean_score)
           for r in fact_support(df).collect()}
    assert got[("ent:a", "co_mentioned", "ent:b")] == (
        4, 2, 0.9, round((0.9 + 0.5 + 0.7 + 0.3) / 4, 6))
    assert got[("ent:a", "used_tool", "tool:t")] == (1, 1, 1.0, 1.0)


def test_filter_rules_have_no_exchange(spark, kg):
    """Prefix/irreflexive/vocab rules must compile to shuffle-free
    narrow plans — only the cardinality and domain rules may exchange."""
    import contextlib
    import io
    out = validate_graph(kg, {
        "mentions": {"subject_prefix": "conv:", "object_prefix": "ent:"},
        "co_mentioned": {"irreflexive": True},
    }, closed=True)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # the only exchanges allowed are for the per-rule DISTINCTs
    # (hash agg on the report key); no join should appear at all
    assert "Join" not in plan, plan


def test_domain_rule_is_anti_join(spark, kg):
    import contextlib
    import io
    out = validate_graph(kg, {
        "used_tool": {"subject_in": ("mentions", "obj")}})
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    assert "LeftAnti" in buf.getvalue()


def test_fact_support_partition_invariance(spark):
    rows = [("ent:%d" % (i % 7), "p", "ent:%d" % (i % 3),
             "c%d" % (i % 5), i, float(i % 11) / 10) for i in range(200)]
    df = spark.createDataFrame(pd.DataFrame(
        rows, columns=["subj", "pred", "obj", "conv_id", "turn_idx",
                       "score"]))
    a = sorted(map(tuple, fact_support(df.repartition(1)).collect()))
    b = sorted(map(tuple, fact_support(df.repartition(13)).collect()))
    assert a == b
