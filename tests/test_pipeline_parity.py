"""Spark pipeline vs NumPy oracle: the P/R ≥ 0.95 gate (BASELINE.md) —
on sub-cap fixtures parity must be exact (P = R = 1.0)."""

import numpy as np
import pandas as pd
import pytest

from duke_spark.kernel.oracle import (oracle_canonical_types,
                                      oracle_mentions, oracle_triples,
                                      triple_prf)
from duke_spark.operators.canonical import canonical_types
from duke_spark.operators.mentions import linked_mentions
from duke_spark.operators.triples import (extract_triples,
                                          triples_from_mentions)

KEY = ["conv_id", "turn_idx", "mention_id"]


@pytest.fixture(scope="module")
def spark_mentions(spark, tiny_transcripts, ctx_bc):
    return linked_mentions(tiny_transcripts, ctx_bc).toPandas()


@pytest.fixture(scope="module")
def expected_mentions(oracle_ctx, tiny_transcripts_pdf):
    return oracle_mentions(oracle_ctx, tiny_transcripts_pdf)


def test_mentions_match_oracle(spark_mentions, expected_mentions):
    got = spark_mentions.sort_values(KEY).reset_index(drop=True)
    exp = expected_mentions.sort_values(KEY).reset_index(drop=True)
    assert len(got) == len(exp)
    pd.testing.assert_frame_equal(
        got[KEY + ["mention", "entity"]], exp[KEY + ["mention", "entity"]],
        check_dtype=False)
    np.testing.assert_allclose(got["entity_score"].to_numpy(),
                               exp["entity_score"].to_numpy(), atol=1e-5)


def test_triples_one_pass_prf(spark, tiny_transcripts, tiny_transcripts_pdf,
                              ctx_bc, oracle_ctx):
    got = extract_triples(tiny_transcripts, ctx_bc).toPandas()
    exp = oracle_triples(oracle_ctx, tiny_transcripts_pdf)
    prf = triple_prf(exp, got)
    assert prf["precision"] == 1.0 and prf["recall"] == 1.0, prf
    # multiset check too: same number of rows
    assert len(got) == len(exp)


def test_triples_declarative_equals_one_pass(spark, tiny_transcripts,
                                             ctx_bc):
    """Triples from persisted mentions equal the fused pass exactly when
    both link in the same Arrow batches — also when small batches cut
    turns, whose held-back tail must join the next batch."""
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(conf)
    key = ["subj", "pred", "obj", "conv_id", "turn_idx", "score"]
    try:
        for rows in (before, 7, 3, 1):
            spark.conf.set(conf, str(rows))
            mentions = linked_mentions(tiny_transcripts, ctx_bc).persist()
            two = triples_from_mentions(mentions).toPandas()
            mentions.unpersist()
            one = extract_triples(tiny_transcripts, ctx_bc).toPandas()
            a = one.sort_values(key).reset_index(drop=True)
            b = two.sort_values(key).reset_index(drop=True)
            pd.testing.assert_frame_equal(a, b, obj=f"batch rows {rows}")
            assert (b["pred"] == "co_mentioned").any()
    finally:
        spark.conf.set(conf, before)


def test_triples_from_mentions_plan(spark, tiny_transcripts, ctx_bc):
    """Over persisted mentions the triple stage is one narrow Python
    stage: no Window, no Exchange, exactly one MapInPandas."""
    from test_canonical import _plan_nodes

    mentions = linked_mentions(tiny_transcripts, ctx_bc).persist()
    try:
        df = triples_from_mentions(mentions)
        df.collect()
        names = [n for n, _, _ in
                 _plan_nodes(df._jdf.queryExecution().executedPlan())]
    finally:
        mentions.unpersist()
    assert not [n for n in names if "Window" in n or "Exchange" in n], names
    assert names.count("MapInPandas") == 1, names


def test_null_conv_id_triples_match_oracle(spark, ctx_bc, oracle_ctx,
                                           tmp_path):
    """Rows with a NULL ``conv_id`` — two of them in the same turn, one
    with a tool — give the oracle's triples on every path: the fused
    pass, persisted mentions, and the checkpoint. The one difference is
    named, not hidden: the oracle writes a NULL conversation's
    ``mentions`` subject as ``"conv:None"``, Spark's string concat gives
    NULL."""
    from duke_spark.fixtures.transcripts import spark_transcripts
    from duke_spark.plans.checkpoint import TripleCheckpoint

    pdf = pd.DataFrame([
        (None, 0, "user", "agent plays baseball with the team", None),
        (None, 0, "tool", "artist wrote song on guitar", "search"),
        (None, 1, "assistant", "coach and player team", None),
        ("c1", 0, "user", "baseball player wrote song", "browser"),
        ("c1", 1, "assistant", "river water", None),
    ], columns=["conv_id", "turn_idx", "role", "text", "tool"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.Timestamp("2026-01-01").as_unit("us")
    df = spark_transcripts(spark, pdf).repartition(2)

    exp = oracle_triples(oracle_ctx, pdf)
    null_subj = (exp["pred"] == "mentions") & exp["conv_id"].isna()
    assert null_subj.any() and (exp.loc[null_subj, "subj"]
                                == "conv:None").all()
    assert ((exp["pred"] == "co_mentioned") & exp["conv_id"].isna()).any()
    assert ((exp["pred"] == "used_tool") & exp["conv_id"].isna()).any()

    mentions = linked_mentions(df, ctx_bc).persist()
    ck = TripleCheckpoint(str(tmp_path / "ck"), num_parts=4)
    ck.run(spark, df, ctx_bc)
    try:
        paths = {"extract_triples": extract_triples(df, ctx_bc).toPandas(),
                 "triples_from_mentions":
                     triples_from_mentions(mentions).toPandas(),
                 "checkpoint": ck.read_triples(spark).toPandas()}
    finally:
        mentions.unpersist()

    key = ["subj", "pred", "obj", "conv_id", "turn_idx"]

    def comparable(t, null_subj):
        t = t[key + ["score"]].copy()
        t.loc[null_subj, "subj"] = "<null conv>"
        t["conv_id"] = t["conv_id"].fillna("<null>")
        return t.sort_values(key + ["score"]).reset_index(drop=True)

    want = comparable(exp, null_subj)
    for name, got in paths.items():
        got_null = (got["pred"] == "mentions") & got["conv_id"].isna()
        assert got.loc[got_null, "subj"].isna().all(), name
        got = comparable(got, got_null)
        assert len(got) == len(want), name
        pd.testing.assert_frame_equal(got[key], want[key],
                                      check_dtype=False, obj=name)
        np.testing.assert_allclose(got["score"], want["score"], rtol=0,
                                   atol=1e-12, err_msg=name)


def test_canonical_types_match_oracle(spark, tiny_transcripts, ctx_bc,
                                      oracle_ctx, tiny_transcripts_pdf,
                                      expected_mentions):
    mentions = linked_mentions(tiny_transcripts, ctx_bc)
    got = canonical_types(mentions, ctx_bc)
    exp = oracle_canonical_types(oracle_ctx, expected_mentions)
    got_map = dict(zip(got["entity"], got["canonical_type"]))
    assert got_map == exp


def test_stable_order_invariant(spark, tiny_transcripts_pdf, ctx_bc,
                                oracle_ctx):
    """Per-turn output equality under shuffled input order (input_hint
    invariant): triples must be identical as a set regardless of row
    order or partitioning."""
    from duke_spark.fixtures.transcripts import spark_transcripts

    shuffled = tiny_transcripts_pdf.sample(frac=1.0, random_state=9)
    df = spark_transcripts(spark, shuffled).repartition(7)
    got = extract_triples(df, ctx_bc).toPandas()
    exp = oracle_triples(oracle_ctx, tiny_transcripts_pdf)
    prf = triple_prf(exp, got)
    assert prf["precision"] == 1.0 and prf["recall"] == 1.0, prf


def test_partition_count_invariance(spark, tiny_transcripts, ctx_bc):
    a = extract_triples(tiny_transcripts.repartition(2), ctx_bc).toPandas()
    b = extract_triples(tiny_transcripts.repartition(16), ctx_bc).toPandas()
    key = ["subj", "pred", "obj", "conv_id", "turn_idx"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a[key], b[key])


def test_describe_conversations_matches_oracle(spark, tiny_transcripts,
                                               ctx_bc, expected_mentions):
    """Worker-side tree fold (describe_conversations) == driver-side oracle
    fold over per-conversation mean score vectors."""
    from duke_spark.kernel.tree import (PRODUCTION_TREE_AGG,
                                        aggregate_tree_scores)
    from duke_spark.operators.canonical import describe_conversations

    mentions = linked_mentions(tiny_transcripts, ctx_bc)
    got = (describe_conversations(spark, mentions, ctx_bc)
           .toPandas().set_index("conv_id").sort_index())

    ctx = ctx_bc.value
    exp = {}
    for conv_id, grp in expected_mentions.groupby("conv_id"):
        mean_vec = np.mean(np.stack(grp["class_scores"].to_list()), axis=0)
        agg = aggregate_tree_scores(ctx.classes, mean_vec, ctx.tree,
                                    PRODUCTION_TREE_AGG)
        exp[conv_id] = (ctx.classes[int(np.argmax(agg))], len(grp))

    assert set(got.index) == set(exp)
    for conv_id, (topic, n) in exp.items():
        assert got.loc[conv_id, "topic"] == topic, conv_id
        assert got.loc[conv_id, "n_mentions"] == n
        from duke_spark.kernel.text import pluralize
        assert pluralize(topic) in got.loc[conv_id, "description"]


def test_duke_describe_matches_oracle(spark, tiny_transcripts, ctx_bc,
                                      oracle_ctx, tiny_transcripts_pdf):
    """Full Duke EP1 semantics (role-as-source, headers source, whole-turn
    OOV rule, per-source tree fold, source mean) — Spark vs oracle."""
    from duke_spark.kernel.oracle import describe_conversation
    from duke_spark.operators.describe import describe_conversations_duke

    got = (describe_conversations_duke(tiny_transcripts, ctx_bc)
           .toPandas().set_index("conv_id").sort_index())

    convs = sorted(tiny_transcripts_pdf["conv_id"].unique())
    n_checked = 0
    for conv_id in convs:
        conv = tiny_transcripts_pdf[tiny_transcripts_pdf["conv_id"]
                                    == conv_id]
        exp = describe_conversation(oracle_ctx, conv)
        if exp is None:
            assert conv_id not in got.index
            continue
        n_checked += 1
        top_exp = exp["top"][0][0]
        assert got.loc[conv_id, "top_class"] == top_exp, conv_id
        assert got.loc[conv_id, "description"] == exp["description"].replace(
            "This dataset is about", "This dataset is about")
    assert n_checked >= 15  # most conversations must be describable


def test_describe_dataset_matches_oracle(spark, tiny_transcripts, ctx_bc,
                                         oracle_ctx, tiny_transcripts_pdf):
    """Whole-table Duke CLI output (top-N + summary sentence) == oracle
    run on the entire table as one dataset."""
    from duke_spark.kernel.oracle import describe_conversation
    from duke_spark.operators.describe import describe_dataset

    got = describe_dataset(tiny_transcripts, ctx_bc, top_n=5)
    exp = describe_conversation(oracle_ctx, tiny_transcripts_pdf, top_n=5)

    assert got["description"] == exp["description"]
    assert [c for c, _ in got["top"]] == [c for c, _ in exp["top"]]
    for (_, a), (_, b) in zip(got["top"], exp["top"]):
        assert abs(a - b) < 1e-6


def test_conversation_scores_ignore_null_mentions(spark, ctx_bc):
    """Null mentions must be dropped, not mis-attributed: pd.factorize
    codes NaN as -1, which an index decode would credit to the LAST
    distinct mention. Scores with injected nulls must equal scores
    without them, and n_mentions must not count the null rows."""
    from duke_spark.operators.canonical import _key_means

    clean = pd.DataFrame({
        "conv_id": ["c1", "c1", "c1", "c2"],
        "mention": ["baseball league", "guitar song", "baseball league",
                    "river water"],
    })
    noisy = pd.concat([clean, pd.DataFrame({
        "conv_id": ["c1", "c2", "c2"],
        "mention": [None, None, None],
    })], ignore_index=True)

    def run(pdf):
        return (_key_means(
                    spark.createDataFrame(pdf), ctx_bc, "conv_id",
                    lambda pdf, means, ctx: pd.DataFrame({
                        "conv_id": pdf["conv_id"],
                        "n_mentions": pdf["n_mentions"],
                        "mean_scores": list(means)}),
                    "conv_id string, n_mentions bigint, "
                    "mean_scores array<double>")
                .toPandas().set_index("conv_id").sort_index())

    a, b = run(clean), run(noisy)
    assert list(a["n_mentions"]) == list(b["n_mentions"]) == [3, 1]
    # tolerance: adding rows reshapes the Arrow batches, so partial-sum
    # order shifts at float32 rounding scale (~1e-7); the mis-attribution
    # bug this guards against moves scores at O(1).
    for conv in a.index:
        np.testing.assert_allclose(a.loc[conv, "mean_scores"],
                                   b.loc[conv, "mean_scores"],
                                   rtol=1e-4, atol=1e-6)
