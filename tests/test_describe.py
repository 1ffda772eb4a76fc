"""Duke describe operators (``operators/describe.py``) against the oracle on
the tables that break a naive port: NULL roles and conversation ids,
conversations described by the headers source alone, all-OOV tables, the
``jobs/describe_dataset.py`` CLI, and the one scoring home."""

import inspect
import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from duke_spark.fixtures.embedding import OOV_WORDS
from duke_spark.fixtures.transcripts import (TOOLS, generate_transcripts,
                                             spark_transcripts)
from duke_spark.kernel.oracle import describe_conversation
from duke_spark.operators import canonical, describe
from duke_spark.operators.describe import (describe_conversations_duke,
                                           describe_dataset)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _assert_dataset_matches(got, exp):
    assert got["description"] == exp["description"]
    assert [c for c, _ in got["top"]] == [c for c, _ in exp["top"]]
    np.testing.assert_allclose([s for _, s in got["top"]],
                               [s for _, s in exp["top"]], rtol=0, atol=1e-6)


def _assert_convs_match(got_df, oracle_ctx, pdf):
    """Per conversation: the oracle's top class and sentence; a
    conversation the oracle cannot describe has no row."""
    got = got_df.toPandas().set_index("conv_id")
    exp = {c: describe_conversation(oracle_ctx, conv)
           for c, conv in pdf.groupby("conv_id")}
    assert set(got.index) == {c for c, e in exp.items() if e is not None}
    for conv_id, row in got.iterrows():
        assert row["top_class"] == exp[conv_id]["top"][0][0], conv_id
        assert row["description"] == exp[conv_id]["description"], conv_id
    return got


def test_null_roles_and_conv_ids_match_oracle(spark, ctx_bc, oracle_ctx,
                                              tiny_transcripts_pdf):
    """A NULL role names no source and a NULL conv_id no conversation, as
    the oracle's pandas ``groupby`` drops them; the whole table still
    counts the NULL-conv_id turns."""
    pdf = tiny_transcripts_pdf.copy()
    pdf.loc[pdf.index[::7], "role"] = None
    orphans = pdf.iloc[:9].assign(conv_id=None)
    pdf = pd.concat([pdf, orphans], ignore_index=True)
    df = spark_transcripts(spark, pdf).repartition(3)

    _assert_dataset_matches(describe_dataset(df, ctx_bc, top_n=5),
                            describe_conversation(oracle_ctx, pdf, top_n=5))
    got = _assert_convs_match(describe_conversations_duke(df, ctx_bc),
                              oracle_ctx, pdf)
    assert len(got) >= 15


@pytest.fixture(scope="module")
def header_contexts(spark):
    """A context whose vocab also holds the role and tool names (seeded
    random vectors), as a Spark broadcast and as the oracle's."""
    from duke_spark.fixtures.class_tree import mini_tree
    from duke_spark.fixtures.embedding import embedding_arrays
    from duke_spark.kernel.oracle import OracleContext
    from duke_spark.kernel.vectors import VocabEmbedding
    from duke_spark.pipeline import make_context
    vocab, matrix = embedding_arrays()
    names = ["user", "assistant", "tool"] + [t for t in TOOLS if t]
    extra = np.random.default_rng(3).standard_normal(
        (len(names), matrix.shape[1])).astype(matrix.dtype)
    vocab, matrix = list(vocab) + names, np.vstack([matrix, extra])
    return (make_context(spark, vocab=vocab, matrix=matrix),
            OracleContext(VocabEmbedding(vocab, matrix), mini_tree()))


def test_headers_only_conversation(spark, header_contexts,
                                   tiny_transcripts_pdf):
    """A conversation with no in-vocab turn is described by its role and
    tool names alone, as the oracle describes it."""
    ctx_bc, oracle_ctx = header_contexts
    oov = pd.DataFrame({
        "conv_id": "conv_oov", "turn_idx": np.arange(4, dtype="int32"),
        "role": ["user", "assistant", "tool", "user"],
        "text": [" ".join(OOV_WORDS[i:i + 3]) for i in range(4)],
        "tool": [None, None, "browser", None],
        "ts": tiny_transcripts_pdf["ts"].iloc[0]})
    pdf = pd.concat([tiny_transcripts_pdf, oov], ignore_index=True)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    df = spark_transcripts(spark, pdf)

    got = _assert_convs_match(describe_conversations_duke(df, ctx_bc),
                              oracle_ctx, pdf)
    assert got.loc["conv_oov", "n_sources"] == 1
    _assert_dataset_matches(describe_dataset(df, ctx_bc, top_n=5),
                            describe_conversation(oracle_ctx, pdf, top_n=5))


def test_all_oov_table_describes_nothing(spark, ctx_bc, tiny_transcripts_pdf):
    """With no header word in vocab, a table of OOV turns has no source:
    no description, no top classes and no per-conversation row."""
    pdf = tiny_transcripts_pdf.copy()
    pdf["text"] = [OOV_WORDS[i % len(OOV_WORDS)] for i in range(len(pdf))]
    df = spark_transcripts(spark, pdf)
    assert describe_dataset(df, ctx_bc) == {"description": None, "top": []}
    assert describe_conversations_duke(df, ctx_bc).count() == 0


def test_describe_dataset_job(oracle_ctx):
    """``jobs/describe_dataset.py`` on its synthetic input prints the
    oracle's whole-table description and top classes."""
    env = dict(os.environ, OPENBLAS_NUM_THREADS="1", OMP_NUM_THREADS="1")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "describe_dataset.py"),
         "--convs", "20", "--parallelism", "2"],
        capture_output=True, text=True, env=env, timeout=420)
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads([ln for ln in proc.stdout.splitlines()
                      if ln.startswith("{")][-1])
    exp = describe_conversation(
        oracle_ctx, generate_transcripts(n_convs=20, max_turns=16, seed=42),
        top_n=10)
    _assert_dataset_matches(got, exp)


def test_one_scoring_home():
    """Describe scores only through the per-key accumulator of
    ``canonical.py``, whose chunk loop is that module's one
    ``score_groups`` call; no grouped-map Python stage remains."""
    src = inspect.getsource(describe)
    assert "score_groups(" not in src
    assert "applyInPandas" not in src
    assert inspect.getsource(canonical).count("score_groups(") == 1
    assert "score_groups(" in inspect.getsource(
        canonical.weighted_score_sums)


def test_sliced_batches_match_oracle(spark, ctx_bc, oracle_ctx,
                                     tiny_transcripts, tiny_transcripts_pdf,
                                     monkeypatch):
    """A batch is described in slices of whole conversations of about
    ``_CHUNK`` cells; slices of a few cells, with the hot conversation
    alone in its slice, give the oracle's answers."""
    batch = (describe._source_rows(tiny_transcripts, ["conv_id"])
             .groupBy("conv_id")
             .agg(*[F.collect_list(c).alias(c)
                    for c in ("hdr", "src", "cell", "w")]).toPandas())
    monkeypatch.setattr(describe, "_CHUNK", 5)
    got = pd.concat(describe._describe_batch(batch, ctx_bc.value))
    _assert_convs_match(spark.createDataFrame(got), oracle_ctx,
                        tiny_transcripts_pdf)
