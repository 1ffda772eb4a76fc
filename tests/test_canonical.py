"""Per-key mean class scores (``operators/canonical.py::_key_means``) for
entities and conversations: chunked accumulation against the oracle, NULL
keys, and the shape of the executed plan."""

import numpy as np
import pandas as pd
import pytest

from duke_spark.eval import run_config_grid
from duke_spark.kernel.oracle import link_mentions, oracle_canonical_types
from duke_spark.kernel.vectors import score_groups
from duke_spark.operators import canonical
from duke_spark.operators.canonical import (canonical_types_df,
                                            describe_conversations)
from duke_spark.operators.describe import (dataset_source_means,
                                           describe_conversations_duke)
from duke_spark.operators.mentions import linked_mentions


@pytest.fixture(scope="module")
def chunked_mentions(ctx_bc):
    """(conv_id, entity, mention) rows, no linking: entity ``hot`` and
    conversation ``c0`` each hold more distinct mentions than one
    ``_CHUNK``; mentions repeat (count weights matter) and are shared
    across keys."""
    rng = np.random.default_rng(7)
    words = list(ctx_bc.value.embedding.vocab)
    pairs = [f"{a} {b}" for a in words for b in words if a != b]
    n_hot = canonical._CHUNK + 500
    assert len(pairs) > n_hot
    hot = rng.permutation(pairs)[:n_hot]
    rows = [("c0", "hot", m) for m in hot]
    rows += [("c0", "hot", m) for m in hot[rng.random(n_hot) < 0.3]]
    # small keys draw from the hot mentions and a few single/triple words
    extra = list(words[:20]) + [f"{a} {b} {c}" for a, b, c in
                                zip(words[:15], words[20:35], words[40:55])]
    for i in range(400):
        m = hot[rng.integers(n_hot)] if i % 3 else extra[i % len(extra)]
        rows.append((f"c{1 + i % 9}", f"e{i % 7}", m))
        rows.append((f"c{1 + i % 9}", "hot", m))
    return pd.DataFrame(rows, columns=["conv_id", "entity", "mention"])


@pytest.fixture(scope="module")
def chunked_df(spark, chunked_mentions):
    return spark.createDataFrame(chunked_mentions).repartition(5)


@pytest.mark.parametrize("key", ["entity", "conv_id"])
def test_chunked_means_match_oracle(spark, ctx_bc, oracle_ctx, key,
                                    chunked_mentions, chunked_df):
    ctx = ctx_bc.value
    got = canonical._key_means(
        chunked_df, ctx_bc, key,
        lambda pdf, means, ctx: pd.DataFrame({
            key: pdf[key], "n_mentions": pdf["n_mentions"],
            "mean_scores": list(means)}),
        f"{key} string, n_mentions bigint, mean_scores array<double>"
    ).toPandas().set_index(key)
    if key == "entity":
        types = canonical_types_df(spark, chunked_df, ctx_bc).toPandas()
        types = dict(zip(types["entity"], types["canonical_type"]))
    else:
        types = describe_conversations(spark, chunked_df, ctx_bc).toPandas()
        types = dict(zip(types["conv_id"], types["topic"]))

    counts = chunked_mentions.groupby([key, "mention"]).size()
    assert set(got.index) == set(counts.index.get_level_values(0))
    for k, cnt in counts.groupby(level=0):
        ms = cnt.index.get_level_values(1)
        exp = np.average(score_groups(ctx.embedding,
                                      ctx.embedding.encode(ms)[0],
                                      ctx.class_matrix),
                         axis=0, weights=cnt.to_numpy())
        np.testing.assert_allclose(got.loc[k, "mean_scores"], exp,
                                   rtol=0, atol=1e-12)
        assert got.loc[k, "n_mentions"] == cnt.sum()
    # the hot key's distinct mentions straddle a chunk boundary
    assert len(counts.loc["hot" if key == "entity" else "c0"]) \
        > canonical._CHUNK

    assert types == oracle_canonical_types(oracle_ctx,
                                           _oracle_rows(oracle_ctx,
                                                        chunked_mentions, key))


def _oracle_rows(oracle_ctx, pdf, key):
    """``pdf``'s rows keyed by ``key`` (as ``entity``, the column
    ``oracle_canonical_types`` groups by), each with its oracle scores."""
    scores = link_mentions(oracle_ctx,
                           [m.split(" ") for m in pdf["mention"]])[1]
    return pd.DataFrame({"entity": pdf[key].to_numpy(),
                         "class_scores": list(scores)})


def test_encoded_cells_never_score_a_dropped_group(ctx_bc):
    """A cell with an OOV word, or a NULL cell, encodes to code -1, and
    scoring a -1 code raises instead of reading the last encoded group."""
    ctx = ctx_bc.value
    codes, ids = canonical.encode_cells(ctx, np.array(
        ["guitar song", "guitar zzyzx", None, "song"], dtype=object))
    assert codes.tolist() == [0, -1, -1, 1] and len(ids) == 2
    with pytest.raises(KeyError):
        canonical.weighted_score_sums(ctx, np.zeros(4, dtype=np.int64),
                                      codes, ids, np.ones(4), 1)


def test_null_keys_name_no_key(spark, ctx_bc, oracle_ctx):
    """A NULL conv_id, entity or mention names no key: those rows are
    dropped before the shuffle, as pandas ``groupby`` drops NaN keys."""
    pdf = pd.DataFrame({
        "conv_id": ["c1", "c1", None, "c2", "c2", "c3"],
        "entity": ["person", None, "person", "place", "place", "place"],
        "mention": ["baseball league", "guitar song", "river water",
                    "river water", None, "guitar song"],
    })
    df = spark.createDataFrame(pdf, "conv_id string, entity string, "
                                    "mention string")
    topics = (describe_conversations(spark, df, ctx_bc).toPandas()
              .set_index("conv_id"))
    assert sorted(topics.index) == ["c1", "c2", "c3"]
    assert topics["n_mentions"].to_dict() == {"c1": 2, "c2": 1, "c3": 1}
    types = canonical_types_df(spark, df, ctx_bc).toPandas()
    assert list(types["entity"]) == ["person", "place"]
    assert list(types["n_mentions"]) == [2, 2]

    clean = pdf.dropna(subset=["mention"])
    assert dict(zip(types["entity"], types["canonical_type"])) == \
        oracle_canonical_types(oracle_ctx,
                               _oracle_rows(oracle_ctx, clean, "entity"))
    assert topics["topic"].to_dict() == oracle_canonical_types(
        oracle_ctx, _oracle_rows(oracle_ctx, clean, "conv_id"))


def _plan_nodes(plan, above=True, out=None):
    """(node name, output types, above every exchange) for each node of an
    executed physical plan, looking through AQE stage wrappers."""
    out = [] if out is None else out
    name = plan.nodeName()
    if name.startswith("AdaptiveSparkPlan"):
        return _plan_nodes(plan.executedPlan(), above, out)
    if "QueryStage" in name:
        return _plan_nodes(plan.plan(), above, out)
    if name.startswith("ReusedExchange"):
        return _plan_nodes(plan.child(), above, out)
    attrs = plan.output()
    types = [attrs.apply(i).dataType().simpleString()
             for i in range(attrs.size())]
    out.append((name, types, above))
    kids = plan.children()
    for i in range(kids.size()):
        _plan_nodes(kids.apply(i), above and "Exchange" not in name, out)
    return out


def _assert_one_key_means_plan(df):
    nodes = _plan_nodes(df._jdf.queryExecution().executedPlan())
    names = [n for n, _, _ in nodes]
    assert "FlatMapGroupsInPandas" not in names
    assert any("Exchange" in n for n in names)
    shuffled = [(n, t) for n, t, above in nodes
                if not above or "Exchange" in n]
    assert not [n for n, t in shuffled if "array<double>" in t], nodes
    assert [n for n, _, above in nodes
            if above and n == "MapInPandas"] == ["MapInPandas"], nodes


def test_one_key_means_plan(spark, tiny_transcripts, ctx_bc, monkeypatch):
    """Entity types, conversation topics, the eval config grid and both
    Duke describe paths run one per-key plan: no grouped-map Python
    stage, no score vector on either side of a shuffle (a partial
    ``collect_list`` hides its element type in a binary buffer, so the
    map side is checked too), and exactly one ``MapInPandas`` after the
    last exchange."""
    mentions = linked_mentions(tiny_transcripts, ctx_bc)
    for df in (canonical._entity_types(mentions, ctx_bc),
               describe_conversations(spark, mentions, ctx_bc),
               run_config_grid(mentions, ctx_bc, {"conv_000000": ["song"]}),
               describe_conversations_duke(tiny_transcripts, ctx_bc)):
        df.collect()
        _assert_one_key_means_plan(df)
    # the whole-table path collects its per-batch source sums itself
    collected = []
    cls = type(tiny_transcripts)
    to_pandas = cls.toPandas
    monkeypatch.setattr(cls, "toPandas",
                        lambda df: collected.append(df) or to_pandas(df))
    assert dataset_source_means(tiny_transcripts, ctx_bc)
    assert len(collected) == 1
    _assert_one_key_means_plan(collected[0])
