"""The one epoch-commit protocol (``streaming.epochs``) across every epoch
store: replays and compaction leave the read-side state equal to the
batch answer, a directory swap cut between its two renames recovers, and
the protocol has a single home."""

import os
import pathlib
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from duke_spark.operators.dedup import near_dup_filter
from duke_spark.operators.entity_resolution import resolve_entities
from duke_spark.operators.graph import build_edges
from duke_spark.operators.triples import fact_support
from duke_spark.streaming.graph_state import (IncrementalComponentStore,
                                              IncrementalEdgeStore,
                                              IncrementalFactStore)
from duke_spark.streaming.neardup_stream import StreamingNearDupFilter
from duke_spark.streaming.resolution_stream import IncrementalResolutionStore
from graph_checks import union_find

RES_KW = dict(threshold=0.95, num_planes=2, max_bucket=7)
FACT_KEY = ["subj", "pred", "obj", "conv_id"]


def _triple_batches():
    """Two epochs whose (conv:a mentions ent:x) group spans both, then an
    extra epoch adding a new edge and a second conversation asserting a
    fact conv:a already supports (distinct-conv counting must survive the
    compaction boundary)."""
    cols = ["conv_id", "turn_idx", "subj", "pred", "obj", "score"]
    return [pd.DataFrame(rows, columns=cols) for rows in (
        [("a", 0, "conv:a", "mentions", "ent:x", 0.5),
         ("a", 1, "conv:a", "mentions", "ent:y", 0.25),
         ("a", 1, "conv:a", "uses_tool", "tool:t", 1.0)],
        [("a", 2, "conv:a", "mentions", "ent:x", 0.75),
         ("b", 0, "conv:b", "mentions", "ent:y", 0.5)],
        [("d", 0, "conv:d", "mentions", "ent:x", 1.0),
         ("d", 1, "conv:a", "mentions", "ent:x", 0.1)],
    )]


def _vector_batches(dim=8, per_batch=9, seed=3):
    """Every batch plants near-copies of the same three seeds, so merges
    happen within an epoch and against the history."""
    rng = np.random.default_rng(seed)
    seeds = rng.normal(0, 1, (3, dim))
    out = []
    for b in range(3):
        rows = [(b * per_batch + j,
                 [float(x) for x in
                  (seeds[j // 3] + rng.normal(0, 0.005, dim) if j % 3 == 0
                   else rng.normal(0, 1, dim))])
                for j in range(per_batch)]
        out.append(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    return out


def _doc_batches():
    """Within-epoch and cross-epoch duplicates of earlier, smaller ids, so
    the stream's survivors equal batch greedy min-id near-dup survivors."""
    fox = "the quick brown fox jumps over the lazy dog"
    spark_txt = "completely different content about spark engines"
    fresh = "a brand new sentence with fresh words entirely"
    return [pd.DataFrame({"doc_id": pd.array(ids, dtype="int64"),
                          "text": texts}) for ids, texts in (
        ([0, 1, 2], [fox, fox + " today", spark_txt]),
        ([10, 11, 12], [fox, fresh, spark_txt]),
        ([20, 21], [fresh, "genuinely novel words appear in this row"]),
    )]


def _edge_key(df):
    return {(r.src, r.dst, r.rel): (round(r.weight, 9), r.n)
            for r in df.collect()}


def _fact_key(df):
    return {(r.subj, r.pred, r.obj): (r.n_support, r.n_convs,
                                      r.max_score, r.mean_score)
            for r in df.collect()}


def _map(df):
    return {r.entity: r.canonical for r in df.collect()}


def _doc_ids(df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


CASES = {
    "edge": SimpleNamespace(
        batches=_triple_batches,
        store=lambda p: IncrementalEdgeStore(p),
        read=lambda spark, s: _edge_key(s.read_edges(spark)),
        batch=lambda spark, seen: _edge_key(build_edges(seen)),
        compacted=lambda spark, pdf: len(
            pdf[["subj", "pred", "obj"]].drop_duplicates())),
    "fact": SimpleNamespace(
        batches=_triple_batches,
        store=lambda p: IncrementalFactStore(p),
        read=lambda spark, s: _fact_key(s.read_facts(spark)),
        batch=lambda spark, seen: _fact_key(fact_support(seen)),
        compacted=lambda spark, pdf: len(pdf[FACT_KEY].drop_duplicates())),
    "resolution": SimpleNamespace(
        batches=_vector_batches,
        store=lambda p: IncrementalResolutionStore(p, **RES_KW),
        read=lambda spark, s: _map(s.read_map(spark)),
        batch=lambda spark, seen: _map(resolve_entities(seen, **RES_KW)),
        compacted=lambda spark, pdf: len(pdf)),
    # the read is a sorted id LIST: each survivor must land in out_dir once
    "neardup": SimpleNamespace(
        batches=_doc_batches,
        store=lambda p: StreamingNearDupFilter(p + "/out", p + "/state",
                                               jaccard_threshold=0.7),
        read=lambda spark, s: _doc_ids(
            spark.read.parquet(s.survivors.path)),
        batch=lambda spark, seen: _doc_ids(
            near_dup_filter(seen, jaccard_threshold=0.7)),
        compacted=lambda spark, pdf: 16 * len(_doc_ids(
            near_dup_filter(spark.createDataFrame(pdf),
                            jaccard_threshold=0.7)))),
}


@pytest.mark.parametrize("kind", sorted(CASES))
def test_replay_then_compact_equals_batch(spark, tmp_path, kind):
    """N epochs, a replay of every epoch, a compaction, one more epoch:
    after every step the read-side state equals the batch answer over
    everything processed so far."""
    case = CASES[kind]
    *epochs, extra = case.batches()
    store = case.store(str(tmp_path / kind))
    seen = []

    def check(step):
        want = case.batch(spark, spark.createDataFrame(
            pd.concat(seen, ignore_index=True)))
        assert case.read(spark, store) == want, step

    for i, b in enumerate(epochs):
        store.process(spark.createDataFrame(b), epoch_id=i)
        seen.append(b)
        check(f"epoch {i}")
    for i, b in enumerate(epochs):
        store.process(spark.createDataFrame(b), epoch_id=i)  # replay
        check(f"replay of epoch {i}")
    assert store.compact(spark) == case.compacted(
        spark, pd.concat(seen, ignore_index=True))
    check("compaction")
    store.process(spark.createDataFrame(extra), epoch_id=len(epochs))
    seen.append(extra)
    check("epoch after compaction")


def _pairs(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=["a", "b"]))


def _labels(df):
    return {r.node: r.comp for r in df.collect()}


def _crash_mid_swap(dest):
    """The state a crash between a swap's two renames leaves behind:
    ``dest`` renamed to ``<dest>.old``, the new copy still in the tmp."""
    os.replace(dest, dest + ".old")
    os.makedirs(dest + ".compact_tmp", exist_ok=True)


def test_swap_crash_recovers_component_store(spark, tmp_path):
    store = IncrementalComponentStore(str(tmp_path / "cs"))
    epochs = [[("n1", "n2")], [("n2", "n3")], [("n5", "n6")]]
    store.process(_pairs(spark, epochs[0]), epoch_id=0)
    store.process(_pairs(spark, epochs[1]), epoch_id=1)
    before = _labels(store.read(spark))
    _crash_mid_swap(os.path.join(store.path, "assign"))
    assert _labels(store.read(spark)) == before
    store.process(_pairs(spark, epochs[2]), epoch_id=2)
    want = union_find([e for rows in epochs for e in rows])
    assert _labels(store.read(spark)) == want
    assert not os.path.exists(os.path.join(store.path, "assign.old"))


def test_swap_crash_recovers_edge_store(spark, tmp_path):
    *epochs, extra = [spark.createDataFrame(b) for b in _triple_batches()]
    store = IncrementalEdgeStore(str(tmp_path / "es"))
    for i, b in enumerate(epochs):
        store.process(b, epoch_id=i)
    store.compact(spark)
    before = _edge_key(store.read_edges(spark))
    _crash_mid_swap(os.path.join(store.path, "deltas"))
    assert _edge_key(store.read_edges(spark)) == before
    store.process(extra, epoch_id=len(epochs))
    assert _edge_key(store.read_edges(spark)) == _edge_key(
        build_edges(epochs[0].unionByName(epochs[1]).unionByName(extra)))


def test_one_epoch_protocol():
    """Epoch layout and directory swaps live in ``streaming/epochs.py``
    only: no other streaming module merges schemas, swaps directories or
    names the swap's tmp dir."""
    root = (pathlib.Path(__file__).resolve().parents[1]
            / "duke_spark" / "streaming")
    offenders = [f"{p.name}: {tok}" for p in sorted(root.glob("*.py"))
                 for tok in ("mergeSchema", "compact_tmp", "os.replace")
                 if p.name != "epochs.py" and tok in p.read_text()]
    assert offenders == []
