"""Incremental KG maintenance (streaming.graph_state): per-epoch edge
deltas fold to the exact batch edge aggregate; incremental connected
components match a union-find reference after EVERY epoch; a mismatched
run_id is
refused. Replay and compaction of every epoch store are tested once, in
test_epoch_protocol.py."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from duke_spark.operators.graph import build_edges, degrees
from duke_spark.operators.triples import fact_support
from duke_spark.streaming.graph_state import (IncrementalComponentStore,
                                              IncrementalEdgeStore,
                                              IncrementalFactStore)
from graph_checks import union_find


def _triples(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "subj",
                                    "pred", "obj", "score"]))


def _edge_batches(spark):
    """Three triple batches with overlap: the (conv:a mentions ent:x)
    group spans batches 1 and 2, so naive per-batch degree deltas would
    double-count it — the fold must not."""
    b1 = _triples(spark, [
        ("a", 0, "conv:a", "mentions", "ent:x", 0.5),
        ("a", 1, "conv:a", "mentions", "ent:y", 0.25),
        ("a", 1, "conv:a", "uses_tool", "tool:t", 1.0),
    ])
    b2 = _triples(spark, [
        ("a", 2, "conv:a", "mentions", "ent:x", 0.75),
        ("b", 0, "conv:b", "mentions", "ent:y", 0.5),
    ])
    b3 = _triples(spark, [
        ("c", 0, "conv:c", "mentions", "ent:z", 1.0),
    ])
    return [b1, b2, b3]


def _edge_key(df):
    return {(r.src, r.dst, r.rel): (round(r.weight, 9), r.n)
            for r in df.collect()}


def test_edge_store_fold_equals_batch(spark, tmp_path):
    batches = _edge_batches(spark)
    store = IncrementalEdgeStore(str(tmp_path / "es"))
    for i, b in enumerate(batches):
        store.process(b, epoch_id=i)
    all_triples = batches[0].unionByName(batches[1]) \
        .unionByName(batches[2])
    assert _edge_key(store.read_edges(spark)) == \
        _edge_key(build_edges(all_triples))
    # derived degrees match too
    got_deg = {r.id: (r.out_deg, r.in_deg, r.degree)
               for r in store.read_degrees(spark).collect()}
    want_deg = {r.id: (r.out_deg, r.in_deg, r.degree)
                for r in degrees(build_edges(all_triples)).collect()}
    assert got_deg == want_deg


def test_fresh_stores_read_empty_state(spark, tmp_path):
    """ADVICE-r4: read_edges/read_facts/compact on a freshly-constructed
    store (no epoch written yet) return empty state / 0 — mirroring
    IncrementalComponentStore.read — instead of raising PATH_NOT_FOUND."""
    es = IncrementalEdgeStore(str(tmp_path / "es"))
    edges = es.read_edges(spark)
    assert edges.count() == 0
    assert edges.columns == ["src", "dst", "rel", "weight", "n"]
    assert es.read_degrees(spark).count() == 0
    assert es.compact(spark) == 0

    fs = IncrementalFactStore(str(tmp_path / "fs"))
    facts = fs.read_facts(spark)
    assert facts.count() == 0
    assert facts.columns == ["subj", "pred", "obj", "n_support",
                             "n_convs", "max_score", "mean_score"]
    assert fs.compact(spark) == 0


def test_edge_store_run_id_guard(spark, tmp_path):
    p = str(tmp_path / "es")
    store = IncrementalEdgeStore(p, run_id="runA")
    store.process(_edge_batches(spark)[0], epoch_id=0)
    with pytest.raises(ValueError, match="fresh stream checkpoint"):
        IncrementalEdgeStore(p, run_id="runB")
    # reset clears the deltas and accepts the new run id
    store2 = IncrementalEdgeStore(p, run_id="runB", reset=True)
    store2.process(_edge_batches(spark)[2], epoch_id=0)
    assert set(_edge_key(store2.read_edges(spark))) == \
        {("conv:c", "ent:z", "mentions")}


def _fact_key(df):
    return {(r.subj, r.pred, r.obj): (r.n_support, r.n_convs,
                                      r.max_score, r.mean_score)
            for r in df.collect()}


def test_fact_store_matches_batch_every_epoch(spark, tmp_path):
    """After EVERY epoch the incremental rollup equals batch
    fact_support over all triples so far — including the distinct-conv
    count, which only survives folding because the delta grain keeps
    conv_id in the key."""
    batches = _edge_batches(spark)
    store = IncrementalFactStore(str(tmp_path / "fs"))
    seen = None
    for i, b in enumerate(batches):
        store.process(b, epoch_id=i)
        seen = b if seen is None else seen.unionByName(b)
        assert _fact_key(store.read_facts(spark)) == \
            _fact_key(fact_support(seen)), f"epoch {i}"


def test_fact_store_null_scores_match_batch(spark, tmp_path):
    """avg() skips NULL scores in batch fact_support; the incremental
    mean divides by the non-NULL count (n_score), not the row count —
    and an all-NULL fact yields a NULL mean on both sides."""
    rows = [("a", 0, "f:x", "p", "o", 0.8),
            ("a", 1, "f:x", "p", "o", None),
            ("b", 0, "f:y", "p", "o", None)]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "subj",
                                      "pred", "obj", "score"])
    b = spark.createDataFrame(
        pdf, "conv_id string, turn_idx long, subj string, pred string,"
             " obj string, score double")
    store = IncrementalFactStore(str(tmp_path / "fs"))
    store.process(b, epoch_id=0)
    got = _fact_key(store.read_facts(spark))
    assert got == _fact_key(fact_support(b))
    assert got[("f:x", "p", "o")] == (2, 1, 0.8, 0.8)  # mean over 1 row
    assert got[("f:y", "p", "o")][3] is None


def test_fact_store_run_id_guard(spark, tmp_path):
    p = str(tmp_path / "fs")
    store = IncrementalFactStore(p, run_id="runA")
    store.process(_edge_batches(spark)[0], epoch_id=0)
    with pytest.raises(ValueError, match="fresh stream checkpoint"):
        IncrementalFactStore(p, run_id="runB")


def test_edge_store_foreachbatch_e2e(spark, ctx_bc, tmp_path):
    """Real Structured Streaming wiring: transcripts readStream →
    extract_triples → foreachBatch(IncrementalEdgeStore.process), two
    availableNow cycles (second one resumes from the offset log), folded
    state equals the batch KG edges over both files."""
    from duke_spark.fixtures.transcripts import generate_transcripts
    from duke_spark.operators.triples import extract_triples
    from duke_spark.streaming.transcripts_stream import stream_transcripts

    in_dir, ck = str(tmp_path / "in"), str(tmp_path / "ck")
    store = IncrementalEdgeStore(str(tmp_path / "es"))
    a = generate_transcripts(n_convs=4, max_turns=5, seed=11)
    b = generate_transcripts(n_convs=4, max_turns=5, seed=12)

    import os
    os.makedirs(in_dir)

    def _cycle():
        q = (extract_triples(stream_transcripts(spark, in_dir), ctx_bc)
             .writeStream.foreachBatch(store.process)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(300)

    a.to_parquet(in_dir + "/a.parquet", index=False)
    _cycle()
    b.to_parquet(in_dir + "/b.parquet", index=False)
    _cycle()

    both = spark.createDataFrame(pd.concat([a, b], ignore_index=True))
    want = _edge_key(build_edges(extract_triples(both, ctx_bc)))
    assert _edge_key(store.read_edges(spark)) == want


def _pairs(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=["a", "b"]))


def _labels(df):
    return {r.node: r.comp for r in df.collect()}


def test_component_store_matches_batch_every_epoch(spark, tmp_path):
    """Chain growth, a cross-component merge, and disjoint additions —
    after each epoch the incremental labels equal union-find over all
    edges so far."""
    epochs = [
        [("n2", "n3"), ("n8", "n9")],
        [("n1", "n2"), ("n5", "n6")],           # extends + new comp
        [("n3", "n8")],                          # merges {n1..n3},{n8,n9}
        [("n7", "n7")],                          # self-loop, isolated
    ]
    store = IncrementalComponentStore(str(tmp_path / "cs"))
    seen = []
    for i, rows in enumerate(epochs):
        seen.extend(rows)
        store.process(_pairs(spark, rows), epoch_id=i)
        assert _labels(store.read(spark)) == union_find(seen), f"epoch {i}"


def test_component_store_replay_idempotent(spark, tmp_path):
    store = IncrementalComponentStore(str(tmp_path / "cs"))
    store.process(_pairs(spark, [("n1", "n2")]), epoch_id=0)
    store.process(_pairs(spark, [("n2", "n3")]), epoch_id=1)
    want = _labels(store.read(spark))
    store.process(_pairs(spark, [("n2", "n3")]), epoch_id=1)  # replay
    store.process(_pairs(spark, [("n1", "n2")]), epoch_id=0)  # stale too
    assert _labels(store.read(spark)) == want
    assert want == {"n1": "n1", "n2": "n1", "n3": "n1"}


def test_component_store_random_parity(spark, tmp_path):
    """Randomized incremental-vs-union-find parity over a larger edge
    stream split into uneven epochs."""
    import random
    rng = random.Random(7)
    edges = [(f"v{rng.randrange(40)}", f"v{rng.randrange(40)}")
             for _ in range(120)]
    cuts = sorted(rng.sample(range(1, 120), 4))
    store = IncrementalComponentStore(str(tmp_path / "cs"))
    prev = 0
    for i, c in enumerate(cuts + [120]):
        store.process(_pairs(spark, edges[prev:c]), epoch_id=i)
        prev = c
    assert _labels(store.read(spark)) == union_find(edges)
