"""Incremental entity resolution (streaming.resolution_stream):
per-epoch parity with batch resolve_entities, real foreachBatch wiring,
replay idempotence, compaction, the run-id guard. The cross-store
replay/compaction contract: test_epoch_protocol.py."""

import numpy as np
import pandas as pd
import pytest

from duke_spark.operators.entity_resolution import resolve_entities
from duke_spark.streaming.resolution_stream import IncrementalResolutionStore

DIM = 8
KW = dict(threshold=0.95, num_planes=2, max_bucket=7)


def _vec_batches(seed=3, n_batches=3, per_batch=12):
    """Batches with planted aliases, including CROSS-epoch aliases: every
    batch re-plants near-copies of cluster seeds from earlier batches,
    so merges must happen between an epoch and the history."""
    rng = np.random.default_rng(seed)
    seeds = [rng.normal(0, 1, DIM) for _ in range(3)]
    batches, nxt = [], 0
    for b in range(n_batches):
        rows = []
        for j in range(per_batch):
            if j % 3 == 0:   # alias of a planted seed (possibly earlier);
                # (j // 3) cycles the seed index so EVERY batch plants
                # aliases of all three clusters, not just cluster 0
                v = seeds[(j // 3) % len(seeds)] + rng.normal(0, 0.005, DIM)
            else:            # background point
                v = rng.normal(0, 1, DIM)
            rows.append((nxt, [float(x) for x in v]))
            nxt += 1
        batches.append(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    return batches


def _map(df):
    return {r.entity: r.canonical for r in df.collect()}


def test_epoch_parity_vs_batch(spark, tmp_path):
    """After EVERY epoch the incremental map equals batch
    resolve_entities over all vectors processed so far."""
    batches = _vec_batches()
    store = IncrementalResolutionStore(str(tmp_path / "rs"), **KW)
    seen = None
    for i, b in enumerate(batches):
        store.process(spark.createDataFrame(b), epoch_id=i)
        seen = b if seen is None else pd.concat([seen, b],
                                                ignore_index=True)
        want = _map(resolve_entities(spark.createDataFrame(seen), **KW))
        got = _map(store.read_map(spark))
        assert got == want, f"divergence at epoch {i}"
    # non-vacuous: something actually merged, including across epochs
    final = _map(store.read_map(spark))
    merged = {e for e, c in final.items() if e != c}
    assert merged
    assert any(e >= 12 > final[e] for e in merged), \
        "no cross-epoch merge happened — fixture is vacuous"


def _long_arc():
    """A 40-node path: unit vectors 0.1 rad apart along a circle (cos 0.1
    ≈ 0.995 ≥ 0.99 > cos 0.2), minimum id at the arc's far end, so
    one-hop-per-round label propagation would need 39 rounds."""
    ids = np.random.default_rng(5).permutation(np.arange(100, 140))
    k = int(np.flatnonzero(ids == 100)[0])
    ids[[k, 39]] = ids[[39, k]]
    return pd.DataFrame({
        "vec_id": ids.astype(np.int64),
        "embedding": [[float(np.cos(0.1 * k)), float(np.sin(0.1 * k))]
                      + [0.0] * (DIM - 2) for k in range(len(ids))]})


@pytest.mark.parametrize("n_epochs", [1, 2])
def test_long_arc_matches_batch(spark, tmp_path, n_epochs):
    """A long path closes incrementally exactly as in batch resolution,
    whether it arrives in one epoch or is split across two."""
    kw = dict(threshold=0.99, num_planes=0)
    arc = _long_arc()
    store = IncrementalResolutionStore(str(tmp_path / "rs"), **kw)
    step = -(-len(arc) // n_epochs)
    for i in range(n_epochs):
        store.process(spark.createDataFrame(arc[i * step:(i + 1) * step]),
                      epoch_id=i)
    want = _map(resolve_entities(spark.createDataFrame(arc), **kw))
    assert want == {int(v): 100 for v in arc["vec_id"]}
    assert _map(store.read_map(spark)) == want


def test_replay_idempotent(spark, tmp_path):
    batches = _vec_batches()
    store = IncrementalResolutionStore(str(tmp_path / "rs"), **KW)
    for i, b in enumerate(batches):
        store.process(spark.createDataFrame(b), epoch_id=i)
    before = _map(store.read_map(spark))
    # at-least-once replay of the last epoch
    store.process(spark.createDataFrame(batches[-1]),
                  epoch_id=len(batches) - 1)
    assert _map(store.read_map(spark)) == before


def test_compact_preserves_map(spark, tmp_path):
    batches = _vec_batches(n_batches=2)
    store = IncrementalResolutionStore(str(tmp_path / "rs"), **KW)
    for i, b in enumerate(batches):
        store.process(spark.createDataFrame(b), epoch_id=i)
    before = _map(store.read_map(spark))
    n = store.compact(spark)
    assert n == sum(len(b) for b in batches)
    assert _map(store.read_map(spark)) == before
    # and the store still accepts new epochs after compaction
    extra = _vec_batches(seed=9, n_batches=1)[0]
    extra["vec_id"] += 1000
    store.process(spark.createDataFrame(extra), epoch_id=99)
    assert len(_map(store.read_map(spark))) == len(before) + len(extra)


def test_run_id_guard(spark, tmp_path):
    p = str(tmp_path / "rs")
    store = IncrementalResolutionStore(p, run_id="runA", **KW)
    store.process(spark.createDataFrame(_vec_batches(n_batches=1)[0]),
                  epoch_id=0)
    with pytest.raises(ValueError, match="fresh stream checkpoint"):
        IncrementalResolutionStore(p, run_id="runB", **KW)


def test_foreachbatch_e2e(spark, tmp_path):
    """Real Structured Streaming wiring: parquet vector stream →
    foreachBatch(store.process), two availableNow cycles (the second
    resumes from the offset log); final map equals batch resolution
    over both files."""
    import os

    in_dir, ck = str(tmp_path / "in"), str(tmp_path / "ck")
    store = IncrementalResolutionStore(str(tmp_path / "rs"), **KW)
    a, b = _vec_batches(seed=5, n_batches=2)

    os.makedirs(in_dir)
    schema = "vec_id bigint, embedding array<double>"

    def _cycle():
        q = (spark.readStream.schema(schema).parquet(in_dir)
             .writeStream.foreachBatch(store.process)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(300)

    spark.createDataFrame(a).toPandas().to_parquet(
        in_dir + "/a.parquet", index=False)
    _cycle()
    spark.createDataFrame(b).toPandas().to_parquet(
        in_dir + "/b.parquet", index=False)
    _cycle()

    both = spark.createDataFrame(pd.concat([a, b], ignore_index=True))
    assert _map(store.read_map(spark)) == \
        _map(resolve_entities(both, **KW))
