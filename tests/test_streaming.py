"""Structured Streaming: batch/stream parity, incremental resume, windows."""

import os

import pytest

from duke_spark.fixtures.transcripts import generate_transcripts
from duke_spark.operators.triples import extract_triples
from duke_spark.streaming import run_stream_to_triples, turn_rate_windows


def _write_chunk(pdf, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf.to_parquet(path, index=False)


@pytest.fixture()
def stream_dirs(tmp_path):
    return {k: str(tmp_path / k) for k in ("in", "out", "ck")}


def _triples_set(df):
    return {tuple(r) for r in
            df.select("subj", "pred", "obj", "conv_id", "turn_idx")
            .collect()}


def test_stream_equals_batch(spark, ctx_bc, stream_dirs, tiny_transcripts,
                             tiny_transcripts_pdf):
    _write_chunk(tiny_transcripts_pdf, stream_dirs["in"] + "/part0.parquet")
    run_stream_to_triples(spark, stream_dirs["in"], stream_dirs["out"],
                          stream_dirs["ck"], ctx_bc)
    got = _triples_set(spark.read.parquet(stream_dirs["out"]))
    want = _triples_set(extract_triples(tiny_transcripts, ctx_bc))
    assert got == want


def test_incremental_resume_no_duplicates(spark, ctx_bc, stream_dirs):
    a = generate_transcripts(n_convs=6, max_turns=6, seed=1)
    b = generate_transcripts(n_convs=6, max_turns=6, seed=2)
    b["conv_id"] = "late_" + b["conv_id"]
    _write_chunk(a, stream_dirs["in"] + "/a.parquet")
    run_stream_to_triples(spark, stream_dirs["in"], stream_dirs["out"],
                          stream_dirs["ck"], ctx_bc)
    n_first = spark.read.parquet(stream_dirs["out"]).count()

    # second cycle with one new file: only the new file is processed
    _write_chunk(b, stream_dirs["in"] + "/b.parquet")
    run_stream_to_triples(spark, stream_dirs["in"], stream_dirs["out"],
                          stream_dirs["ck"], ctx_bc)
    out = spark.read.parquet(stream_dirs["out"])
    n_total = out.count()
    assert n_total > n_first
    # no duplicates: conv_ids from file A appear exactly as often as in
    # a fresh batch run over A alone
    from duke_spark.fixtures.transcripts import spark_transcripts
    batch_a = extract_triples(spark_transcripts(spark, a), ctx_bc).count()
    assert out.filter(~out.conv_id.contains("late_")).count() == batch_a


def test_turn_rate_windows_batch_parity(spark, tiny_transcripts):
    # batch evaluation of the same windowed plan defines expected values
    res = {(r["win_start"], r["role"]): r["n_turns"]
           for r in turn_rate_windows(tiny_transcripts).collect()}
    assert res
    # generator emits one turn per (conv, minute) starting 2026-01-01;
    # total across windows == total turns
    assert sum(res.values()) == tiny_transcripts.count()


def test_turn_rate_windows_streaming(spark, stream_dirs, tiny_transcripts_pdf,
                                     tmp_path):
    _write_chunk(tiny_transcripts_pdf, stream_dirs["in"] + "/w.parquet")
    from duke_spark.streaming import stream_transcripts
    agg = turn_rate_windows(stream_transcripts(spark, stream_dirs["in"]))
    q = (agg.writeStream.format("memory").queryName("turn_windows")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["win_start"], r["role"]): r["n_turns"]
           for r in spark.sql("select * from turn_windows").collect()}
    want = {(r["win_start"], r["role"]): r["n_turns"]
            for r in turn_rate_windows(
                spark.createDataFrame(tiny_transcripts_pdf)).collect()}
    assert got == want


def test_approx_count_distinct_tracks_exact(spark):
    """HLL sketch cardinality (the 10^12-row path) lands within its rsd
    bound of exact countDistinct."""
    import pandas as pd
    from pyspark.sql import functions as F

    df = spark.createDataFrame(pd.DataFrame({
        "g": ["a"] * 5000 + ["b"] * 5000,
        "u": list(range(1000)) * 5 + list(range(300)) * 10
        + list(range(2000, 4000)),
    }))
    got = (df.groupBy("g")
           .agg(F.countDistinct("u").alias("exact"),
                F.approx_count_distinct("u", 0.02).alias("approx"))
           .toPandas().set_index("g"))
    for g in ("a", "b"):
        exact, approx = got.loc[g, "exact"], got.loc[g, "approx"]
        assert abs(approx - exact) / exact < 0.06   # 3x rsd margin


def test_stateful_running_topics(spark, ctx_bc, stream_dirs,
                                 tiny_transcripts_pdf, tiny_transcripts):
    """applyInPandasWithState: after streaming the input in two chunks,
    every conversation's running topic equals the batch pipeline's."""
    from duke_spark.operators.mentions import linked_mentions
    from duke_spark.streaming import stream_transcripts
    from duke_spark.streaming.stateful import running_conversation_topics

    # split input into two files → two micro-batches in one availableNow
    # run (maxFilesPerTrigger=1), so state must carry across batches
    half = len(tiny_transcripts_pdf) // 2
    _write_chunk(tiny_transcripts_pdf.iloc[:half],
                 stream_dirs["in"] + "/a.parquet")
    _write_chunk(tiny_transcripts_pdf.iloc[half:],
                 stream_dirs["in"] + "/b.parquet")

    stream = stream_transcripts(spark, stream_dirs["in"],
                                max_files_per_trigger=1)
    mentions = linked_mentions(stream, ctx_bc)
    topics = running_conversation_topics(mentions, ctx_bc)
    q = (topics.writeStream.format("memory").queryName("run_topics")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(180)

    # last emitted row per conversation = final running topic
    final = (spark.sql("select * from run_topics").toPandas()
             .groupby("conv_id").last())

    from duke_spark.operators.canonical import describe_conversations
    batch = (describe_conversations(
        spark, linked_mentions(tiny_transcripts, ctx_bc), ctx_bc)
        .toPandas().set_index("conv_id"))

    assert set(final.index) == set(batch.index)
    for conv_id in batch.index:
        assert final.loc[conv_id, "topic"] == batch.loc[conv_id, "topic"], \
            conv_id
        assert final.loc[conv_id, "n_mentions"] == \
            batch.loc[conv_id, "n_mentions"]


def test_stream_exact_dedup_first_seen(spark, tmp_path):
    """Streaming dedup: one survivor per distinct (normalized) text, and
    duplicates arriving in a LATER micro-batch within the watermark are
    dropped via checkpointed state."""
    import pandas as pd
    from pyspark.sql import types as T
    from duke_spark.streaming.dedup_stream import stream_exact_dedup

    dirs = {k: str(tmp_path / k) for k in ("in", "out", "ck")}
    base = pd.Timestamp("2026-01-01 00:00:00")
    pdf = pd.DataFrame({
        "doc_id": pd.array(range(6), dtype="int64"),
        "text": ["alpha beta", "gamma", "alpha  beta",   # ws-normalized dup
                 "delta", "gamma", "epsilon"],
        "ts": pd.Series([base + pd.Timedelta(seconds=i)
                         for i in range(6)]).astype("datetime64[us]"),
    })
    _write_chunk(pdf, dirs["in"] + "/a.parquet")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])

    def run():
        stream = spark.readStream.schema(schema).parquet(dirs["in"])
        (stream_exact_dedup(stream).writeStream
         .format("parquet").option("path", dirs["out"])
         .option("checkpointLocation", dirs["ck"])
         .trigger(availableNow=True).start().awaitTermination())

    run()
    out = spark.read.parquet(dirs["out"]).toPandas()
    norm = out["text"].str.replace(r"\s+", " ", regex=True)
    assert len(out) == 4 and norm.is_unique
    assert set(norm) == {"alpha beta", "gamma", "delta", "epsilon"}

    # late-arriving duplicates (inside the watermark) + one new doc
    late = pd.DataFrame({
        "doc_id": pd.array([10, 11], dtype="int64"),
        "text": ["gamma", "zeta"],
        "ts": pd.Series([base + pd.Timedelta(seconds=7)] * 2)
        .astype("datetime64[us]"),
    })
    _write_chunk(late, dirs["in"] + "/b.parquet")
    run()
    out2 = spark.read.parquet(dirs["out"]).toPandas()
    assert len(out2) == 5                       # only "zeta" added
    assert 10 not in set(out2["doc_id"])


def test_stream_near_dup_filter_across_batches(spark, tmp_path):
    """Incremental MinHash-LSH: a later micro-batch's near-duplicate of
    an earlier batch's document is dropped via the persisted band state;
    fresh documents keep flowing."""
    import pandas as pd
    from pyspark.sql import types as T
    from duke_spark.streaming.neardup_stream import StreamingNearDupFilter

    dirs = {k: str(tmp_path / k) for k in ("in", "out", "state", "ck")}
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    proc = StreamingNearDupFilter(dirs["out"], dirs["state"],
                                  jaccard_threshold=0.7)

    def run():
        stream = spark.readStream.schema(schema).parquet(dirs["in"])
        (stream.writeStream.foreachBatch(proc.process)
         .option("checkpointLocation", dirs["ck"])
         .trigger(availableNow=True).start().awaitTermination())

    a = pd.DataFrame({
        "doc_id": pd.array([0, 1, 2], dtype="int64"),
        "text": ["the quick brown fox jumps over the lazy dog",
                 "the quick brown fox jumps over the lazy dog today",
                 "completely different content about spark engines"],
    })
    _write_chunk(a, dirs["in"] + "/a.parquet")
    run()
    first = set(spark.read.parquet(dirs["out"]).toPandas()["doc_id"])
    assert 0 in first and 2 in first
    assert 1 not in first              # within-batch near-dup dropped

    b = pd.DataFrame({
        "doc_id": pd.array([10, 11], dtype="int64"),
        "text": ["the quick brown fox jumps over the lazy dog",  # cross-batch dup
                 "a brand new sentence with fresh words entirely"],
    })
    _write_chunk(b, dirs["in"] + "/b.parquet")
    run()
    final = set(spark.read.parquet(dirs["out"]).toPandas()["doc_id"])
    assert 10 not in final             # collided with batch A's bands
    assert 11 in final
    assert final == first | {11}


def test_near_dup_state_compaction(spark, tmp_path):
    """compact() rebuilds the band table from the surviving corpus and
    admission behaves identically afterwards."""
    import pandas as pd
    from pyspark.sql import types as T
    from duke_spark.streaming.neardup_stream import StreamingNearDupFilter

    dirs = {k: str(tmp_path / k) for k in ("in", "out", "state", "ck")}
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    proc = StreamingNearDupFilter(dirs["out"], dirs["state"],
                                  jaccard_threshold=0.7)

    def run():
        stream = spark.readStream.schema(schema).parquet(dirs["in"])
        (stream.writeStream.foreachBatch(proc.process)
         .option("checkpointLocation", dirs["ck"])
         .trigger(availableNow=True).start().awaitTermination())

    a = pd.DataFrame({
        "doc_id": pd.array([0, 1], dtype="int64"),
        "text": ["the quick brown fox jumps over the lazy dog",
                 "something else entirely about streaming state"],
    })
    _write_chunk(a, dirs["in"] + "/a.parquet")
    run()
    n_before = spark.read.parquet(dirs["state"]).count()
    n_after = proc.compact(spark)
    assert n_after == n_before == 2 * 16   # 2 survivors × 16 bands

    # post-compaction admission still drops a near-dup of history
    b = pd.DataFrame({
        "doc_id": pd.array([5, 6], dtype="int64"),
        "text": ["the quick brown fox jumps over the lazy dog",
                 "genuinely novel words appear in this row"],
    })
    _write_chunk(b, dirs["in"] + "/b.parquet")
    run()
    final = set(spark.read.parquet(dirs["out"]).toPandas()["doc_id"])
    assert final == {0, 1, 6}

def test_neardup_replay_rewrites_lost_survivors(spark, tmp_path):
    """Crash-replay safety (ADVICE r2): if an epoch's band rows reached the
    state table but its survivor rows never reached out_dir (the old
    bands-first commit order made this possible), replaying the SAME epoch
    must still write the survivors — its own epoch-tagged bands are
    excluded from the history join, so the batch cannot collide with
    itself."""
    import pandas as pd
    import shutil
    from duke_spark.streaming.neardup_stream import StreamingNearDupFilter

    dirs = {k: str(tmp_path / k) for k in ("out", "state")}
    proc = StreamingNearDupFilter(dirs["out"], dirs["state"],
                                  jaccard_threshold=0.7)
    batch = spark.createDataFrame(pd.DataFrame({
        "doc_id": pd.array([1, 2], dtype="int64"),
        "text": ["the quick brown fox jumps over the lazy dog",
                 "completely different words about checkpoint replays"],
    }))
    proc.process(batch, epoch_id=5)
    assert set(spark.read.parquet(dirs["out"]).toPandas()["doc_id"]) == {1, 2}

    # simulate the crash state: bands committed, survivors lost
    shutil.rmtree(dirs["out"])
    proc.process(batch, epoch_id=5)           # epoch REPLAY
    got = set(spark.read.parquet(dirs["out"]).toPandas()["doc_id"])
    assert got == {1, 2}, "replay collided with its own bands"

    # a genuinely NEW epoch still sees epoch-5 bands as history
    dup = spark.createDataFrame(pd.DataFrame({
        "doc_id": pd.array([9], dtype="int64"),
        "text": ["the quick brown fox jumps over the lazy dog"],
    }))
    proc.process(dup, epoch_id=6)
    final = set(spark.read.parquet(dirs["out"]).toPandas()["doc_id"])
    assert 9 not in final


def test_neardup_verified_mode_keeps_fluke_collisions(spark, tmp_path):
    """verify=True retains survivor MinHash signatures and only drops
    cross-batch collisions whose signature-estimated jaccard clears the
    threshold. The fixture pair below was searched offline with the real
    operators: exactly 1 of 16 bands collides but only 16/64 signature
    slots agree (est. jaccard 0.25) — a fluke collision that conservative
    mode drops and verified mode keeps. A byte-identical duplicate
    (agreement 1.0) must still be dropped in both modes."""
    import pandas as pd
    from duke_spark.streaming.neardup_stream import StreamingNearDupFilter

    base = ("the quick brown fox jumps over the lazy dog while rain falls "
            "softly on the quiet village roofs at dusk")
    fluke = ("the quick brown fox jumps over the lazy dog harbor falcon "
             "cinder juniper granite quartz meadow velvet prairie saffron")

    results = {}
    for mode, verify in (("conservative", False), ("verified", True)):
        out = str(tmp_path / f"out_{mode}")
        state = str(tmp_path / f"state_{mode}")
        proc = StreamingNearDupFilter(out, state, jaccard_threshold=0.7,
                                      verify=verify)
        a = spark.createDataFrame(pd.DataFrame({
            "doc_id": pd.array([1], dtype="int64"), "text": [base]}))
        proc.process(a, epoch_id=0)
        b = spark.createDataFrame(pd.DataFrame({
            "doc_id": pd.array([10, 11], dtype="int64"),
            "text": [fluke, base]}))          # 11 = exact dup of history
        proc.process(b, epoch_id=1)
        results[mode] = set(
            spark.read.parquet(out).toPandas()["doc_id"])

    assert results["conservative"] == {1}          # fluke dropped too
    assert results["verified"] == {1, 10}          # fluke survives
    assert 11 not in results["verified"]           # true dup still dropped


def test_neardup_fresh_run_respects_prior_history(spark, tmp_path):
    """Replay exclusion is scoped to (run_id, epoch_id) (ADVICE r3): a NEW
    writer with a fresh checkpoint — epoch ids restarting at 0 — against
    an EXISTING state dir must still treat the prior run's epoch-0 rows
    as history. Raw epoch equality silently ignored them, admitting
    near-duplicates of those survivors."""
    import pandas as pd
    from duke_spark.streaming.neardup_stream import StreamingNearDupFilter

    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    run1 = StreamingNearDupFilter(out, state, jaccard_threshold=0.7)
    run1.process(spark.createDataFrame(pd.DataFrame({
        "doc_id": pd.array([1], dtype="int64"),
        "text": ["the quick brown fox jumps over the lazy dog"]})),
        epoch_id=0)

    # second run: new writer object (new run_id), epochs restart at 0
    run2 = StreamingNearDupFilter(out, state, jaccard_threshold=0.7)
    assert run1.run_id != run2.run_id
    run2.process(spark.createDataFrame(pd.DataFrame({
        "doc_id": pd.array([10, 11], dtype="int64"),
        "text": ["the quick brown fox jumps over the lazy dog",
                 "entirely fresh material never seen before"]})),
        epoch_id=0)
    got = set(spark.read.parquet(out).toPandas()["doc_id"])
    assert 10 not in got, "fresh run ignored prior run's epoch-0 state"
    assert got == {1, 11}

    # and a stable run_id (same checkpoint restarted) still self-excludes
    run3 = StreamingNearDupFilter(out, state, jaccard_threshold=0.7,
                                  run_id=run2.run_id)
    assert run3.run_id == run2.run_id


def test_neardup_verified_missing_sig_drops_conservatively(spark, tmp_path):
    """verify=True with a band collision whose historical signature is
    MISSING from the sidecar (crash between the bands and sigs appends)
    must fall back to the conservative drop, not a silent keep."""
    import glob
    import pandas as pd
    import shutil
    from duke_spark.streaming.neardup_stream import StreamingNearDupFilter

    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    proc = StreamingNearDupFilter(out, state, jaccard_threshold=0.7,
                                  verify=True)
    proc.process(spark.createDataFrame(pd.DataFrame({
        "doc_id": pd.array([1], dtype="int64"),
        "text": ["the quick brown fox jumps over the lazy dog"]})),
        epoch_id=0)
    # simulate the partial-sidecar crash: bands persisted, but doc 1's
    # signature row never landed — the sidecar exists yet lacks the
    # colliding doc, so the verify join finds no signature for it
    [epoch_dir] = glob.glob(os.path.join(state + "_sigs", "epoch=*"))
    orphaned = spark.read.parquet(epoch_dir).filter("doc_id <> 1") \
        .localCheckpoint()
    shutil.rmtree(epoch_dir)
    orphaned.write.parquet(epoch_dir)
    proc.process(spark.createDataFrame(pd.DataFrame({
        "doc_id": pd.array([10], dtype="int64"),
        "text": ["the quick brown fox jumps over the lazy dog"]})),
        epoch_id=1)
    got = set(spark.read.parquet(out).toPandas()["doc_id"])
    assert 10 not in got, "missing sidecar signature became a false keep"


def test_neardup_corrupt_state_raises(spark, tmp_path):
    """An unreadable band file is an error, never "no history": admitting
    the batch would let every near-duplicate of the lost bands through."""
    import glob
    import pandas as pd
    from py4j.protocol import Py4JJavaError
    from duke_spark.streaming.neardup_stream import StreamingNearDupFilter

    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    proc = StreamingNearDupFilter(out, state, jaccard_threshold=0.7)
    doc = "the quick brown fox jumps over the lazy dog"
    proc.process(spark.createDataFrame(pd.DataFrame({
        "doc_id": pd.array([1], dtype="int64"), "text": [doc]})),
        epoch_id=0)
    for f in glob.glob(os.path.join(state, "**", "*.parquet"),
                       recursive=True):
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file")
    with pytest.raises(Py4JJavaError,
                       match="FAILED_READ_FILE.*state/epoch="):
        proc.process(spark.createDataFrame(pd.DataFrame({
            "doc_id": pd.array([10], dtype="int64"), "text": [doc]})),
            epoch_id=1)
    assert list(spark.read.parquet(out).toPandas()["doc_id"]) == [1]


def test_stream_dedup_state_bounded_by_watermark(spark, tmp_path):
    """Watermark eviction bounds dedup state (VERDICT r3 #7): across 4
    epochs whose event time advances far past the watermark delay, the
    state store's numRowsTotal must plateau at ~2 epochs' keys (current
    + not-yet-evicted previous), NOT grow with total ingest."""
    import pandas as pd
    from pyspark.sql import types as T
    from duke_spark.streaming.dedup_stream import stream_exact_dedup

    dirs = {k: str(tmp_path / k) for k in ("in", "out", "ck")}
    base = pd.Timestamp("2026-01-01 00:00:00")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    K, EPOCHS = 20, 4
    os.makedirs(dirs["in"], exist_ok=True)
    stream = spark.readStream.schema(schema).parquet(dirs["in"])
    q = (stream_exact_dedup(stream, watermark="10 seconds").writeStream
         .format("parquet").option("path", dirs["out"])
         .option("checkpointLocation", dirs["ck"]).start())
    try:
        totals = []
        for e in range(EPOCHS):
            pdf = pd.DataFrame({
                "doc_id": pd.array(range(e * K, e * K + K), dtype="int64"),
                "text": [f"epoch{e} doc{i} payload" for i in range(K)],
                "ts": pd.Series([base + pd.Timedelta(seconds=300 * e + i)
                                 for i in range(K)])
                .astype("datetime64[us]"),
            })
            _write_chunk(pdf, dirs["in"] + f"/e{e}.parquet")
            q.processAllAvailable()
            prog = q.lastProgress
            totals.append(prog["stateOperators"][0]["numRowsTotal"])
    finally:
        q.stop()
    # all docs distinct → all emitted; state must NOT hold all of them
    assert len(spark.read.parquet(dirs["out"]).toPandas()) == K * EPOCHS
    assert max(totals) <= 2 * K, totals
    assert totals[-1] <= 2 * K < K * EPOCHS, totals
