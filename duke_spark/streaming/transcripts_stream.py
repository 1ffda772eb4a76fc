"""Structured Streaming ingestion: transcript files → incremental triples.

The reference is strictly batch request/response (the Flask path reruns
the whole pipeline per upload, ``Duke/DukeRestListener.py:30-66``); there
are no streaming semantics to match (SURVEY §2 note). This module is the
engine's forward path for continuously-arriving transcript partitions:

  * ``stream_transcripts`` — file-source ``readStream`` over the same
    parquet/Iceberg layout the batch source reads (schema is the
    input_hint schema, supplied explicitly — streaming sources cannot
    infer);
  * triples come from the batch kernel itself,
    ``duke_spark.operators.triples.extract_triples``: the fused stage is
    stateless and narrow, so it runs unchanged on a stream, and
    batch/stream parity is exact (tested);
  * ``write_triples_stream`` — parquet sink + Spark's own checkpoint dir;
    with ``Trigger.AvailableNow`` this is an incremental batch job that
    resumes from the source offset log, complementing the manifest-based
    ``plans.checkpoint`` (which owns *partition*-level lineage);
  * ``turn_rate_windows`` — watermarked tumbling-window aggregation over
    event time ``ts`` (late turns beyond the watermark are dropped), the
    standard streaming-agg shape for per-window KG freshness metrics.

At scale the file source lists new files per micro-batch — on object
stores pair it with Iceberg's incremental read or maxFilesPerTrigger to
bound batch size.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duke_spark.operators.triples import extract_triples

TRANSCRIPT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])


def stream_transcripts(spark: SparkSession, input_dir: str,
                       max_files_per_trigger: Optional[int] = None
                       ) -> DataFrame:
    reader = (spark.readStream.schema(TRANSCRIPT_SCHEMA)
              .format("parquet"))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(input_dir)


def write_triples_stream(triples: DataFrame, out_dir: str,
                         checkpoint_dir: str, available_now: bool = True):
    """Start the sink; returns the StreamingQuery. ``available_now=True``
    processes everything currently in the source then stops — the
    incremental-batch pattern (resume = just run again; the offset log in
    ``checkpoint_dir`` skips already-ingested files)."""
    writer = (triples.writeStream.format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_stream_to_triples(spark: SparkSession, input_dir: str, out_dir: str,
                          checkpoint_dir: str, ctx_bc,
                          timeout_sec: int = 300) -> None:
    """One availableNow cycle: ingest all new files → append triples."""
    q = write_triples_stream(
        extract_triples(stream_transcripts(spark, input_dir), ctx_bc),
        out_dir, checkpoint_dir)
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()


def turn_rate_windows(transcripts: DataFrame,
                      window: str = "5 minutes",
                      watermark: str = "10 minutes") -> DataFrame:
    """Per-role turn counts in event-time tumbling windows with a
    watermark bounding state (late data beyond it is dropped). Works on
    both a stream (incremental state store) and a batch DF (plain agg) —
    parity between the two is the streaming correctness test."""
    return (transcripts
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("win"), "role")
            .agg(F.count(F.lit(1)).alias("n_turns"),
                 F.approx_count_distinct("conv_id").alias("approx_convs"))
            .select(F.col("win.start").alias("win_start"),
                    F.col("win.end").alias("win_end"),
                    "role", "n_turns", "approx_convs"))
