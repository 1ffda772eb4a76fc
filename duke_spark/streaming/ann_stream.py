"""Incremental (streaming) ingest into the persisted ANN index —
completes the build-once / query-many lifecycle of
``operators.ann_index`` with append-as-vectors-arrive.

A ``foreachBatch`` processor against the bucket-partitioned parquet
index. Per micro-batch:

  1. assign each new vector its bucket through the build's own
     ``ann_index.assign_lsh_buckets`` and the ``_meta.json`` sidecar
     (plane family, seed, dim), so queries keep pruning correctly;
  2. append ``partitionBy(bucket)`` — the same row schema the batch
     build writes, so readers never face schema drift.

Replay safety: appends are idempotent-by-dedup — a replayed epoch
re-appends byte-identical (id, vector, bucket) rows, and the query path
drops duplicate ids before top-k (`ann_index.query_lsh_index`), so
at-least-once delivery can repeat rows but never distort results. This
writer deliberately stays off the ``streaming.epochs`` directory layout:
epoch directories would make ``operators.ann_index`` learn that layout,
and query-time dedup already makes replays harmless. ``compact()``
rewrites the index without duplicates through the package's one
crash-safe directory swap (``epochs.swap_in``).

At scale: each micro-batch writes only the partitions its vectors land
in; file counts grow with (batches × buckets-hit) until ``compact()``
folds them — the standard streaming-ingest + background-compaction
contract of every LSM-ish store.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from duke_spark.operators.ann_index import (DATA_DIR, _read_meta,
                                            assign_lsh_buckets)
from duke_spark.streaming.epochs import recover, swap_in


class StreamingAnnIndexWriter:
    """foreachBatch processor appending vectors to an existing LSH index
    (built by ``ann_index.build_lsh_index``)."""

    def __init__(self, path: str):
        self.data_dir = os.path.join(path, DATA_DIR)
        self.meta = _read_meta(path)
        if self.meta["kind"] != "lsh":
            raise ValueError("streaming append currently supports LSH "
                             f"indexes, not {self.meta['kind']!r}")

    def process(self, batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        recover(self.data_dir)
        (assign_lsh_buckets(batch, self.meta)
         .write.mode("append").partitionBy("bucket").parquet(self.data_dir))

    def compact(self, spark: SparkSession) -> int:
        """Rewrite the index deduped (replayed epochs fold away) and
        re-partitioned one-dir-per-bucket. Returns the row count."""
        recover(self.data_dir)
        cur = (spark.read.parquet(self.data_dir)
               .dropDuplicates([self.meta["id_col"]]))
        swap_in(cur.repartition("bucket"), self.data_dir,
                partition_by="bucket")
        return spark.read.parquet(self.data_dir).count()
