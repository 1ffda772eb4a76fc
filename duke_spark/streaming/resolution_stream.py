"""Incremental entity resolution: keep the embedding-based merge map
(``operators.entity_resolution.resolve_entities``) current as new
entity vectors arrive, with per-epoch work proportional to
new × history candidates — never a full re-resolution.

Composition of two audited parts (VERDICT-r4 #8, C48 × C41):

1. **Pair delta** — ``similarity.cosine_near_dup_pairs(new_col=...)``
   over (history ∪ batch): only pairs touching a NEW row are emitted,
   and block pairs with no new row on either side are pruned before
   the shuffle, so history×history work is never redone. Every pair
   (x, y) of the full batch-mode pair set appears in exactly the epoch
   where its LATER member arrived, so the union of epoch deltas over
   time IS the batch pair set.
2. **Label state** — ``graph_state.IncrementalComponentStore`` absorbs
   each epoch's pair delta as edge insertions and closes it with
   ``graph.connected_components``, the closure kernel batch resolution
   runs per bucket, so no component diameter makes it fail where batch
   resolution succeeds; its invariant
   (comp = min node id of the component) is exactly
   ``resolve_entities``'s canonical rule, so the read-side map equals
   batch resolution over all vectors ever processed (tested per epoch,
   not just at the end).

Vector history is an additive epoch store (``graph_state``'s
``_EpochDeltaStore`` on the ``streaming.epochs`` protocol: run-id guard,
quiesced compaction) with identity delta/fold — the history is the rows
themselves. Replay safety: the pair delta is computed against every
epoch but the replayed one, a replayed epoch overwrites its own vector
delta, and re-inserting the same pairs into the component store merges
nothing (label merging is idempotent).

``vec_id``s must be unique across the stream's lifetime (append-only
entity arrivals); re-sending an id in a LATER epoch double-counts it
in the history.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duke_spark.operators.similarity import cosine_near_dup_pairs
from duke_spark.streaming.graph_state import (IncrementalComponentStore,
                                              _EpochDeltaStore)


class _VectorDeltaStore(_EpochDeltaStore):
    """Raw vector history: identity delta/fold (the grain is the row)."""

    _DELTA_SCHEMA = "vec_id bigint, embedding array<double>"

    def _delta(self, batch: DataFrame) -> DataFrame:
        return batch.select("vec_id", "embedding")

    def _fold(self, deltas: DataFrame) -> DataFrame:
        # drop the Hive epoch partition column the delta-dir read adds
        return deltas.select("vec_id", "embedding")

    def read_vectors(self, spark: SparkSession, exclude=None) -> DataFrame:
        return self._read_folded(spark, exclude)


class IncrementalResolutionStore:
    """foreachBatch processor maintaining the (entity, canonical)
    merge map under new-entity arrivals; read_map(spark) equals batch
    ``resolve_entities`` over every vector ever processed."""

    def __init__(self, path: str, threshold: float = 0.95,
                 num_planes: int = 4, max_bucket: int = 4096,
                 run_id: str = "run0", reset: bool = False):
        self.threshold = threshold
        self.num_planes = num_planes
        self.max_bucket = max_bucket
        self.vectors = _VectorDeltaStore(os.path.join(path, "vectors"),
                                         run_id=run_id, reset=reset)
        self.comp = IncrementalComponentStore(
            os.path.join(path, "components"), node_type="bigint")

    def process(self, vec_batch: DataFrame, epoch_id: int = 0) -> None:
        """One micro-batch of (vec_id, embedding) arrivals: emit the
        new-touching pair delta against the stored history, merge it
        into the label state, then add the batch to the history.
        Candidate work is O(new × history) within LSH buckets — the
        has-new block pruning inside ``cosine_near_dup_pairs`` drops
        every history×history block pair before the shuffle."""
        if vec_batch.isEmpty():
            return
        spark = vec_batch.sparkSession
        batch = vec_batch.select("vec_id", "embedding").persist()
        prev = self.vectors.read_vectors(spark, exclude=epoch_id)
        union = (prev.withColumn("_new", F.lit(False))
                 .unionByName(batch.withColumn("_new", F.lit(True))))
        # persist the delta: comp.process walks it several times
        # (isEmpty, endpoint labeling x2, reduced-graph closure) and each
        # walk would otherwise re-run the O(new x history) pair kernel
        pairs = (cosine_near_dup_pairs(union, threshold=self.threshold,
                                       num_planes=self.num_planes,
                                       max_bucket=self.max_bucket,
                                       new_col="_new")
                 .select("a", "b").persist())
        self.comp.process(pairs, epoch_id)
        self.vectors.process(batch, epoch_id)
        pairs.unpersist()
        batch.unpersist()

    def read_map(self, spark: SparkSession) -> DataFrame:
        """Total (entity, canonical) map over all vectors processed —
        the same tail as ``resolve_entities`` (identity for
        isolates)."""
        ids = self.vectors.read_vectors(spark) \
            .select(F.col("vec_id").alias("entity"))
        comp = self.comp.read(spark).withColumnRenamed("node", "entity")
        return (ids.join(comp, "entity", "left")
                .select("entity",
                        F.coalesce("comp", F.col("entity"))
                        .alias("canonical")))

    def compact(self, spark: SparkSession) -> int:
        """Quiesced-stream maintenance: fold the vector history into
        one base epoch (see ``_EpochDeltaStore.compact``)."""
        return self.vectors.compact(spark)
