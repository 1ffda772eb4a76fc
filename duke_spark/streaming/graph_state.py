"""Incremental KG maintenance: keep the materialized graph (edge
aggregates, degrees, connected components) current as triple batches
arrive, WITHOUT recomputing over the full corpus per batch.

The reference rebuilds its whole pipeline per request
(``Duke/DukeRestListener.py:30-66``); at 100 TB a "refresh the KG"
operation must instead be incremental: per micro-batch work proportional
to the BATCH, with read-side folding and periodic compaction. The edge
and fact stores keep per-epoch partial aggregates on the package's one
epoch-commit protocol (``streaming.epochs``); the component store keeps
one label table, replaced per epoch by the same crash-safe swap:

``IncrementalEdgeStore`` — the KG edge materialization (B7's
``build_edges`` output) as per-epoch deltas. ``build_edges`` is a pure
sum-aggregate, so per-batch partial aggregates fold associatively on
read: ``read_edges`` == batch ``build_edges(all_triples)`` exactly
(tested). Degrees and any other edge-side analytic derive from the
folded state — edge-cardinality, never triple-cardinality.

Exactly-once: a replayed epoch overwrites its own ``epoch=<run>-<id>``
delta instead of double-counting. These stores are additive, so
``run_id`` must be 1:1 with the stream's checkpoint location (a restart
FROM the checkpoint reuses both; a FRESH checkpoint reprocesses the
source from scratch and would count it twice) — the store persists the
run id in a ``_run_id`` marker and refuses a mismatched writer unless
``reset=True``.

``IncrementalFactStore`` — the fact-provenance rollup
(``operators.triples.fact_support``) maintained the same way, with the
associative grain widened to (fact, conv_id) so COUNT(DISTINCT conv_id)
survives folding; the read-side finalizer equals the batch rollup
(tested per epoch).

``IncrementalComponentStore`` — connected-component labels maintained
under edge INSERTIONS. Per batch: map the batch's endpoints to their
current labels (join keyed on node — the batch side is small and
broadcasts), close the label-level reduced graph (≤ 2·|batch| nodes,
independent of graph size) with ``graph.connected_components``, the
package's one closure kernel: one ``min_label_components`` call, so a
path of any length closes in one pass. Then apply the resulting merge
map to the label table with one broadcast join — a single narrow pass
over state, no state-sized shuffle. Label merging is idempotent
(re-adding the same edges merges nothing), so replay and even full
fresh-checkpoint reprocessing are safe without epoch bookkeeping. The
label invariant (comp = min node id of the component) is checked
against a union-find reference per epoch, not just at the end.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duke_spark.operators.graph import (build_edges,
                                       connected_components, degrees)
from duke_spark.streaming.epochs import EpochDirs, recover, swap_in

DELTA_DIR = "deltas"
ASSIGN_DIR = "assign"


class _EpochDeltaStore:
    """Additive epoch store: ``EpochDirs`` deltas under ``<path>/deltas``
    plus the run-id marker guard. Subclasses define ``_delta(batch)``
    (the per-batch partial, written per epoch), ``_fold(deltas)`` (the
    associative re-aggregate at the SAME grain as the deltas, so
    compaction never loses information) and ``_DELTA_SCHEMA`` (the DDL
    of the delta rows)."""

    _DELTA_SCHEMA: str = ""

    def __init__(self, path: str, run_id: str = "run0",
                 reset: bool = False):
        self.path = path
        self.deltas = EpochDirs(os.path.join(path, DELTA_DIR), run_id)
        run_id = self.deltas.run_id
        marker = os.path.join(path, "_run_id")
        if reset:
            self.deltas.clear()
            if os.path.exists(marker):
                os.remove(marker)
        os.makedirs(path, exist_ok=True)
        if os.path.exists(marker):
            with open(marker) as fh:
                prev = fh.read().strip()
            if prev != run_id:
                raise ValueError(
                    f"store at {path} was written by run_id={prev!r}; a "
                    f"new run_id ({run_id!r}) means a fresh stream "
                    "checkpoint that will re-ingest the source — pass "
                    "reset=True to clear the store, or reuse the "
                    "original run_id with the original checkpoint")
        else:
            with open(marker, "w") as fh:
                fh.write(run_id)

    def _delta(self, batch: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _fold(self, deltas: DataFrame) -> DataFrame:
        raise NotImplementedError

    def process(self, batch: DataFrame, epoch_id: int) -> None:
        """One micro-batch: batch-local partial aggregate → its own
        epoch dir. O(batch) shuffle; replay overwrites the same dir."""
        if batch.isEmpty():
            return
        self.deltas.write(self._delta(batch), epoch_id)

    def _read_folded(self, spark: SparkSession, exclude=None) -> DataFrame:
        """Fold every delta (but epoch ``exclude``) at the associative
        grain. Cost is O(sum of delta sizes) — ``compact()`` keeps that
        bounded. A store with no epoch yet folds to empty state."""
        return self._fold(self.deltas.read(spark, self._DELTA_SCHEMA,
                                           exclude))

    def compact(self, spark: SparkSession) -> int:
        """Fold all deltas into one base epoch; returns the folded row
        count. Quiesced stream only (see ``streaming.epochs``)."""
        folded = self._read_folded(spark)
        self.deltas.compact(folded.coalesce(
            max(1, spark.sparkContext.defaultParallelism // 4)))
        return self.deltas.read(spark, self._DELTA_SCHEMA).count()


class IncrementalEdgeStore(_EpochDeltaStore):
    """foreachBatch processor maintaining KG edge aggregates as
    per-epoch parquet deltas; see module docstring for the
    exactly-once contract around ``run_id``."""

    _DELTA_SCHEMA = ("src string, dst string, rel string, "
                     "weight double, n bigint")

    def _delta(self, triple_batch: DataFrame) -> DataFrame:
        return build_edges(triple_batch)

    def _fold(self, deltas: DataFrame) -> DataFrame:
        return (deltas.groupBy("src", "dst", "rel")
                .agg(F.sum("weight").alias("weight"),
                     F.sum("n").alias("n")))

    def read_edges(self, spark: SparkSession) -> DataFrame:
        """Fold every delta: sum-aggregates associate, so this equals
        ``build_edges`` over all triples ever processed."""
        return self._read_folded(spark)

    def read_degrees(self, spark: SparkSession) -> DataFrame:
        return degrees(self.read_edges(spark))


class IncrementalFactStore(_EpochDeltaStore):
    """foreachBatch processor maintaining the fact-provenance rollup
    (``operators.triples.fact_support``) incrementally.

    The associative grain is (subj, pred, obj, conv_id): per batch we
    write count / score-sum / score-max at that grain, which both
    re-folds losslessly (compaction) and finalizes exactly — n_convs is
    a COUNT(DISTINCT conv_id), which is only associative if the
    conversation stays in the key until the read-side finalizer. The
    finalizer (``read_facts``) then matches batch ``fact_support`` over
    all triples ever processed (mean = sum/count, not avg-of-avgs;
    parity on the 6dp-rounded scores is tested per epoch). Same
    exactly-once contract as the edge store."""

    def _delta(self, triple_batch: DataFrame) -> DataFrame:
        # n_score (non-NULL score count) is carried separately from n:
        # batch fact_support's avg() skips NULLs, so the incremental
        # mean must divide by the non-NULL count, not the row count
        return (triple_batch.groupBy("subj", "pred", "obj", "conv_id")
                .agg(F.count("*").alias("n"),
                     F.count("score").alias("n_score"),
                     F.sum("score").alias("sum_score"),
                     F.max("score").alias("max_score")))

    _DELTA_SCHEMA = ("subj string, pred string, obj string, "
                     "conv_id string, n bigint, n_score bigint, "
                     "sum_score double, max_score double")

    def _fold(self, deltas: DataFrame) -> DataFrame:
        return (deltas.groupBy("subj", "pred", "obj", "conv_id")
                .agg(F.sum("n").alias("n"),
                     F.sum("n_score").alias("n_score"),
                     F.sum("sum_score").alias("sum_score"),
                     F.max("max_score").alias("max_score")))

    def read_facts(self, spark: SparkSession) -> DataFrame:
        """== ``fact_support(all_triples_ever_processed)`` (tested,
        including NULL-score rows)."""
        folded = self._read_folded(spark)
        return (folded.groupBy("subj", "pred", "obj")
                .agg(F.sum("n").alias("n_support"),
                     F.count_distinct("conv_id").alias("n_convs"),
                     F.round(F.max("max_score"), 6).alias("max_score"),
                     F.round(F.sum("sum_score")
                             / F.nullif(F.sum("n_score"), F.lit(0)), 6)
                     .alias("mean_score")))


class IncrementalComponentStore:
    """foreachBatch processor maintaining (node, comp) labels under edge
    insertions; comp = min node id of the component, the invariant of
    batch ``connected_components``."""

    def __init__(self, path: str, node_type: str = "string"):
        """``node_type``: DDL type of node ids ("string", "bigint", …) —
        only used for the empty-state schema before the first epoch."""
        self.path = path
        self.node_type = node_type
        os.makedirs(path, exist_ok=True)

    def _assign_dir(self) -> str:
        return os.path.join(self.path, ASSIGN_DIR)

    def read(self, spark: SparkSession) -> DataFrame:
        d = self._assign_dir()
        recover(d)
        if not os.path.exists(d):
            return spark.createDataFrame(
                [], f"node {self.node_type}, comp {self.node_type}")
        return spark.read.parquet(d)

    def process(self, pair_batch: DataFrame, epoch_id: int = 0) -> None:
        """One micro-batch of undirected (a, b) edge insertions.

        Plan shape: the batch (small) joins the label table keyed on
        node — Catalyst broadcasts the batch side; the reduced
        label graph (≤ 2·|batch| nodes) closes in one pandas group;
        the merge map (≤ |batch| non-identity rows) broadcasts back
        over the label table in one narrow pass. Nothing in the update is
        graph-sized except the final state rewrite, which is a
        shuffle-free column map + write."""
        if pair_batch.isEmpty():
            return
        spark = pair_batch.sparkSession
        prev = self.read(spark)

        nodes = (pair_batch.select(F.col("a").alias("node"))
                 .union(pair_batch.select(F.col("b").alias("node")))
                 .distinct())
        # current label of every touched node (itself if unseen)
        cur = (nodes.join(prev, "node", "left")
               .select("node", F.coalesce("comp", F.col("node"))
                       .alias("comp")))
        la = cur.select(F.col("node").alias("a"),
                        F.col("comp").alias("ca"))
        lb = cur.select(F.col("node").alias("b"),
                        F.col("comp").alias("cb"))
        reduced = (pair_batch.join(F.broadcast(la), "a")
                   .join(F.broadcast(lb), "b")
                   .filter(F.col("ca") != F.col("cb"))
                   .select(F.col("ca").alias("a"), F.col("cb").alias("b")))
        if reduced.isEmpty():
            merge = None
        else:
            merge = (connected_components(reduced)
                     .filter(F.col("node") != F.col("comp"))
                     .select(F.col("node").alias("comp"),
                             F.col("comp").alias("new_comp")))

        new_nodes = cur.join(prev.select("node"), "node", "left_anti")
        state = prev.unionByName(new_nodes)
        if merge is not None:
            state = (state.join(F.broadcast(merge), "comp", "left")
                     .select("node", F.coalesce("new_comp", F.col("comp"))
                             .alias("comp")))

        swap_in(state, self._assign_dir())
