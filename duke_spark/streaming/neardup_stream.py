"""Streaming near-duplicate filtering: incremental MinHash-LSH.

``stream_exact_dedup`` (dedup_stream.py) handles byte-identical repeats;
this handles NEAR-duplicates of anything seen in any earlier micro-batch.
State-store keyed operators can't express it directly — a document's
admission depends on ALL of its band buckets (different state keys), so
the decision is cross-key. The standard shape is ``foreachBatch`` against
a persisted bucket table:

  per micro-batch (inside foreachBatch; the source offsets are
  checkpointed):
    1. batch docs → MinHash signatures → (band_idx, band_hash) rows
       (``dedup.signature_bands``, the batch path's band rule);
    2. candidates = batch bands ⋈ stored bucket table, read as every
       epoch except this one (the ``streaming.epochs`` protocol): a
       replayed epoch never collides with the bands it wrote before a
       crash, while a fresh-checkpoint run (new ``run_id``, epoch ids
       restarting at 0) still sees ALL prior runs' epochs as history;
    3. within-batch near-dups resolved by the batch-local
       ``near_dup_filter`` (greedy min-id), cross-batch survivors =
       anti-join against candidates (or, in ``verify=True`` mode, only
       against candidates whose signature-estimated jaccard clears the
       threshold — see below);
    4. commit: survivors, then their bands (partitioned by
       ``band_idx``), then signatures in verify mode, each into the
       epoch's own ``epoch=<run_id>-<epoch_id>`` directory with
       mode("overwrite"). A replay recomputes the same rows against the
       same history and rewrites all three, so each survivor lands in
       ``out_dir`` exactly once. Survivors go first so that a run
       abandoned mid-commit can leave a survivor without bands (a later
       near-dup slips in) but never bands without their survivor (a
       lost document).

``spark.read.parquet(out_dir)`` returns the survivors plus a string
``epoch`` column naming the epoch that admitted each row.

State growth is one row per (surviving doc × bands) — the same footprint
a batch LSH index carries; compaction/TTL is the operator's user policy
(``compact()`` re-writes the band table from the surviving corpus).

Cross-batch collision policy:
  * conservative (default, ``verify=False``): a band collision with
    history drops the doc. No historical text is retained; with
    64-hash/16-band signatures a band collision at jaccard < 0.5 is
    rare, and false drops cost little at TB scale while false keeps
    cost training-set duplication.
  * verified (``verify=True``): the state additionally retains each
    survivor's full MinHash signature (a sidecar, 64 × int64 per doc —
    NOT the text). A band collision is then confirmed by the standard
    MinHash estimator (fraction of agreeing signature slots ≈ jaccard);
    only collisions with estimated jaccard ≥ threshold drop the doc, so
    a single-band fluke collision between genuinely different documents
    no longer kills a survivor. A collision whose historical signature
    is missing drops the doc, as in conservative mode.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duke_spark.operators.dedup import (minhash_signatures, near_dup_filter,
                                       signature_bands)
from duke_spark.streaming.epochs import EpochDirs


def _sig_agreement(a, b):
    """MinHash jaccard estimator: fraction of equal signature slots."""
    eq = F.zip_with(a, b, lambda x, y: (x == y).cast("int"))
    return (F.aggregate(eq, F.lit(0), lambda acc, x: acc + x)
            / F.size(a)).cast("double")


class StreamingNearDupFilter:
    """foreachBatch processor: call ``process(batch_df, epoch_id)`` from
    ``writeStream.foreachBatch``; survivors land in ``out_dir``, band
    state in ``state_dir`` (+ ``state_dir``_sigs when verify=True), each
    as epoch directories. Pass a ``run_id`` STABLE across restarts of
    the same checkpoint (e.g. derived from checkpointLocation or the
    streaming query id) so crash-replays rewrite their own epoch; the
    default — a fresh UUID per writer — is safe for fresh-checkpoint
    runs and for same-process retries that reuse this instance."""

    def __init__(self, out_dir: str, state_dir: str,
                 text_col: str = "text", id_col: str = "doc_id",
                 num_hashes: int = 64, bands: int = 16,
                 jaccard_threshold: float = 0.8,
                 verify: bool = False,
                 run_id: str | None = None):
        self.run_id = run_id if run_id is not None else uuid.uuid4().hex
        self.survivors = EpochDirs(out_dir, self.run_id)
        self.band_state = EpochDirs(state_dir, self.run_id)
        self.sig_state = EpochDirs(state_dir.rstrip("/") + "_sigs",
                                   self.run_id)
        self.text_col, self.id_col = text_col, id_col
        self.num_hashes, self.bands = num_hashes, bands
        self.jaccard_threshold = jaccard_threshold
        self.verify = verify
        # DDL of the stored rows; minhash_signatures emits bigint ids
        self._band_ddl = f"{id_col} bigint, band_idx int, band_hash bigint"
        self._sig_ddl = f"{id_col} bigint, signature array<bigint>"

    def compact(self, spark: SparkSession) -> int:
        """Rebuild the band table from the surviving corpus (the TTL /
        compaction policy): recompute signatures over the CURRENT output
        (post any downstream pruning the user did) and swap them in as
        one base epoch. Returns the new band count. Run this offline,
        between streaming runs — not inside foreachBatch."""
        survivors = spark.read.parquet(self.survivors.path)
        sigs = minhash_signatures(survivors, self.text_col, self.id_col,
                                  self.num_hashes).persist()
        self.band_state.compact(
            signature_bands(sigs, self.bands, self.id_col),
            partition_by="band_idx")
        if self.verify:
            self.sig_state.compact(sigs)
        sigs.unpersist()
        return self.band_state.read(spark, self._band_ddl).count()

    def _history_hits(self, my_bands: DataFrame, my_sigs: DataFrame,
                      epoch_id: int) -> DataFrame:
        """ids (single column ``id_col``) of batch docs that near-match
        history: the stored rows of every epoch but ``epoch_id``."""
        spark = my_bands.sparkSession
        stored = self.band_state.read(spark, self._band_ddl,
                                      exclude=epoch_id)
        if not self.verify:
            # conservative: any band collision drops the doc
            return (my_bands
                    .join(stored.select("band_idx", "band_hash"),
                          ["band_idx", "band_hash"], "left_semi")
                    .select(self.id_col).distinct())
        # verified: resolve colliding (batch doc, historical doc) pairs,
        # estimate jaccard from stored signatures, keep fluke collisions.
        pairs = (my_bands
                 .join(stored.select(
                     "band_idx", "band_hash",
                     F.col(self.id_col).alias("_hist_id")),
                     ["band_idx", "band_hash"])
                 .select(self.id_col, "_hist_id").distinct())
        hist_sigs = (self.sig_state.read(spark, self._sig_ddl,
                                         exclude=epoch_id)
                     .select(F.col(self.id_col).alias("_hist_id"),
                             F.col("signature").alias("_hist_sig")))
        # LEFT join the signature sidecar: a collision whose historical
        # signature is missing (a run abandoned between the bands and
        # sigs writes) must resolve to the CONSERVATIVE drop, not a
        # silent false keep — null _hist_sig counts as a hit.
        return (pairs
                .join(hist_sigs, "_hist_id", "left")
                .join(my_sigs.select(self.id_col, "signature"), self.id_col)
                .where(F.col("_hist_sig").isNull()
                       | (_sig_agreement(F.col("signature"),
                                         F.col("_hist_sig"))
                          >= F.lit(self.jaccard_threshold)))
                .select(self.id_col).distinct())

    def process(self, batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        # 1. resolve near-dups WITHIN the batch first (full verify path)
        local = near_dup_filter(
            batch, self.text_col, self.id_col, self.num_hashes,
            self.bands, jaccard_threshold=self.jaccard_threshold).persist()
        sigs = minhash_signatures(local, self.text_col, self.id_col,
                                  self.num_hashes).persist()
        my_bands = signature_bands(sigs, self.bands, self.id_col).persist()
        # 2. drop anything colliding with history. localCheckpoint
        # BEFORE writing: writing to a path invalidates every cached plan
        # that scans it, so the three writes below would each re-run the
        # history join; checkpointing materializes the survivors once AND
        # truncates the lineage, so no write re-reads the state.
        hit = self._history_hits(my_bands, sigs, epoch_id)
        survivors = local.join(hit, self.id_col, "left_anti") \
            .localCheckpoint()
        ids = survivors.select(self.id_col)
        # 3. commit survivors, then bands, then signatures
        self.survivors.write(survivors, epoch_id)
        self.band_state.write(my_bands.join(ids, self.id_col, "left_semi"),
                              epoch_id, partition_by="band_idx")
        if self.verify:
            self.sig_state.write(sigs.join(ids, self.id_col, "left_semi"),
                                 epoch_id)
        for df in (local, sigs, my_bands):
            df.unpersist()
