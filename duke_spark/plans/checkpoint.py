"""Checkpointed, resumable triple writes with per-partition lineage
(SURVEY B9 — the reference has no analogue; Duke recomputes everything per
request, ``Duke/DukeRestListener.py:43-52``).

Design:
  * deterministic partition ids: ``part_id = pmod(xxhash64(conv_id), P)``
    — stable across runs and cluster sizes (never derived from
    ``spark.default.parallelism``, SURVEY §4 item 4);
  * output parquet partitioned by ``part_id``, written with DYNAMIC
    partition overwrite so a rerun of a partition replaces it atomically
    per-partition (idempotent under mid-job kill);
  * a manifest JSON per completed partition under ``_manifest/`` carrying
    lineage (input path, row count, code version, wall time) — written
    only after the job commits, so a partition is "done" iff its manifest
    exists;
  * resume = filter input to partitions without a manifest (an anti-join
    against the manifest set, done as a pushable IN-filter because the set
    is driver-resident and small).
"""

from __future__ import annotations

import json
import os
import time
from typing import Optional, Set

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

import duke_spark

MANIFEST_DIR = "_manifest"


TURN_BUCKET = 64

# Identifies the partition function used to compute part_id. A checkpoint
# written under one scheme MUST NOT be resumed under another: completed_parts
# would then describe a different row→part mapping, silently duplicating and
# dropping triples. Bump this string whenever with_part_id changes shape.
PARTITION_SCHEME = f"pmod(xxhash64(conv_id, floor(turn_idx/{TURN_BUCKET})), P)"


def with_part_id(df: DataFrame, num_parts: int,
                 key: str = "conv_id") -> DataFrame:
    """Deterministic partition id: pmod(xxhash64(conv_id, turn_idx//B), P).

    The turn-bucket salt is the SURVEY B8 skew treatment: a hot
    conversation (30%+ of all turns) would otherwise hash to ONE part and
    straggle every stage keyed by part_id; salting by turn block spreads
    it over ~turns/B parts while staying a pure function of
    (conv_id, turn_idx) — stable across runs and cluster sizes, so
    lineage/resume semantics are unchanged (a triple always lands in the
    same part as the turn it came from)."""
    return df.withColumn(
        "part_id",
        F.pmod(F.xxhash64(F.col(key),
                          F.floor(F.col("turn_idx") / TURN_BUCKET)),
               F.lit(num_parts)).cast("int"))


class TripleCheckpoint:
    """NOTE: manifests AND the per-part row-count audit are driver-local
    filesystem operations (os.listdir + pyarrow footer reads), so
    ``out_dir`` must be a path on a filesystem the driver can see (local
    disk, NFS, or a mounted object store). The Spark data write itself
    accepts any Hadoop URI, so the constructor rejects scheme-prefixed
    paths up front rather than failing late in ``_count_written``."""

    def __init__(self, out_dir: str, num_parts: int = 64):
        if "://" in out_dir:
            raise ValueError(
                f"TripleCheckpoint requires a driver-local path, got "
                f"{out_dir!r} — manifest bookkeeping uses os/pyarrow, not "
                "the Hadoop FileSystem API (mount the store or use a local "
                "staging dir)")
        self.out_dir = out_dir
        self.num_parts = num_parts
        self.manifest_dir = os.path.join(out_dir, MANIFEST_DIR)
        self.data_dir = os.path.join(out_dir, "triples")

    def completed_parts(self) -> Set[int]:
        """Partition ids with a committed manifest, after validating that
        each manifest was written under the CURRENT partition scheme and
        part count. A scheme/num_parts mismatch (including legacy manifests
        that predate the ``partition_scheme`` key) raises instead of
        resuming wrong: the recorded parts map rows differently, so
        'completed' would silently mean duplicated + missing rows."""
        if not os.path.isdir(self.manifest_dir):
            return set()
        out = set()
        for name in os.listdir(self.manifest_dir):
            if name.startswith("part_") and name.endswith(".json"):
                with open(os.path.join(self.manifest_dir, name)) as f:
                    meta = json.load(f)
                scheme = meta.get("partition_scheme")
                if scheme != PARTITION_SCHEME or \
                        meta.get("num_parts") != self.num_parts:
                    raise ValueError(
                        f"checkpoint {self.out_dir} was written under "
                        f"partition scheme {scheme!r} with "
                        f"num_parts={meta.get('num_parts')} (engine "
                        f"{meta.get('engine_version')}); current scheme is "
                        f"{PARTITION_SCHEME!r} with num_parts="
                        f"{self.num_parts}. Resuming would duplicate/drop "
                        "rows — delete the checkpoint dir or rerun with the "
                        "recorded settings.")
                out.add(int(name[5:-5]))
        return out

    def _write_manifests(self, parts_rows: dict, input_path: str,
                         elapsed: float) -> None:
        os.makedirs(self.manifest_dir, exist_ok=True)
        now = time.time()
        for pid, nrows in parts_rows.items():
            payload = {
                "part_id": pid,
                "rows": nrows,
                "input": input_path,
                "engine_version": duke_spark.__version__,
                "partition_scheme": PARTITION_SCHEME,
                "num_parts": self.num_parts,
                "wall_seconds": elapsed,
                "completed_at": now,
            }
            tmp = os.path.join(self.manifest_dir, f".part_{pid}.json.tmp")
            final = os.path.join(self.manifest_dir, f"part_{pid}.json")
            with open(tmp, "w") as f:
                json.dump(payload, f)
            os.replace(tmp, final)  # atomic completion marker

    def _count_written(self, pending) -> dict:
        """Per-partition row counts from parquet footers (driver-side
        pyarrow metadata read — 1 footer per part, no Spark job)."""
        import pyarrow.parquet as pq

        out = {}
        pending_set = set(pending)
        for dirname in os.listdir(self.data_dir):
            if not dirname.startswith("part_id="):
                continue
            pid = int(dirname.split("=", 1)[1])
            if pid not in pending_set:
                continue
            n = 0
            d = os.path.join(self.data_dir, dirname)
            for fn in os.listdir(d):
                if fn.endswith(".parquet"):
                    n += pq.ParquetFile(os.path.join(d, fn)).metadata.num_rows
            out[pid] = n
        return out

    def run(self, spark: SparkSession, transcripts: DataFrame, ctx_bc,
            input_path: str = "", max_parts: Optional[int] = None) -> dict:
        """Extract + write triples for all pending partitions.

        ``max_parts`` processes only that many pending partitions (used by
        the kill/resume test to simulate a mid-job stop at a partition
        boundary). Returns {"written": [...], "skipped": n, "rows": n}.
        """
        from duke_spark.operators.triples import extract_triples

        done = self.completed_parts()
        pending = sorted(set(range(self.num_parts)) - done)
        if max_parts is not None:
            pending = pending[:max_parts]
        if not pending:
            return {"written": [], "skipped": len(done), "rows": 0}

        t0 = time.time()
        parted = with_part_id(transcripts, self.num_parts)
        if len(pending) < self.num_parts:
            parted = parted.filter(F.col("part_id").isin(pending))
        # Extraction runs on the input's own (round-robin/cache) layout —
        # feeding the pandas-UDF stage from a shuffle read measured ~50%
        # slower than from cache, and the narrow stage doesn't care about
        # row placement. The OUTPUT is then hash-clustered by (salted)
        # part_id, so each writer task holds whole parts: a hash exchange
        # never splits one part_id value across reducers, and AQE sizes
        # the writer tasks by coalescing whole reducers (the session's
        # spark.sql.shuffle.partitions bounds their number, not
        # num_parts). With up to maxConcurrentOutputFileWriters (config.py)
        # parts in one task the partitioned write needs no sort; past that
        # the writer falls back to sorting by part_id. Either way it emits
        # exactly one file per part. Un-clustered partitionBy writes
        # tasks × parts small files and the file commit dominates.
        # part_id is a pure function of (conv_id, turn_idx) → recomputed on
        # the output rather than threaded through the UDF (keeps the UDF
        # schema minimal; Catalyst prunes the input column).
        triples = extract_triples(parted, ctx_bc)
        triples = with_part_id(triples, self.num_parts)
        triples = triples.repartition("part_id")
        (triples.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("part_id")
         .parquet(self.data_dir))
        elapsed = time.time() - t0

        parts_rows = self._count_written(pending)
        # pending partitions that produced zero triples still complete
        for pid in pending:
            parts_rows.setdefault(pid, 0)
        self._write_manifests(parts_rows, input_path, elapsed)
        return {"written": sorted(parts_rows), "skipped": len(done),
                "rows": int(sum(parts_rows.values())),
                "wall_seconds": elapsed}

    def read_triples(self, spark: SparkSession) -> DataFrame:
        """The written triples, read with their explicit schema: a
        checkpoint whose every part is empty holds no parquet file to
        infer one from."""
        from duke_spark.operators.triples import TRIPLE_SCHEMA

        schema = T.StructType(TRIPLE_SCHEMA.fields
                              + [T.StructField("part_id", T.IntegerType())])
        return spark.read.schema(schema).parquet(self.data_dir) \
            .drop("part_id")
