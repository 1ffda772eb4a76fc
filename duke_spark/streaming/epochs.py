"""One epoch-commit protocol for streaming state.

Every ``foreachBatch`` store in this package keeps its rows as a directory
of ``epoch=<run_id>-<epoch_id>`` subdirectories (``EpochDirs``):

* an epoch writes its rows with mode("overwrite") into its own
  deterministic directory, so an at-least-once replay of the epoch
  rewrites those rows instead of adding them a second time;
* history read inside ``process`` is every epoch directory except the
  writer's own, so a replay never collides with what it wrote before a
  crash, while the epochs of any other run are history;
* ``compact`` folds every epoch into one ``epoch=<run_id>-base``
  directory. Run it only at a quiesced stream (stopped, or availableNow
  drained): a replay after compaction would re-create a folded epoch.

``spark.read.parquet(<dir>)`` sees the directory names as a string
``epoch`` column (Hive-style partition discovery). ``run_id`` becomes
part of a directory name, so it may contain neither ``-`` nor ``/``.

``swap_in`` is the one crash-safe directory replace: write
``<dest>.compact_tmp``, rename ``dest`` to ``<dest>.old``, rename the tmp
into place, drop ``.old``. A crash between the two renames leaves
``dest`` missing and the only good copy at ``<dest>.old``; ``recover``
moves it back, and every read, write or swap of a swapped directory
calls it first.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def recover(dest: str) -> None:
    """Undo a ``swap_in`` cut between its two renames: move a leftover
    ``<dest>.old`` back whenever ``dest`` is missing."""
    old = dest.rstrip("/") + ".old"
    if not os.path.exists(dest) and os.path.exists(old):
        os.replace(old, dest)


def _overwrite(df: DataFrame, path: str, partition_by: str | None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path)


def swap_in(df: DataFrame, dest: str, partition_by: str | None = None,
            leaf: str = "") -> None:
    """Replace directory ``dest`` with ``df`` (written under ``leaf``)."""
    recover(dest)
    dest = dest.rstrip("/")
    tmp, old = dest + ".compact_tmp", dest + ".old"
    shutil.rmtree(tmp, ignore_errors=True)
    _overwrite(df, os.path.join(tmp, leaf), partition_by)
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(dest):
        os.replace(dest, old)
    os.replace(tmp, dest)
    shutil.rmtree(old, ignore_errors=True)


class EpochDirs:
    """A directory of ``epoch=<run_id>-<epoch_id>`` parquet subdirectories."""

    def __init__(self, path: str, run_id: str):
        self.run_id = str(run_id)
        if "-" in self.run_id or "/" in self.run_id:
            raise ValueError("run_id must not contain '-' or '/'")
        self.path = path.rstrip("/")

    def write(self, df: DataFrame, epoch_id,
              partition_by: str | None = None) -> None:
        recover(self.path)
        _overwrite(df, os.path.join(self.path,
                                    f"epoch={self.run_id}-{epoch_id}"),
                   partition_by)

    def read(self, spark: SparkSession, schema: str,
             exclude=None) -> DataFrame:
        """Every epoch's rows (``schema`` DDL plus ``epoch``), minus epoch
        ``exclude`` of this run; empty when nothing was written yet. The
        explicit schema keeps an epoch that wrote no rows readable."""
        recover(self.path)
        schema = f"{schema}, epoch string"
        if not os.path.isdir(self.path):
            return spark.createDataFrame([], schema)
        df = spark.read.schema(schema).parquet(self.path)
        if exclude is not None:
            df = df.where(F.col("epoch") != f"{self.run_id}-{exclude}")
        return df

    def compact(self, df: DataFrame, partition_by: str | None = None) -> None:
        """Replace every epoch with ``df`` as one base epoch."""
        swap_in(df, self.path, partition_by,
                leaf=f"epoch={self.run_id}-base")

    def clear(self) -> None:
        for d in ("", ".old", ".compact_tmp"):
            shutil.rmtree(self.path + d, ignore_errors=True)
