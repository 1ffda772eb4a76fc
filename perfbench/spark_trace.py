"""Per-layer spans for the traced run, taken from outside the program.

Each span tags the Spark jobs it launches with ``sc.setJobGroup`` and,
once the call returns, reads that group's stages from the live status
store (``sc._jsc.sc().statusStore()``, present with the UI off). The
harvest itself must launch no Spark job: it compares the newest job id
before and after and raises if they differ. Harvest errors propagate to
the caller, which counts the run as failed.
"""

from __future__ import annotations

import statistics
from contextlib import contextmanager

from pyspark.sql import DataFrame

from perfbench.procfs import Span

# every per-call metric, in the order the README lists them
CALL_METRICS = (("wall_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
                ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
                ("task_skew", "ratio"), ("rows_out", "count"))


class HarvestError(RuntimeError):
    pass


class Rows:
    """Lets a span body state its output row count; when it does not,
    the harvest uses the records the group's stages wrote."""
    rows: int | None = None


class Tracer:
    """Records one dict of CALL_METRICS per span name. With
    ``enabled=False`` spans and wrappers are pass-throughs, so the
    untraced run executes exactly the program's own plan."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.records: dict[str, dict] = {}
        self._persisted: list[DataFrame] = []
        self._sc = spark.sparkContext
        if enabled:
            jsc = self._sc._jsc.sc()
            self._store = jsc.statusStore()
            self._bus = jsc.listenerBus()
            self._no_status = self._sc._jvm.java.util.ArrayList()
            gw = self._sc._gateway
            self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        rows = Rows()
        if not self.enabled:
            yield rows
            return
        first_job = self._newest_job() + 1
        self._sc.setJobGroup(name, name)
        try:
            with Span() as sp:
                yield rows
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        stats = self.harvest(name, first_job)
        self.records[name] = {
            "wall_s": sp.wall_s, "cpu_s": sp.cpu_s,
            "gc_s": stats["gc_ms"] / 1e3,
            "shuffle_write_mb": stats["shuffle_write_bytes"] / 1e6,
            "spill_mb": stats["spill_bytes"] / 1e6,
            "task_skew": stats["task_skew"],
            "rows_out": rows.rows if rows.rows is not None
            else stats["output_records"],
        }

    def wrap(self, name: str, fn):
        """``fn`` run inside ``span(name)``. A DataFrame result is
        persisted and counted inside the span, so its plan is charged to
        this layer and downstream layers read it from cache."""
        def traced(*args, **kwargs):
            with self.span(name) as rows:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = out.persist()
                    self._persisted.append(out)
                    rows.rows = out.count()
            return out
        return traced

    @contextmanager
    def patched(self, module, names: dict[str, str]):
        """Swap ``module.attr`` for ``wrap(layer, attr)`` for each
        attr → layer in ``names`` while the block runs."""
        if not self.enabled:
            yield
            return
        saved = {attr: getattr(module, attr) for attr in names}
        for attr, layer in names.items():
            setattr(module, attr, self.wrap(layer, saved[attr]))
        try:
            yield
        finally:
            for attr, fn in saved.items():
                setattr(module, attr, fn)

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # -- status store ------------------------------------------------------
    def _newest_job(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _group_stages(self, group: str, first_job: int) -> set[int]:
        jobs = self._store.jobsList(None)  # newest first
        stages, prev = set(), None
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if prev is not None and jid >= prev:
                raise HarvestError("status store job list is not ordered "
                                   "newest first")
            prev = jid
            if jid < first_job:
                break
            g = job.jobGroup()
            if g.isDefined() and g.get() == group:
                ids = job.stageIds()
                stages.update(ids.apply(k) for k in range(ids.size()))
        return stages

    def _task_skew(self, stage_id: int, attempt: int) -> float:
        tasks = self._store.taskList(stage_id, attempt, 1 << 20)
        durs = []
        for k in range(tasks.size()):
            d = tasks.apply(k).duration()
            if d.isDefined():
                durs.append(d.get())
        med = statistics.median(durs) if durs else 0
        return max(durs) / med if med > 0 else 1.0

    def harvest(self, group: str, first_job: int) -> dict:
        """Stage totals of every job in ``group`` with id >= first_job."""
        # let the status store catch up with the finished jobs; raises
        # (TimeoutException via py4j) if the listener bus does not drain
        self._bus.waitUntilEmpty(30_000)
        before = self._newest_job()
        out = {"gc_ms": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
               "output_records": 0, "task_skew": 1.0}
        dominant = (-1, None)  # (executor run ms, (stage, attempt))
        for sid in sorted(self._group_stages(group, first_job)):
            attempts = self._store.stageData(sid, False, self._no_status,
                                             False, self._no_quantiles)
            for k in range(attempts.size()):
                s = attempts.apply(k)
                out["gc_ms"] += s.jvmGcTime()
                out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                out["spill_bytes"] += s.diskBytesSpilled()
                out["output_records"] += s.outputRecords()
                if s.numCompleteTasks() >= 2 and \
                        s.executorRunTime() > dominant[0]:
                    dominant = (s.executorRunTime(), (sid, s.attemptId()))
        if dominant[1] is not None:
            out["task_skew"] = self._task_skew(*dominant[1])
        after = self._newest_job()
        if after != before:
            raise HarvestError(f"harvesting {group!r} launched Spark jobs "
                               f"{before + 1}..{after}")
        return out
