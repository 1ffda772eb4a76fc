"""One benchmark run: set up, run the workload's job in a closed loop
(one job in flight) for the requested seconds, check every output, and
reduce the samples to the metrics named in BENCHMARK.json."""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass

from perfbench.kernels import KERNEL_METRICS, gemm_gflops, replay, \
    replay_batches
from perfbench.procfs import PeakRss, Span
from perfbench.spark_trace import CALL_METRICS, Tracer
from perfbench.workloads import WORKLOADS

SETUPS = 3         # set-ups per run; setup_s is their median
MIN_JOBS = 1       # timed jobs per run, even past --seconds
MAX_LOOP_S = 100   # stop starting jobs after this long in the loop
ARROW_BATCH = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch
REPLAY_ROWS = 2_000   # input rows the kernel replay samples
FOLD_CONVS = 20       # conversations whose tree fold is timed

END_TO_END = (("setup_s", "s"), ("wall_s", "s"), ("triples_per_s", "1/s"),
              ("cpu_s", "s"), ("peak_rss_mb", "MB"))
SPARK_CALLS = ("checkpoint.run", "mentions.linked_mentions",
               "triples.triples_from_mentions", "canonical.canonical_types_df",
               "canonical.describe_conversations", "graph.build_vertices",
               "graph.build_edges", "entity_resolution.resolve_kg_entities",
               "validation.validate_graph", "triples.fact_support")
PER_LAYER = tuple(
    [(f"{call}.{m}", unit) for call in SPARK_CALLS for m, unit in CALL_METRICS]
    + [("sources.read_s", "s")] + list(KERNEL_METRICS)
    + [("setup.session_s", "s"), ("setup.context_s", "s"),
       ("setup.warmup_s", "s"), ("host.gemm_gflops", "GFLOP/s"),
       ("trace.wall_s", "s"), ("checkpoint.run.kernel_frac", "ratio")])


@dataclass
class Bench:
    """What a workload's job and checks need from the run."""
    spark: object
    ctx_bc: object
    oracle: object
    parallelism: int


def source_hash(root: str) -> str:
    """Hash of the program's sources: caches and stored digests are kept
    per program version."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(os.path.join(
            root, "duke_spark"))):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith((".py", ".json")):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return h.hexdigest()[:12]


def start_spark(parallelism: int, state_dir: str):
    from duke_spark.config import get_spark
    tmp = os.path.join(state_dir, "tmp")
    spark = get_spark(
        "perfbench", master=f"local[{parallelism}]",
        shuffle_partitions=max(8, parallelism),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(state_dir, "spark-local"),
            # heap committed and touched up front: the JVM's resident
            # size is then constant, and peak_rss_mb moves with the
            # program's own allocations rather than with heap growth
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{os.environ['DUKE_SPARK_DRIVER_MEM']} "
                "-XX:+AlwaysPreTouch",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def reference_context():
    from duke_spark.fixtures.scale import scale_arrays
    return scale_arrays()


def oracle_context(arrays):
    from duke_spark.kernel.oracle import OracleContext
    from duke_spark.kernel.vectors import VocabEmbedding
    vocab, matrix, tree = arrays
    return OracleContext(VocabEmbedding(vocab, matrix), tree)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def measure(workload: str, seed: int, seconds: float, trace: bool,
            root: str, parallelism: int, size: float = 1.0,
            corrupt: bool = False) -> tuple[dict, dict]:
    """Run one workload; returns (result, info). ``result`` has the
    contract's keys; ``info`` the per-job samples and any problems."""
    from duke_spark.pipeline import make_context

    src = source_hash(root)
    state = os.path.join(root, ".perfbench")
    wl = WORKLOADS[workload](seed, size, os.path.join(state, "inputs"), src)

    @contextmanager
    def prep_session():
        spark = start_spark(parallelism, state)
        try:
            yield spark, make_context(spark, *reference_context())
        finally:
            spark.stop()

    t_prep = time.perf_counter()
    wl.prepare(prep_session)
    prep_s = time.perf_counter() - t_prep
    work = os.path.join(state, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)

    setups, spark = [], None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        with Span() as s_session:
            spark = start_spark(parallelism, state)
        with Span() as s_ctx:
            arrays = reference_context()
            ctx_bc = make_context(spark, *arrays)
        with Span() as s_warm:
            wl.warmup(spark, ctx_bc, parallelism)
        setups.append((s_session.wall_s, s_ctx.wall_s, s_warm.wall_s))
    b = Bench(spark, ctx_bc, oracle_context(arrays), parallelism)

    tracer = Tracer(spark, enabled=trace)
    digest_path = os.path.join(state, "digests", wl.key)
    stored = open(digest_path).read() if os.path.exists(digest_path) else None
    jobs, problems, n_triples, verified = [], [], None, False
    loop_t0 = time.perf_counter()
    timed = 0.0
    while (timed < seconds or len(jobs) < MIN_JOBS) and \
            time.perf_counter() - loop_t0 < MAX_LOOP_S:
        out = os.path.join(work, f"job{len(jobs)}")
        job = {"ok": False}
        jobs.append(job)
        t0 = time.perf_counter()
        try:
            with PeakRss() as rss, Span() as span:
                result = wl.job(b, tracer, out)
            job.update(wall_s=span.wall_s, cpu_s=span.cpu_s,
                       peak_rss_mb=rss.peak_mb, layers=tracer.records)
            t_check = time.perf_counter()
            if corrupt:
                wl.corrupt(out)
            # the full oracle check runs until one job passes it; after
            # that, an output with the verified digest is the same output
            found = [] if verified else wl.check(b, out, result)
            digest = wl.digest(b, out)
            if stored is not None and digest != stored:
                found.append(f"output digest {digest} differs from {stored}"
                             f" of an earlier job or run of this seed")
            if not found:
                stored, verified = digest, True
                if n_triples is None:
                    n_triples = wl.triples(b, out, result)
            job["check_s"] = time.perf_counter() - t_check
            job["problems"] = found
            job["ok"] = not found
        except Exception:  # a failed job is counted, and the loop goes on
            job["problems"] = [traceback.format_exc()]
        finally:
            tracer.release()
            tracer.records = {}
            shutil.rmtree(out, ignore_errors=True)
        timed += job.get("wall_s", time.perf_counter() - t0)
        problems += job["problems"]
    if stored is not None and not problems and not os.path.exists(
            digest_path):
        os.makedirs(os.path.dirname(digest_path), exist_ok=True)
        with open(digest_path, "w") as f:
            f.write(stored)

    ok = [j for j in jobs if j["ok"]] or [j for j in jobs if "wall_s" in j]
    failed = sum(not j["ok"] for j in jobs)
    wall = _median([j["wall_s"] for j in ok])
    gflops = gemm_gflops()
    if trace:
        metrics = _layer_metrics(wl, b, ok, setups, parallelism, seed)
        metrics["host.gemm_gflops"] = gflops
        units = dict(PER_LAYER)
    else:
        metrics = {
            "setup_s": _median([sum(s) for s in setups]),
            "wall_s": wall,
            "triples_per_s": (n_triples or 0) / wall if wall else 0.0,
            "cpu_s": _median([j["cpu_s"] for j in ok]),
            "peak_rss_mb": _median([j["peak_rss_mb"] for j in ok]),
        }
        units = dict(END_TO_END)
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    result = {"correct": failed == 0, "attempted": len(jobs),
              "failed": failed,
              "metrics": {k: {"value": float(v), "unit": units[k]}
                          for k, v in metrics.items()}}
    info = {"workload": workload, "seed": seed, "trace": int(trace),
            "input_convs": wl.n_convs, "input_turns": len(wl.pdf),
            "triples": n_triples, "host.gemm_gflops": gflops,
            "prep_s": prep_s, "loop_s": time.perf_counter() - loop_t0,
            "setups_s": setups,
            "jobs": [{k: v for k, v in j.items() if k != "layers"}
                     for j in jobs],
            "problems": problems}
    return result, info


def _layer_metrics(wl, b, ok, setups, parallelism, seed) -> dict:
    """Medians over the traced jobs, plus the kernel replay. A layer the
    workload never calls reads 0."""
    m = dict.fromkeys((name for name, _ in PER_LAYER), 0.0)
    for call in SPARK_CALLS:
        done = [j["layers"][call] for j in ok if call in j["layers"]]
        for metric, _ in CALL_METRICS:
            if done:
                m[f"{call}.{metric}"] = _median([d[metric] for d in done])
    m["sources.read_s"] = _median([j["layers"]["sources.read"]["wall_s"]
                                   for j in ok if "sources.read" in
                                   j["layers"]])
    m["setup.session_s"] = _median([s[0] for s in setups])
    m["setup.context_s"] = _median([s[1] for s in setups])
    m["setup.warmup_s"] = _median([s[2] for s in setups])
    m["trace.wall_s"] = _median([j["wall_s"] for j in ok])
    if wl.name == "post_stages":  # the linking kernel is not on its path
        return m
    batch = min(ARROW_BATCH, -(-len(wl.pdf) // (2 * parallelism)))
    batches = replay_batches(wl.pdf, seed, batch, REPLAY_ROWS)
    folds = FOLD_CONVS if wl.name == "graph_topics" else 0
    m.update(replay(batches, b.ctx_bc.value, fold_convs=folds))
    if folds:
        m["tree.folds"] = (m["canonical.describe_conversations.rows_out"]
                           + m["canonical.canonical_types_df.rows_out"])
    if m["checkpoint.run.wall_s"]:
        rows = sum(len(x) for x in batches)
        kernel_s = m["linking.link_batch_s"] + m["triples.assemble_s"]
        m["checkpoint.run.kernel_frac"] = (
            kernel_s * len(wl.pdf) / rows / parallelism
            / m["checkpoint.run.wall_s"])
    return m
