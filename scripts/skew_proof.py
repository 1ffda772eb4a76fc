"""Hot-conversation skew proof (SURVEY B8, VERDICT r3 #6).

The scaling runs use row-uniform synthetic data, so the turn-bucket salt
in ``plans.checkpoint.with_part_id`` had plan-level evidence only. This
script measures it under an ADVERSARIAL key distribution: one
conversation holding ``--hot-frac`` of all turns (default 0.3 — the 30%
case the docstring claims). It runs the fused triple-extraction stage
twice over the same input:

  * ``unsalted`` — part_id = pmod(xxhash64(conv_id), P): the hot conv
    lands in ONE part, so one task carries hot_frac of all rows;
  * ``salted``   — the production ``with_part_id`` scheme,
    pmod(xxhash64(conv_id, turn_idx // 64), P): the hot conv spreads
    over ~hot_turns/64 parts.

Per-task durations come from Spark's status REST API (the UI is enabled
just for this script), so the straggler ratio is REAL task wall time,
not a row-count proxy. Writes the JSON next to stdout to
``BENCH/skew_proof.json`` unless ``--no-save``.

Usage:
    python scripts/skew_proof.py [--convs 4000] [--hot-frac 0.3]
                                 [--parts 64] [--parallelism 16]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

UI_PORT = 4049


def _api(path: str):
    with urllib.request.urlopen(
            f"http://localhost:{UI_PORT}/api/v1/{path}", timeout=10) as r:
        return json.load(r)


def _dominant_stage_tasks(app_id: str, since_ms: float) -> dict:
    """Task-duration stats for the heaviest stage submitted after
    ``since_ms`` (the mapInPandas extraction stage dominates executor
    time by orders of magnitude, so 'heaviest' is unambiguous)."""
    stages = _api(f"applications/{app_id}/stages?status=complete")
    recent = [s for s in stages
              if s.get("firstTaskLaunchedTime") and
              time.mktime(time.strptime(
                  s["firstTaskLaunchedTime"][:19],
                  "%Y-%m-%dT%H:%M:%S")) * 1000 >= since_ms - 2000]
    if not recent:
        recent = stages
    heavy = max(recent, key=lambda s: s.get("executorRunTime", 0))
    tasks = _api(f"applications/{app_id}/stages/{heavy['stageId']}/"
                 f"{heavy['attemptId']}/taskList?length=5000")
    durs = sorted(t["duration"] / 1000.0 for t in tasks
                  if t.get("duration") is not None)
    n = len(durs)
    med = durs[n // 2] if n else 0.0
    return {
        "stage_id": heavy["stageId"],
        "n_tasks": n,
        "task_sec_min": round(durs[0], 3) if n else None,
        "task_sec_median": round(med, 3),
        "task_sec_p95": round(durs[int(0.95 * (n - 1))], 3) if n else None,
        "task_sec_max": round(durs[-1], 3) if n else None,
        "straggler_ratio": round(durs[-1] / med, 2) if med else None,
        "stage_wall_proxy_sec": round(
            heavy.get("executorRunTime", 0) / 1000.0, 3),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--convs", type=int, default=4000)
    ap.add_argument("--max-turns", type=int, default=24)
    ap.add_argument("--hot-frac", type=float, default=0.3)
    ap.add_argument("--parts", type=int, default=64)
    ap.add_argument("--parallelism", type=int, default=16)
    ap.add_argument("--no-save", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from duke_spark.config import get_spark
    from duke_spark.fixtures.transcripts import generate_transcripts
    from duke_spark.operators.triples import extract_triples
    from duke_spark.pipeline import make_context
    from duke_spark.plans.checkpoint import with_part_id
    from duke_spark.sources.transcripts import read_transcripts

    spark = get_spark("skew_proof", master=f"local[{args.parallelism}]",
                      shuffle_partitions=args.parts,
                      extra_conf={"spark.ui.enabled": "true",
                                  "spark.ui.port": str(UI_PORT),
                                  # one part per task — no AQE coalescing,
                                  # so task skew maps 1:1 to part skew
                                  "spark.sql.adaptive.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId

    pdf = generate_transcripts(n_convs=args.convs, max_turns=args.max_turns,
                               seed=42, hot_frac=args.hot_frac)
    src = "/tmp/skew_proof_transcripts.parquet"
    pdf.to_parquet(src, index=False)
    hot_conv = pdf.groupby("conv_id").size().idxmax()
    hot_rows = int((pdf["conv_id"] == hot_conv).sum())
    base = read_transcripts(spark, src)
    ctx_bc = make_context(spark)

    def run(mode: str) -> dict:
        df = base
        if mode == "salted":
            df = with_part_id(df, args.parts)
        else:
            df = df.withColumn(
                "part_id",
                F.pmod(F.xxhash64(F.col("conv_id")),
                       F.lit(args.parts)).cast("int"))
        part = df.repartition(args.parts, "part_id")
        t0 = time.time()
        n = extract_triples(part, ctx_bc).count()
        wall = time.time() - t0
        stats = _dominant_stage_tasks(app_id, t0 * 1000)
        return {"mode": mode, "triples": n, "wall_sec": round(wall, 3),
                **stats}

    # warmup: executor/codegen startup out of both measured runs
    extract_triples(base.repartition(args.parts), ctx_bc).count()

    results = [run("unsalted"), run("salted")]
    out = {
        "job": "skew_proof",
        "turns": len(pdf),
        "hot_conv_rows": hot_rows,
        "hot_frac_actual": round(hot_rows / len(pdf), 3),
        "parts": args.parts,
        "parallelism": args.parallelism,
        "turn_bucket": 64,
        "runs": results,
    }
    print(json.dumps(out))
    if not args.no_save:
        dst = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCH", "skew_proof.json")
        with open(dst, "w") as f:
            json.dump(out, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
