"""spark-submit entry: EP3 evaluation — run the aggregation-config grid
over a transcript table and write the reference's two sinks (trial CSV,
``Duke/evaluate.py:107-108``; ranked JSON, the REST-reply analogue).

    python jobs/evaluate.py --convs 100 --out /tmp/eval --parallelism 8
    spark-submit --py-files dist/duke_spark.zip jobs/evaluate.py ...

Labels default to self-supervision: each conversation's positive class is
its production-config topic, so config ranking measures robustness of the
alternatives against the production aggregation (the label-free variant
of ``Duke/evaluate.py``'s labeled trials).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="transcripts parquet path")
    ap.add_argument("--convs", type=int, default=100)
    ap.add_argument("--out", required=True)
    ap.add_argument("--parallelism", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    ap.add_argument("--labels", help="positive-examples JSON (A5); "
                                     "default: self-supervised topics")
    ap.add_argument("--top-n", type=int, default=5)
    args = ap.parse_args()

    from duke_spark.config import get_spark
    from duke_spark.eval import (rank_configs, read_positive_examples,
                                 run_config_grid, write_ranked_json,
                                 write_trials_csv)
    from duke_spark.operators.canonical import describe_conversations
    from duke_spark.operators.mentions import linked_mentions
    from duke_spark.pipeline import make_context
    from duke_spark.sources.transcripts import read_transcripts

    spark = get_spark("evaluate", master=f"local[{args.parallelism}]",
                      shuffle_partitions=max(8, args.parallelism))
    if args.input:
        transcripts = read_transcripts(spark, args.input)
    else:
        from duke_spark.fixtures.transcripts import (generate_transcripts,
                                                     spark_transcripts)
        transcripts = spark_transcripts(
            spark, generate_transcripts(n_convs=args.convs, max_turns=16,
                                        seed=42))
    ctx_bc = make_context(spark)

    t0 = time.time()
    mentions = linked_mentions(transcripts, ctx_bc)
    if args.labels:
        labels = read_positive_examples(args.labels)
    else:
        # one link pass for both consumers: the topics and the grid
        mentions = mentions.persist()
        topics = describe_conversations(spark, mentions, ctx_bc).collect()
        labels = {r["conv_id"]: [r["topic"]] for r in topics}

    # two writes, a collect and a count read the grid result
    results = run_config_grid(mentions, ctx_bc, labels).persist()
    write_trials_csv(results, os.path.join(args.out, "trials_csv"))
    ranked = rank_configs(results, top_n=args.top_n)
    write_ranked_json(ranked, os.path.join(args.out, "ranked_json"))
    best = ranked.collect()
    print(json.dumps({
        "job": "evaluate", "n_labels": len(labels),
        "n_trial_rows": results.count(),
        "elapsed_sec": round(time.time() - t0, 3),
        "best_config": best[0]["config"] if best else None,
        "ranked": [{"config": r["config"],
                    "mean_gap": round(r["mean_gap"], 6)} for r in best],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
