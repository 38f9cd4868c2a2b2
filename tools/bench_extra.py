"""Extra benchmarks for the optimization rounds (bench.py is FROZEN for
the driver's measurement; this file holds everything else).

- noop-sink isolation per query (guide §1.4): every column of every row
  is computed and discarded, so numbers time the computation, not the
  driver-side count fast path.
- min-of-N on a shared, bursty host; per-query hypervisor steal recorded
  the same way bench.py does.
- `--explain DIR` additionally writes each query's explain("formatted")
  to DIR/<name>.txt (the plans/r06 evidence files).

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python tools/bench_extra.py \
        [--reps 3] [--explain plans/r06] [--suffix _after] [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from measure import HEADLINE, min_of


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("queries", nargs="*", default=None)
    parser.add_argument("--reps", type=int, default=3)
    parser.add_argument("--explain", default=None)
    parser.add_argument(
        "--suffix", default="", help="filename suffix for --explain files"
    )
    parser.add_argument(
        "--no-stage-cache",
        action="store_true",
        help="disable the cross-process stage cache (cold per process)",
    )
    args = parser.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if not args.no_stage_cache:
        os.environ.setdefault("SHERLOCK_STAGE_DIR", "/tmp/sherlock_stage_cache")

    from sherlock_spark.session import get_spark
    from sherlock_spark.queries import QUERIES

    spark = get_spark("bench_extra", cores=cores)
    spark.range(1000).count()

    names = args.queries or HEADLINE
    out: dict[str, dict] = {}
    for name in names:
        df_builder = QUERIES[name]
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")

        def run():
            df_builder(spark, sf_dir).write.format("noop").mode("overwrite").save()

        cold, _ = min_of(run, 1)  # the cold/warmup rep
        best, reps = min_of(run, args.reps)
        out[name] = {
            "noop_min": round(best.seconds, 3),
            "noop_cold": round(cold.seconds, 3),
            "reps": [round(rep.seconds, 3) for rep in reps],
            "steal_pct_1core": [round(rep.steal_pct, 1) for rep in reps],
        }
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            plan = (
                df_builder(spark, sf_dir)
                ._jdf.queryExecution()
                .explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
            )
            path = os.path.join(
                args.explain, f"{name}{args.suffix}.txt"
            )
            with open(path, "w") as handle:
                handle.write(plan)
        spark.sparkContext.setJobDescription(None)
        print(json.dumps({name: out[name]}), flush=True)

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "cores": cores,
                "total_noop_min": round(
                    sum(v["noop_min"] for v in out.values()), 3
                ),
                "queries": {k: v["noop_min"] for k, v in out.items()},
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
