"""r6 optimization profiler (bench.py stays FROZEN — this is the guide
§1.4 side harness).

Usage:
  python tools/profile_r06.py queries [--best N] [--plans DIR_TAG] name...
      Times each declared query with bench.py's exact methodology
      (xxhash64-all-columns + bit_xor collect), best-of-N, and optionally
      writes .explain("formatted") to plans/r06/<name>_<DIR_TAG>.txt.

The crawl and scheduling rounds are profiled by perfbench/
(`python3 perfbench/run.py --workload crawl|sched --trace 1`).
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
    ap.add_argument("cmd", choices=["queries"])
    ap.add_argument("names", nargs="*")
    ap.add_argument("--best", type=int, default=3)
    ap.add_argument("--plans", default=None,
                    help="write plans/r06/<name>_<tag>.txt explain output")
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from ai_intel_web_scraper_spark.session import get_spark
    spark = get_spark(app="profile_r06", cores=args.cores,
                      shuffle_partitions=max(args.cores, 16))
    import bench as B
    B.warmup(spark, sf_dir)

    from pyspark.sql import functions as F

    import __spark_entry__ as E
    qs = E.queries()
    out = {}
    for name in args.names:
        if args.plans:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            pdir = os.path.join(os.path.dirname(
                os.path.dirname(os.path.abspath(__file__))),
                "plans", "r06")
            os.makedirs(pdir, exist_ok=True)
            with open(os.path.join(
                    pdir, f"{name}_{args.plans}.txt"), "w") as f:
                f.write(plan)
        best = None
        samples = []
        for _ in range(args.best):
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            df.select(F.xxhash64(*df.columns).alias("_h")) \
                .agg(F.expr("bit_xor(_h)")).collect()
            dt = round(time.time() - t0, 3)
            samples.append(dt)
            best = dt if best is None else min(best, dt)
        out[name] = {"best": best, "samples": samples}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"summary": {k: v["best"] for k, v in out.items()}}))


if __name__ == "__main__":
    main()
