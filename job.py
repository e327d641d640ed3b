"""spark-submit entrypoint for the crawl engine.

Cluster usage (the north-rule deployment shape; N vs 4N executors is set
by --num-executors / cluster sizing, nothing in here changes):

    python tools/package_pyfiles.py
    spark-submit --master <cluster> \
        --py-files dist/ai_intel_web_scraper_spark.zip \
        job.py --fixtures /path/to/fixtures --warehouse /path/to/wh

Local smoke (what CI runs):

    spark-submit --master local[8] \
        --py-files dist/ai_intel_web_scraper_spark.zip \
        job.py --fixtures /tmp/fx --warehouse /tmp/wh --synth-pages 120

The engine has one url_seen pre-filter (per-bucket bloom shard rows,
probed executor-side) and keeps host_state as a table, so the flags below
set only sizing, ranking and payload.

The job is resumable: re-running with the same --warehouse continues from
the latest snapshot (bit-identical to an uninterrupted run — the pytest
resume gate proves this property).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--fixtures", required=True,
                    help="dir with web_graph/seeds/politeness/robots[/pages]"
                         " parquet (synthesized if --synth-pages is given)")
    ap.add_argument("--warehouse", required=True,
                    help="snapshot-store root (resume point)")
    ap.add_argument("--synth-pages", type=int, default=0,
                    help="if >0, synthesize a seeded web of this many pages"
                         " into --fixtures first (no external data)")
    ap.add_argument("--synth-hosts", type=int, default=5)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--max-rounds", type=int, default=200)
    ap.add_argument("--round-seconds", type=float, default=None)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--expected-urls", type=int, default=1 << 20)
    ap.add_argument("--rank-mode", default="bfs",
                    choices=["bfs", "priority"])
    ap.add_argument("--no-payload", dest="payload", action="store_false",
                    default=True)
    args = ap.parse_args()

    # Under spark-submit the session already exists; builder.getOrCreate()
    # attaches to it and our configs become no-ops where fixed — that is
    # the intended cluster behavior (session owned by spark-submit).
    from pyspark.sql import SparkSession
    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from ai_intel_web_scraper_spark.crawl.scheduler import (CrawlConfig,
                                                            CrawlEngine)
    if args.synth_pages > 0:
        from ai_intel_web_scraper_spark.synth.generator import (
            WebSpec, generate_fixtures)
        os.makedirs(args.fixtures, exist_ok=True)
        generate_fixtures(WebSpec(seed=args.seed, n_hosts=args.synth_hosts,
                                  total_pages=args.synth_pages),
                          args.fixtures)
    fixtures = {n: os.path.join(args.fixtures, f"{n}.parquet")
                for n in ("pages", "web_graph", "seeds", "politeness",
                          "robots")}

    cfg_kwargs = dict(n_buckets=args.n_buckets,
                      expected_urls=args.expected_urls,
                      rank_mode=args.rank_mode,
                      write_payload=args.payload)
    if args.round_seconds is not None:
        cfg_kwargs["round_seconds"] = args.round_seconds
    eng = CrawlEngine(spark, fixtures, args.warehouse,
                      CrawlConfig(**cfg_kwargs))
    rounds = eng.run(max_rounds=args.max_rounds)

    fetched = eng.store.read("fetched").count()
    seen = eng.store.read("url_seen").count()
    eng.close()
    print(json.dumps({
        "rounds": len(rounds), "fetched": fetched, "url_seen": seen,
        "snapshot": eng.store.current_snapshot_id(),
        "per_round": rounds,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
