"""Frontier-scheduling benchmark: crawl, sched and steady workloads.

One workload per process, at local[nproc], from the root of a checkout:

  python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

prints, as the last stdout line, one JSON object
  {"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). Everything else goes to stderr.

  python3 perfbench/run.py --workload all --seed 1 --seconds 10

runs every workload untraced and traced (one child process each) and
prints a table of all metrics plus the tracing overhead. See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # process start, for the cold setup sample

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

from metrics import END_TO_END, PER_LAYER  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "ai_intel_web_scraper_spark"

WORKLOAD_NAMES = ("crawl", "sched", "steady")


def run_one(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found next to "
              f"{os.path.basename(HERE)}/ — run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS, Env
    env = Env(ROOT, WORK, bool(args.trace))
    res = WORKLOADS[args.workload](env, args.seed, float(args.seconds),
                                   args.scale, T_START)
    values = res["layers"] if args.trace else res["metrics"]
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      **res["info"]}), file=sys.stderr)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in units.items()},
    }))
    return 0


def run_all(args) -> int:
    """Every workload untraced then traced, each in its own process."""
    rows = {}
    for w in WORKLOAD_NAMES:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace), "--scale", args.scale]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                               cwd=ROOT)
            if p.returncode != 0:
                print(f"{w} trace={trace} exited {p.returncode}")
                return p.returncode
            rows[(w, trace)] = json.loads(p.stdout.strip().splitlines()[-1])
    width = max(map(len, list(END_TO_END) + list(PER_LAYER))) + 2
    print(f"{'metric':<{width}}{'unit':<8}"
          + "".join(f"{w:>14}" for w in WORKLOAD_NAMES))
    for trace, units in ((0, END_TO_END), (1, PER_LAYER)):
        for name, unit in units.items():
            vals = [rows[(w, trace)]["metrics"][name]["value"]
                    for w in WORKLOAD_NAMES]
            print(f"{name:<{width}}{unit:<8}"
                  + "".join(f"{v:>14.4g}" for v in vals))
        for key in ("attempted", "failed"):
            print(f"{key + '_ops' + (' (traced)' if trace else ''):<{width}}"
                  f"{'count':<8}" + "".join(
                      f"{rows[(w, trace)][key]:>14}" for w in WORKLOAD_NAMES))
    over = [rows[(w, 1)]["metrics"]["trace.round_s_p50"]["value"]
            / rows[(w, 0)]["metrics"]["round_s_p50"]["value"] - 1.0
            for w in WORKLOAD_NAMES]
    print(f"{'trace_overhead':<{width}}{'ratio':<8}"
          + "".join(f"{v:>14.3f}" for v in over))
    return 0 if all(r["failed"] == 0 for r in rows.values()) else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: smoke-test sizes, not a benchmark")
    args = ap.parse_args()
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
