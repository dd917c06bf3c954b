"""Time registry queries, split into build / plan / exec per rep.

Usage: python tools/time_query.py [--sf DIR] [--reps N] [--out FILE]
       [--tier headline|heavy] [name ...]

Each rep of each query is split three ways:

* build — the registry's plan-building call: py4j plan construction,
  plus any model-build collects it blocks on;
* plan  — forcing queryExecution().executedPlan(): analysis, optimizer,
  physical planning (single-threaded, before any task runs);
* exec  — the noop write of the already-planned DataFrame. The noop
  write re-plans the write query itself, so `exec` still carries one
  planning pass; `plan` is a lower bound on planner cost, not its total.

build + plan + exec is the same wall time bench.py's _timed_min reads.
Every query first runs once untimed (row count + warmup), then the reps
interleave across queries, as in bench.py. Used for ad-hoc reads of one
tree; speed changes are judged on perfbench parent/change pairs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_HEAVY, BENCH_QUERIES  # noqa: E402
from movievectorsearch_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from movievectorsearch_spark.plans import queries as Q  # noqa: E402
from movievectorsearch_spark.session import get_spark  # noqa: E402


def split_times(spark, sf_dir: str, name: str) -> dict[str, float]:
    t0 = time.perf_counter()
    df = Q.QUERIES[name]["spark"](spark, sf_dir)
    t1 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    return {"build": round(t1 - t0, 4), "plan": round(t2 - t1, 4),
            "exec": round(t3 - t2, 4), "total": round(t3 - t0, 4)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=DEFAULT_SF_DIR)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--tier", default=None, choices=[None, "headline", "heavy"])
    ap.add_argument("--out", default=None)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    names = list(args.names)
    if args.tier == "headline":
        names = list(BENCH_QUERIES)
    elif args.tier == "heavy":
        names = list(BENCH_HEAVY)
    if not names:
        ap.error("give query names or --tier")

    spark = get_spark(app_name="mvs-time")
    spark.sparkContext.setLogLevel("ERROR")
    Q.QUERIES["count_scan"]["spark"](spark, args.sf).collect()

    out = {
        name: {"rows": Q.QUERIES[name]["spark"](spark, args.sf).count(),
               "reps": []}
        for name in names
    }
    for rep in range(args.reps):
        for name in names:
            t = split_times(spark, args.sf, name)
            out[name]["reps"].append(t)
            print(f"{name} rep={rep} build={t['build']:.3f} "
                  f"plan={t['plan']:.3f} exec={t['exec']:.3f} "
                  f"total={t['total']:.3f}", flush=True)
    for name, row in out.items():
        best = min(r["total"] for r in row["reps"])
        print(f"{name}: min={best:.3f}s rows={row['rows']}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
