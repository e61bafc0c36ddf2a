#!/usr/bin/env python
"""Time individual registry queries with bench.py's content-forcing hash
action (or the noop sink) at a given scale dir.  Usage:

    python scripts/timeq.py [-n N] [--noop] [--sf DIR] query [query ...]

Prints one JSON line per query: {"q": name, "runs": [...], "best": s}.
Methodology is bench.py's (its warm-up and forcing action are imported),
clearCache between runs, best-of-N steady.
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
    ap.add_argument("queries", nargs="+")
    ap.add_argument("-n", type=int, default=3)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--explain", action="store_true",
                    help="print .explain('formatted') instead of timing")
    args = ap.parse_args()

    from bench import force, warm_up
    from dataclod_spark.registry import load_all_queries
    from dataclod_spark.session import get_spark

    spark = get_spark(app_name="timeq")
    registry = load_all_queries()
    warm_dir = warm_up(spark, registry, args.sf)
    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    sink = noop if args.noop else force

    for name in args.queries:
        qd = registry[name]
        if args.explain:
            qd.fn(spark, args.sf).explain("formatted")
            continue
        spark.sparkContext.setJobDescription(f"timeq:{name}")
        sink(qd.fn(spark, warm_dir))  # per-query JIT warm at tiny sf
        runs = []
        for _ in range(args.n):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            sink(qd.fn(spark, args.sf))
            runs.append(round(time.perf_counter() - t0, 3))
        print(json.dumps({"q": name, "runs": runs, "best": min(runs)}),
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
