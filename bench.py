#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is executed to completion with a CONTENT-FORCING action:
``agg(bit_xor(xxhash64(struct(*cols))))`` hashes every output column of
every row, so projection-only work (window columns, expression columns) is
measured too — ``count()`` lets Catalyst prune unreferenced projections
(SCALE.md pitfall #5), under-measuring projection-shaped queries like w1
and x1.

Alongside the one-shot timings (which carry per-query codegen/JIT and are
host-noise-sensitive — see the round-5 verdict), a second pass records
WARMED BEST-OF-3 per-query steady-state numbers under ``"steady"``: the
round-over-round comparison signal that host noise cannot mask a plan
regression in.  Disable with ``SPARK_GRAFT_BENCH_STEADY=0``.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from dataclod_spark.registry import load_all_queries
    from dataclod_spark.session import get_spark

    spark = get_spark(app_name="dataclod_spark_bench")
    registry = load_all_queries()
    headline = {name: qd for name, qd in registry.items() if qd.bench}
    warm_up(spark, registry, sf_dir)

    timings: dict[str, float] = {}
    for name, qd in sorted(headline.items()):
        # defined state per query: no cross-query cache reuse
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        try:
            force(qd.fn(spark, sf_dir))
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # record failures as negative sentinel
            print(f"bench query {name} failed: {exc}", file=sys.stderr)
            timings[name] = -1.0

    total = round(sum(t for t in timings.values() if t >= 0), 3)

    # warmed best-of-3 steady-state pass: every query has now run once in
    # this session, so per-query codegen/JIT is paid — the minimum of 3
    # further runs is the plan's own cost, comparable across rounds even
    # when the host degrades (the one-shot numbers above keep measuring
    # the cold path the driver actually experiences)
    steady: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_STEADY", "1") != "0":
        for name, qd in sorted(headline.items()):
            best = -1.0
            for _ in range(3):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                try:
                    force(qd.fn(spark, sf_dir))
                except Exception as exc:
                    print(f"bench steady {name} failed: {exc}", file=sys.stderr)
                    best = -1.0
                    break
                dt = time.perf_counter() - t0
                best = dt if best < 0 else min(best, dt)
            steady[name] = round(best, 3)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
    }
    if steady:
        out["steady"] = steady
        out["steady_total"] = round(sum(t for t in steady.values() if t >= 0), 3)
    print(json.dumps(out))
    spark.stop()


def force(df) -> None:
    """The measured action: content-forcing hash over every column of
    every row — nothing prunable (bit_xor, not sum: summing int64
    hashes overflows ANSI mode); backticked so auto-generated names
    with dots or parens resolve as column names, not nested-field
    paths.  One definition shared by warmup and timed loop so they
    JIT the same whole-stage classes."""
    cols = [F.col("`" + c.replace("`", "``") + "`") for c in df.columns]
    df.agg(F.bit_xor(F.xxhash64(F.struct(*cols)))).collect()


def warm_up(spark, registry, sf_dir: str) -> str:
    """Pay the session's one-time costs before anything is timed; returns
    the smallest available scale dir, where the warm-up queries ran."""
    # warm the JVM + parquet footer cache with one tiny action, and pay the
    # one-time engine registration (57 spatial UDFs + catalog views) OUTSIDE
    # any query's timing — queries constructing an EngineSession over this
    # session hit the once-per-session guards and re-register nothing
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    from dataclod_spark.session import EngineSession

    EngineSession(spark)
    # one untimed throwaway query at the smallest available scale factor
    # warms the shared JVM paths (codegen compiler, shuffle machinery,
    # whole-stage classes) the same way for every timed query — measured:
    # the first timed query otherwise absorbs ~1.3 s of one-time JIT that
    # belongs to the session, not the query (same policy as
    # registration-outside-timings above)
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir  # fall back to the bench data itself
    # q1 warms the relational paths; g6 warms the spatial grid join's
    # codegen + Arrow python-worker round trip; d2 warms the higher-order-
    # function array/md5 path (all one-time session costs that would
    # otherwise land on the first timed query using them)
    for warm_query in ("q1_pricing_summary", "g6_spatial_join_points_in_boxes",
                       "d2_minhash_signatures"):
        try:
            force(registry[warm_query].fn(spark, warm_dir))
        except Exception as exc:
            # a silently-skipped warmup would skew the first timed query
            print(
                f"bench warmup {warm_query} failed ({exc}); "
                "first-query JIT included",
                file=sys.stderr,
            )
    return warm_dir

if __name__ == "__main__":
    main()
