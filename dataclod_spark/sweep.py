"""Strict oracle sweep: every registered query with a DuckDB oracle, run
on Spark and compared with the driver-grade (zero-sign-bit sensitive)
comparator.

Usage::

    python -m dataclod_spark.sweep [--hostile | --invariance] [SF_DIR]

``SF_DIR`` defaults to ``~/testdata/sf0.01`` (TESTDATA.md).  The session
variants:

* default — ``get_spark`` with 8 shuffle partitions;
* ``--hostile`` — a plain ``SparkSession`` (none of the engine's configs)
  under ``TZ=Pacific/Auckland``: timezone and nanos handling must not
  depend on ``get_spark``'s defaults, because the driver brings its own
  session;
* ``--invariance`` — 5 shuffle partitions, ``maxPartitionBytes=1m`` and
  ``openCostInBytes=0``: ~10× more input splits and an odd shuffle width,
  the local-mode proxy for a many-executor topology (order-dependent FP
  summation or unpinned ties diverge here first).

Also checks the driver contract (``__spark_entry__.entry``).  Prints one
line per mismatch and a final ``passed/total`` line; exits 1 on any
mismatch or error.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback


def _session(mode: str):
    quiet = {"spark.ui.showConsoleProgress": "false"}
    if mode == "hostile":
        # the JVM inherits TZ from this process, so set it before launch
        os.environ["TZ"] = "Pacific/Auckland"
        time.tzset()
        from pyspark.sql import SparkSession

        cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
        return SparkSession.builder.master(f"local[{cpus}]").config(map=quiet).getOrCreate()
    from dataclod_spark.session import get_spark

    if mode == "invariance":
        return get_spark(
            shuffle_partitions=5,
            extra_conf={
                **quiet,
                "spark.sql.files.maxPartitionBytes": "1m",
                "spark.sql.files.openCostInBytes": "0",
            },
        )
    return get_spark(shuffle_partitions=8, extra_conf=quiet)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="python -m dataclod_spark.sweep")
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--hostile", action="store_true")
    mode.add_argument("--invariance", action="store_true")
    ap.add_argument(
        "sf_dir", nargs="?",
        default=os.path.join(os.path.expanduser("~"), "testdata", "sf0.01"),
    )
    args = ap.parse_args(argv)
    name = "hostile" if args.hostile else "invariance" if args.invariance else "default"

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    spark = _session(name)
    import __spark_entry__

    from dataclod_spark.registry import load_all_queries
    from dataclod_spark.testing import compare_query

    tz = spark.conf.get("spark.sql.session.timeZone")
    print(f"sweep {name} at {args.sf_dir}, session time zone {tz}", flush=True)
    print("entry rows:", __spark_entry__.entry(spark).count(), flush=True)
    checked = passed = 0
    for qname, qd in sorted(load_all_queries().items()):
        if not qd.oracle:
            continue
        checked += 1
        try:
            ok, detail = compare_query(spark, args.sf_dir, qd.fn, qd.oracle, strict=True)
        except Exception as exc:  # a crash is a mismatch, not an abort
            traceback.print_exc()
            ok, detail = False, f"{type(exc).__name__}: {exc}"
        if ok:
            passed += 1
        else:
            print(f"MISMATCH {qname}: {detail}", flush=True)
    print(f"{passed}/{checked} strict oracle matches ({name})", flush=True)
    spark.stop()
    return 0 if passed == checked else 1


if __name__ == "__main__":
    sys.exit(main())
