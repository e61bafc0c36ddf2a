"""Engine side of one benchmark run: a child process of ``run.py`` that owns
the JVM.  It speaks JSON lines to its parent on the original stdout (the
JVM and the engine log to stderr).

    python3 perfbench/engine.py --workload {bi_wire,driver_batch} --seed N
        --trace {0,1} --data DIR --tmp DIR

Both workloads first set up and report ``ready``; the parent takes the
set-up's CPU time there.  ``driver_batch`` then waits for a line on stdin,
runs its passes here and reports its result.  ``bi_wire`` reports its
port and statement pool with ``ready`` and serves the parent's client
threads until the parent writes a line to stdin.  With ``--trace 1``
every measured operation after set-up is traced.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bi_mix  # noqa: E402
from stats import tree_cpu_s  # noqa: E402
from tracing import Tracer, busy_seconds, layer_totals, spark_stats  # noqa: E402

PASSWORD = "perfbench"
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def _protocol_stream():
    """Keep the real stdout for the parent; send fd 1 (JVM, prints) to stderr."""
    out = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    return out


def install_tracer(tracer: Tracer) -> None:
    """Wrap each layer's public entry points.  Must run before the query
    modules are imported: they bind operator functions by name."""
    from dataclod_spark.catalog import information_schema, pg_catalog
    from dataclod_spark.operators import dedup, embeddings, spatial_join
    from dataclod_spark.plans import rewrites, spatial_dispatch
    from dataclod_spark.session import EngineSession

    seq = iter(range(1, 1 << 62))

    def new_request(args):
        if tracer.current() is not None:
            return {}
        req = f"r{next(seq)}"
        # every job until this thread's next statement belongs to it
        args[0].spark.sparkContext.setJobGroup(req, req)
        return {"request": req}

    tracer.wrap(EngineSession, "sql", "session", on_enter=new_request)
    tracer.wrap_module(rewrites, "plans.rewrite", prefix="rewrite_")
    tracer.wrap_module(spatial_dispatch, "plans.dispatch", prefix="try_")
    tracer.wrap(information_schema, "register_information_schema", "catalog")
    tracer.wrap(pg_catalog, "register_pg_catalog", "catalog")
    tracer.wrap_module(spatial_join, "operators.spatial_join")
    tracer.wrap_module(dedup, "operators.dedup")
    tracer.wrap_module(embeddings, "operators.embeddings")
    tracer.count_py4j()


def start_spark(tmp: str):
    """The engine's own session defaults, except two shuffle partitions per
    core (the test suite's width; the 32-partition default is sized for a
    32-core box) and every scratch path inside the checkout."""
    from dataclod_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        shuffle_partitions=2 * len(os.sched_getaffinity(0)),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp}",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def force(df):
    """bench.py's content-forcing action: one hash over every column of
    every row, so no projection can be pruned."""
    from pyspark.sql import functions as F

    cols = [F.col("`" + c.replace("`", "``") + "`") for c in df.columns]
    return df.agg(F.bit_xor(F.xxhash64(F.struct(*cols)))).collect()[0][0]


def layer_metrics(spark, spans: list[dict], groups) -> dict:
    """Layer totals of ``spans`` plus Spark figures for job ``groups``."""
    layers = layer_totals(spans)
    stats = spark_stats(spark, groups)
    spark_tot = {k: sum(s[k] for s in stats.values()) for k in (
        "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "python_total_s", "python_boot_s",
        "bytes_to_python")}
    return {"layers": layers, "spark": spark_tot, "groups": stats}


# -- driver_batch -------------------------------------------------------------

def first_engine_s(spark) -> float:
    """Seconds to build the first EngineSession, on the base session
    (JVM-side registration included) — what bench.py does before timing."""
    from dataclod_spark.session import EngineSession

    t0 = time.perf_counter()
    EngineSession(spark)
    return time.perf_counter() - t0


def driver_batch(spark, args, tracer: Tracer, proto) -> dict:
    from dataclod_spark.registry import load_all_queries

    first_s = first_engine_s(spark)
    registry = load_all_queries()
    names = sorted(n for n, q in registry.items() if q.bench)
    with open(EXPECTED) as fh:
        expected = json.load(fh)["driver_batch"]
    proto.write(json.dumps({"event": "ready", "first_s": first_s}) + "\n")
    sys.stdin.readline()  # the parent has taken the set-up's CPU time
    rng = random.Random(args.seed)
    sc = spark.sparkContext
    failures: list[str] = []
    attempted = 0

    def run_pass(tag: str) -> dict[str, dict]:
        nonlocal attempted
        order = rng.sample(names, len(names))
        out = {}
        for name in order:
            attempted += 1
            req = f"{tag}:{name}"
            spark.catalog.clearCache()
            rec = {}
            t0 = time.perf_counter()
            try:
                # the job groups are set untraced too, so both runs do the same work
                sc.setJobGroup(req + ":construct", req)
                span = tracer.open("queries", request=req) if tracer.enabled else None
                df = registry[name].fn(spark, args.data)
                if span:
                    tracer.close(span)
                rec["construct_s"] = time.perf_counter() - t0
                sc.setJobGroup(req + ":exec", req)
                span = tracer.open("spark", request=req) if tracer.enabled else None
                value = force(df)
                rec["rows_at"] = time.time()
                if span:
                    tracer.close(span)
            except Exception as exc:  # noqa: BLE001 - a failed query is counted, not fatal
                print(f"driver_batch {req} failed: {exc!r}"[:2000], file=sys.stderr)
                failures.append(req)
                continue
            rec["total_s"] = time.perf_counter() - t0
            if str(value) != expected.get(name):
                print(f"driver_batch {req}: hash {value} != expected {expected.get(name)}",
                      file=sys.stderr)
                failures.append(req)
            out[name] = rec
        return out

    tracer.enabled = bool(args.trace)
    cpu0 = tree_cpu_s(os.getpid())
    cold = run_pass("cold")
    cold_cpu_s = tree_cpu_s(os.getpid()) - cpu0
    # a traced run adds one warm pass for the steady per-layer figures
    warm = [run_pass("warm0")] if args.trace else []
    tracer.enabled = False
    result = {
        "attempted": attempted, "failed": failures, "cold": cold,
        "cold_cpu_s": cold_cpu_s, "warm": warm,
    }
    if args.trace:
        groups = [f"{tag}:{n}:{p}" for tag in ["cold"] + [f"warm{i}" for i in range(len(warm))]
                  for n in names for p in ("construct", "exec")]
        result["trace"] = layer_metrics(spark, tracer.spans, groups)
        result["spans"] = tracer.spans
    return result


# -- bi_wire --------------------------------------------------------------------

def serve_views(engine, data: str) -> None:
    """What a pgwire server's engine holds: the tables as temp views plus
    the mix's spatial views (``record.py`` builds the same)."""
    engine.load_tables(data)
    bi_mix.create_views(engine)


def wire_pool(data: str, seed: int) -> list:
    import pyarrow.parquet as pq

    from dataclod_spark.registry import load_all_queries

    registry = load_all_queries()
    rows = {t: pq.ParquetFile(os.path.join(data, f"{t}.parquet")).metadata.num_rows
            for t in ("orders", "customer")}
    return bi_mix.pool(seed, rows["orders"], rows["customer"],
                       {n: registry[n].oracle for n in bi_mix.REPORTS})


def direct_digest(engine, st) -> str:
    """Digest of a statement run through EngineSession.sql, each value
    encoded as the pgwire server encodes text results."""
    from dataclod_spark.server.pgwire import _text_encode

    from stats import row_digest

    rows = engine.sql(st.sql, list(st.params) if st.params else None).collect()
    return row_digest(tuple(_text_encode(v) for v in r) for r in rows)


def bi_wire(spark, args, tracer: Tracer, proto) -> dict:
    from dataclod_spark.server.pgwire import PgWireServer
    from dataclod_spark.session import EngineSession

    os.environ["DATACLOD_PASSWORD"] = PASSWORD
    first_s = first_engine_s(spark)
    t0 = time.perf_counter()
    engine = EngineSession(spark.newSession())
    serve_views(engine, args.data)
    server = PgWireServer(engine, host="127.0.0.1", port=0)
    server.start()
    serving_s = time.perf_counter() - t0
    pool = wire_pool(args.data, args.seed)
    tracer.enabled = bool(args.trace)
    proto.write(json.dumps({
        "event": "ready", "first_s": first_s, "port": server.port, "password": PASSWORD,
        "serving_s": serving_s, "pool": [st.__dict__ for st in pool],
    }) + "\n")
    sys.stdin.readline()  # the parent's clients are done
    tracer.enabled = False
    server.stop()
    # lookups depend on the seeded keys, so their reference rows come from
    # running each one directly; the other statements' digests were taken
    # the same way once and are kept in expected.json
    refs = {st.key: direct_digest(engine, st) for st in pool if st.kind == "lookup"}
    result = {"refs": refs}
    if args.trace:
        spans = tracer.spans
        groups = {s["request"] for s in spans if s.get("request")}
        result["trace"] = layer_metrics(spark, spans, groups)
        busy = 0.0
        for g in groups:
            own = [(s["start"], s["end"]) for s in spans
                   if s["request"] == g and s["layer"] == "session"]
            own += result["trace"]["groups"].get(g, {}).get("intervals", [])
            busy += busy_seconds(own)
        result["trace"]["engine_busy_s"] = busy
        result["spans"] = spans
    return result


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("bi_wire", "driver_batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--tmp", required=True)
    args = ap.parse_args()
    proto = _protocol_stream()
    tracer = Tracer()
    if args.trace:
        install_tracer(tracer)
    spark = start_spark(args.tmp)
    try:
        if args.workload == "driver_batch":
            result = driver_batch(spark, args, tracer, proto)
        else:
            result = bi_wire(spark, args, tracer, proto)
        result["versions"] = {"spark": spark.version, "python": sys.version.split()[0]}
        result["cpus"] = spark.sparkContext.defaultParallelism
        proto.write(json.dumps({"event": "done", **result}, default=str) + "\n")
        proto.flush()
    finally:
        spark.stop()
    # skip interpreter teardown; the JVM exits when its stdin closes
    os._exit(0)


if __name__ == "__main__":
    main()
