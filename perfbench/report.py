"""Turn one run's raw figures into its record, its printed summary and,
for a traced run, the per-layer report and the span file."""

from __future__ import annotations

import json
import time

from tracing import layer_totals

END_TO_END = {"setup_s": "s", "cold_cpu_s": "s"}  # name -> unit, as in BENCHMARK.json
LAYER_UNITS = {
    "pgwire.statements": "count", "pgwire.self_s": "s", "pgwire.rows_sent": "count",
    "pgwire.errors": "count",
    "session.sql_calls": "count", "session.sql_s": "s", "session.py4j_calls": "count",
    "plans.rewrite_s": "s", "plans.dispatch_s": "s", "plans.dispatch_attempts": "count",
    "plans.dispatch_fired": "ratio",
    "catalog.refresh_calls": "count", "catalog.refresh_s": "s",
    "queries.construct_s": "s", "queries.py4j_calls": "count", "queries.eager_jobs": "count",
    "operators.spatial_join_s": "s", "operators.spatial_join_calls": "count",
    "operators.dedup_s": "s", "operators.dedup_calls": "count",
    "operators.embeddings_s": "s", "operators.embeddings_calls": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.exec_run_s": "s", "spark.exec_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B", "transfer.s": "s",
    "udf.python_total_s": "s", "udf.python_boot_s": "s", "udf.bytes_to_python": "B",
    "write.s": "s", "write.bytes": "B", "write.files": "count",
    "wire.p50_s": "s", "wire.lookup_p50_s": "s", "wire.catalog_p50_s": "s",
    "wire.report_p50_s": "s", "wire.spatial_p50_s": "s", "wire.write_p50_s": "s",
    "wire.tail_s": "s", "wire.tail_pct": "pct", "wire.tail_n": "count",
    "wire.throughput_sps": "1/s", "wire.serving_setup_s": "s", "wire.warm_s": "s",
    "batch.steady_s": "s", "batch.p50_s": "s",
    "peak_rss_mb": "MB", "error_rate": "ratio", "cold_s": "s",
    "setup.wall_s": "s", "setup.first_s": "s",
    "trace.traced_s": "s", "trace.untraced_s": "s", "trace.overhead_s": "s",
    "trace.accounted_share": "ratio",
}


def _layer(layers: dict, name: str) -> dict:
    return layers.get(name, {"calls": 0, "s": 0.0, "self_s": 0.0, "py4j": 0,
                             "py4j_incl": 0, "fired": 0, "errors": 0})


def per_layer(args, res: dict, named: dict) -> dict[str, float]:
    tr = res["done"]["trace"]
    layers, spark = tr["layers"], tr["spark"]
    v: dict[str, float] = dict.fromkeys(LAYER_UNITS, 0)
    v.update({k: x for k, x in named.items() if k in LAYER_UNITS})
    ses, rew, dis = (_layer(layers, n) for n in ("session", "plans.rewrite", "plans.dispatch"))
    cat, qry = _layer(layers, "catalog"), _layer(layers, "queries")
    v.update({
        "session.sql_calls": ses["calls"], "session.sql_s": ses["s"],
        "session.py4j_calls": ses["py4j_incl"],
        "plans.rewrite_s": rew["s"], "plans.dispatch_s": dis["s"],
        "plans.dispatch_attempts": dis["calls"],
        "plans.dispatch_fired": dis["fired"] / dis["calls"] if dis["calls"] else 0.0,
        "catalog.refresh_calls": cat["calls"], "catalog.refresh_s": cat["s"],
        "queries.construct_s": qry["s"], "queries.py4j_calls": qry["py4j_incl"],
    })
    for op in ("spatial_join", "dedup", "embeddings"):
        rec = _layer(layers, f"operators.{op}")
        v[f"operators.{op}_s"], v[f"operators.{op}_calls"] = rec["s"], rec["calls"]
    for k in ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        v[f"spark.{k}"] = spark[k]
    v["udf.python_total_s"] = spark["python_total_s"]
    v["udf.python_boot_s"] = spark["python_boot_s"]
    v["udf.bytes_to_python"] = spark["bytes_to_python"]
    groups = tr["groups"]
    if args.workload == "driver_batch":
        v["queries.eager_jobs"] = sum(g["jobs"] for k, g in groups.items()
                                      if k.endswith(":construct"))
        transfer = 0.0
        for tag, rec in _passes(res):
            ends = [e for _, e in groups.get(f"{tag}:exec", {}).get("intervals", [])]
            if ends:
                transfer += max(0.0, rec["rows_at"] - max(ends))
        v["transfer.s"] = transfer
    else:
        sts = res["statements"]
        v["pgwire.statements"] = len(sts)
        v["pgwire.rows_sent"] = sum(s.get("rows", 0) for s in sts)
        v["pgwire.errors"] = sum("error" in s for s in sts)
        v["pgwire.self_s"] = sum(s["latency"] for s in sts) - tr["engine_busy_s"]
        writes = [s for s in sts if s["kind"] == "write"]
        v["write.s"] = sum(s["latency"] for s in writes)
        v["write.bytes"] = sum(s.get("bytes", 0) for s in writes)
        v["write.files"] = sum(s.get("files", 0) for s in writes)
    v["trace.traced_s"] = res["cold_s"]
    untraced = res.get("untraced_cold_s")
    v["trace.untraced_s"] = untraced or 0.0
    v["trace.overhead_s"] = res["cold_s"] - untraced if untraced else 0.0
    v["trace.accounted_share"] = accounted(args, res)[0]
    return v


def _passes(res: dict):
    """``(request tag, record)`` for every query run of a driver_batch run."""
    done = res["done"]
    for name, rec in done["cold"].items():
        yield f"cold:{name}", rec
    for i, p in enumerate(done["warm"]):
        for name, rec in p.items():
            yield f"warm{i}:{name}", rec


def self_times(args, res: dict) -> dict[str, float]:
    """Self seconds per layer in the traced window."""
    tr = res["done"]["trace"]
    out = {k: rec["self_s"] for k, rec in sorted(tr["layers"].items())}
    if args.workload == "bi_wire":
        ses = tr["layers"].get("session", {}).get("s", 0.0)
        out["spark (jobs after session.sql)"] = max(0.0, tr["engine_busy_s"] - ses)
        out["pgwire (client latency - engine busy)"] = (
            sum(s["latency"] for s in res["statements"]) - tr["engine_busy_s"])
    return out


def accounted(args, res: dict) -> tuple[float, float, float]:
    """(share, accounted seconds, basis seconds): how much of the traced
    window the layers explain.  driver_batch: layer self times over the
    pass's wall time.  bi_wire: server-side engine busy time over the
    summed client latency (the rest is the pgwire residual)."""
    tr = res["done"]["trace"]
    if args.workload == "driver_batch":
        basis = sum(rec["total_s"] for _, rec in _passes(res))
        acc = sum(rec["self_s"] for rec in tr["layers"].values())
    else:
        basis = sum(s["latency"] for s in res["statements"])
        acc = tr["engine_busy_s"]
    return (acc / basis if basis else 0.0), acc, basis


def build_record(args, res: dict, sf: float) -> dict:
    done = res["done"]
    ready = res["ready"]
    e2e = {"setup_s": ready["setup_cpu_s"], "cold_cpu_s": res["cold_cpu_s"]}
    named = dict(res["named"])
    named["cold_s"] = res["cold_s"]
    named["setup.wall_s"] = ready["setup_wall_s"]
    named["setup.first_s"] = ready["first_s"]
    named["peak_rss_mb"] = res["peak_rss_mb"]
    named["error_rate"] = len(res["failed"]) / res["attempted"]
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "cpus": done["cpus"], "sf": sf,
        "spark": done["versions"]["spark"], "python": done["versions"]["python"],
        "when": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "attempted": res["attempted"], "failed": res["failed"],
        "timeline_s": res["timeline"],
        "per_query": res.get("per_query", {}),
        "rounds": [{"label": r["label"], "wall": r["wall"],
                    "latency": {st["key"]: st["latency"] for st in r["statements"]}}
                   for r in res.get("rounds", [])],
        "end_to_end": {k: {"value": x, "unit": END_TO_END[k]} for k, x in e2e.items()},
        "named": named,
    }
    if args.trace:
        record["per_layer"] = {k: {"value": x, "unit": LAYER_UNITS[k]}
                               for k, x in per_layer(args, res, named).items()}
    return record


def summary_lines(record: dict) -> str:
    head = (f"perfbench {record['workload']} seed={record['seed']} cpus={record['cpus']} "
            f"sf={record['sf']} spark={record['spark']} python={record['python']} "
            f"attempted={record['attempted']} failed={len(record['failed'])}")
    rows = [head]
    for section in ("end_to_end", "named"):
        for k, x in record[section].items():
            value, unit = (x["value"], x["unit"]) if isinstance(x, dict) else (x, "")
            rows.append(f"  {k:<28} {value:>14.4f} {unit}")
    return "\n".join(rows)


def write_trace(stem: str, args, res: dict, record: dict) -> None:
    """Write ``<stem>.spans.json`` and the human report ``<stem>.report.md``."""
    spans = res["done"]["spans"]
    with open(stem + ".spans.json", "w") as fh:
        json.dump(spans, fh, default=str)
    share, acc, basis = accounted(args, res)
    pl = record["per_layer"]
    lines = [
        f"# perfbench traced run: {args.workload}, seed {args.seed}",
        "",
        f"cpus {record['cpus']}, sf {record['sf']}, Spark {record['spark']}, "
        f"Python {record['python']}",
        "",
        "## Self time per layer (traced window)",
        "",
        "| layer | self s |",
        "|---|---:|",
    ]
    lines += [f"| {k} | {x:.3f} |" for k, x in self_times(args, res).items()]
    untraced = res.get("untraced_cold_s")
    lines += ["", "## Coverage and tracing overhead", ""]
    if untraced:
        lines.append(
            f"- cold_s traced {res['cold_s']:.3f} s against {untraced:.3f} s, the median of "
            f"this checkout's untraced runs: overhead {res['cold_s'] - untraced:+.3f} s")
    else:
        lines.append("- no untraced run of this workload in this checkout; overhead unknown "
                     "(reported as 0)")
    if args.workload == "driver_batch":
        within = ""
        if untraced:
            within = (" — within" if basis - acc <= abs(res["cold_s"] - untraced)
                      else " — more than") + " the measured tracing overhead"
        lines.append(
            f"- layer self times account for {acc:.3f} s of the {basis:.3f} s the queries took "
            f"({share:.1%}); the {basis - acc:.3f} s left is benchmark glue (clearCache, job "
            f"group calls) between spans{within}")
    else:
        lines.append(
            f"- engine-side work (session.sql spans and the statements' Spark jobs) covers "
            f"{acc:.3f} s of {basis:.3f} s summed client latency ({share:.1%}); the rest is "
            "assigned to server.pgwire (framing, encoding, result iteration, socket)")
    lines += ["", "## Per-layer metrics", ""]
    lines += [f"- {k}: {x['value']:.4f} {x['unit']}" for k, x in pl.items()]
    if args.workload == "driver_batch":
        groups = res["done"]["trace"]["groups"]
        by_req: dict[str, list] = {}
        for s in spans:
            by_req.setdefault(s["request"], []).append(s)
        lines += ["", "## Per query and pass", "",
                  "| pass:query | construct s | construct py4j | eager jobs | exec s | jobs | "
                  "stages | tasks |", "|---|---:|---:|---:|---:|---:|---:|---:|"]
        for tag, _ in sorted(_passes(res)):
            lt = layer_totals(by_req.get(tag, []))
            q, sp = lt.get("queries", {}), lt.get("spark", {})
            cons = groups.get(f"{tag}:construct", {})
            ex = groups.get(f"{tag}:exec", {})
            lines.append(
                f"| {tag} | {q.get('s', 0):.3f} | {q.get('py4j_incl', 0)} | "
                f"{cons.get('jobs', 0)} | {sp.get('s', 0):.3f} | "
                f"{cons.get('jobs', 0) + ex.get('jobs', 0)} | "
                f"{cons.get('stages', 0) + ex.get('stages', 0)} | "
                f"{cons.get('tasks', 0) + ex.get('tasks', 0)} |")
    with open(stem + ".report.md", "w") as fh:
        fh.write("\n".join(lines) + "\n")
