"""The repository benchmark: one command, one workload per call.

    python3 perfbench/run.py --workload {bi_wire,driver_batch} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout.  The first call builds the input tables
under ``.bench_build/perfbench`` (see ``datagen.py``); every call then
starts the engine in a child process (``engine.py``), drives the workload,
checks every output, prints each metric by name with its unit, and ends
with one JSON line ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end set of BENCHMARK.json;
with ``--trace 1`` they are the per-layer set, and a report with self time
per layer is written next to the spans (see README.md).
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import datagen  # noqa: E402
import report  # noqa: E402
from pgclient import PgClient  # noqa: E402
from stats import median, row_digest, tail, tree_cpu_s, tree_pids  # noqa: E402

SF = 0.01
CLIENTS = 2
DRIVER_MEM = "2g"
CHILD_TIMEOUT = 170.0


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


# -- process tree -------------------------------------------------------------

def _rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler(threading.Thread):
    """Peak resident memory of this process plus the engine's process
    tree (engine process, JVM, Python worker daemon and workers), sampled
    every 0.2 s."""

    def __init__(self, root: int):
        super().__init__(daemon=True)
        self.root, self.peak, self._halt = root, 0.0, threading.Event()

    def run(self) -> None:
        while not self._halt.wait(0.2):
            self.peak = max(self.peak, _rss_mb(tree_pids(self.root) + [os.getpid()]))

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak


def _become_subreaper() -> None:
    """Have processes orphaned below this one (the JVM, PySpark's worker
    daemon, which leaves the engine's process group) re-parented here
    rather than to init, so ``_reap`` can find and wait for them."""
    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _kill_tree(root: int) -> None:
    for pid in tree_pids(root):
        if pid != os.getpid():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _reap(proc: subprocess.Popen, timeout: float = 30.0) -> None:
    """Wait for the child and every process descended from this one to end."""
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        _kill_tree(proc.pid)
        proc.wait()
    deadline = time.monotonic() + timeout
    while len(tree_pids(os.getpid())) > 1:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:  # orphans re-parented here
                pass
        except ChildProcessError:
            pass
        if time.monotonic() > deadline:
            _kill_tree(os.getpid())
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


# -- workloads ----------------------------------------------------------------

TIMELINE: dict[str, float] = {}


def _mark(name: str) -> None:
    TIMELINE[name] = time.perf_counter()


def _read_event(proc, timeout: float) -> dict:
    """Next JSON line from the engine; raises if it dies or stalls."""
    result: list = []
    reader = threading.Thread(target=lambda: result.append(proc.stdout.readline()), daemon=True)
    reader.start()
    reader.join(timeout)
    if not result or not result[0]:
        raise RuntimeError("engine process ended or stalled; see its log")
    return json.loads(result[0])


def wait_ready(proc) -> dict:
    """Set-up is over when the engine reports ``ready``: JVM started, first
    EngineSession built and, for ``bi_wire``, tables and views registered
    and the server listening.  Its cost is taken here, as CPU seconds of
    the engine's process tree and as wall seconds since the spawn."""
    ready = _read_event(proc, CHILD_TIMEOUT)
    _mark("ready")
    ready["setup_cpu_s"] = tree_cpu_s(proc.pid)
    ready["setup_wall_s"] = TIMELINE["ready"] - TIMELINE["spawn"]
    return ready


def run_driver_batch(proc, args) -> dict:
    ready = wait_ready(proc)
    proc.stdin.write("go\n")
    proc.stdin.flush()
    done = _read_event(proc, CHILD_TIMEOUT)
    _mark("done")
    cold, warm = done["cold"], done["warm"]
    named = {"batch.p50_s": median(r["total_s"] for r in cold.values())}
    if warm:
        named["batch.steady_s"] = sum(r["total_s"] for r in warm[0].values())
    return {
        "ready": ready, "attempted": done["attempted"], "failed": done["failed"],
        "cold_cpu_s": done["cold_cpu_s"], "cold_s": sum(r["total_s"] for r in cold.values()),
        "named": named,
        "per_query": {"cold": {n: r["total_s"] for n, r in cold.items()},
                      "warm": [{n: r["total_s"] for n, r in p.items()} for p in warm]},
        "done": done,
    }


def _client_loop(client: PgClient, statements, results: list, copy_dir: str) -> None:
    for i, st in enumerate(statements):
        rec = {"key": st["key"], "kind": st["kind"]}
        sql = st["sql"]
        if st["kind"] == "write":
            rec["path"] = os.path.join(copy_dir, str(i))
            sql = sql.format(path=rec["path"])
        t0 = time.perf_counter()
        try:
            if st["protocol"] == "simple":
                _, rows = client.query(sql)
            else:
                _, rows = client.execute(sql, st["params"])
            rec.update(latency=time.perf_counter() - t0, rows=len(rows),
                       digest=row_digest(rows), tag=client.last_tag)
        except Exception as exc:  # noqa: BLE001 - counted as a failed statement
            rec.update(latency=time.perf_counter() - t0, error=repr(exc)[:500])
        results.append(rec)


def run_bi_wire(proc, args, tmp: str) -> dict:
    ready = wait_ready(proc)
    pool = ready["pool"]
    clients = [PgClient("127.0.0.1", ready["port"], password=ready["password"])
               for _ in range(CLIENTS)]
    copy_dir = os.path.join(tmp, "copy")
    rounds: list[dict] = []

    def deal(todo: list) -> list[list]:
        """Longest first (by cost hint) to the least-loaded client.  The
        order is fixed, so every run puts the same statements side by side
        on a cold engine; the seed picks the bound keys."""
        loads, shares = [0.0] * CLIENTS, [[] for _ in range(CLIENTS)]
        for st in sorted(todo, key=lambda s: (-s["cost_hint"], s["key"])):
            i = loads.index(min(loads))
            shares[i].append(st)
            loads[i] += st["cost_hint"]
        return shares

    def one_round(label: str) -> dict:
        shares = deal([st for st in pool if label == "cold" or st["every_round"]])
        results: list[list] = [[] for _ in clients]
        t0 = time.perf_counter()
        threads = [
            threading.Thread(target=_client_loop, args=(
                c, s, r, os.path.join(copy_dir, f"{len(rounds)}-{k}")))
            for k, (c, s, r) in enumerate(zip(clients, shares, results))]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        rec = {"label": label, "wall": time.perf_counter() - t0,
               "statements": [x for r in results for x in r]}
        rounds.append(rec)
        return rec

    try:
        cpu0 = tree_cpu_s(proc.pid)
        one_round("cold")
        cold_cpu = tree_cpu_s(proc.pid) - cpu0
        if args.trace:  # one warm round for the steady per-layer figures
            one_round("warm")
    finally:
        for c in clients:
            c.close()
        proc.stdin.write("finish\n")
        proc.stdin.flush()
    _mark("rounds_done")
    done = _read_event(proc, CHILD_TIMEOUT)
    _mark("done")

    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)["bi_wire"]
    expected.update(done["refs"])
    failed = []
    attempted = 0
    for rnd in rounds:
        for st in rnd["statements"]:
            attempted += 1
            ok = "error" not in st
            if ok and st["kind"] == "write":
                files = [os.path.join(st["path"], f) for f in os.listdir(st["path"])
                         if f.endswith(".parquet")]
                st["files"] = len(files)
                st["bytes"] = sum(os.path.getsize(f) for f in files)
                n = pq.read_table(st["path"]).num_rows
                ok = st["tag"] == f"COPY {expected[st['key']]}" and n == expected[st["key"]]
            elif ok:
                ok = st["digest"] == expected.get(st["key"])
            if not ok:
                print(f"bi_wire {rnd['label']} {st['key']} wrong or failed: "
                      f"{st.get('error') or st.get('digest')}", file=sys.stderr)
                failed.append(st["key"])
    lat = [s["latency"] for r in rounds for s in r["statements"]]
    by_kind: dict[str, list] = {}
    for r in rounds:
        for s in r["statements"]:
            by_kind.setdefault(s["kind"], []).append(s["latency"])
    tl = tail(lat)
    named = {f"wire.{k}_p50_s": median(v) for k, v in sorted(by_kind.items())}
    named.update({
        "wire.p50_s": median(lat),
        "wire.throughput_sps": len(lat) / sum(r["wall"] for r in rounds),
        "wire.tail_pct": tl[0] if tl else 0, "wire.tail_s": tl[1] if tl else 0.0,
        "wire.tail_n": len(lat), "wire.serving_setup_s": ready["serving_s"],
    })
    if args.trace:
        named["wire.warm_s"] = rounds[1]["wall"]
    out = {
        "ready": ready, "attempted": attempted, "failed": failed,
        "cold_cpu_s": cold_cpu, "cold_s": rounds[0]["wall"], "named": named,
        "rounds": rounds, "done": done,
    }
    out["statements"] = [st for r in rounds for st in r["statements"]]
    return out


# -- entry --------------------------------------------------------------------

def engine_env(root: str, tmp: str) -> dict[str, str]:
    """Environment for the engine: the checkout importable (Python workers
    too), all cores, the driver heap, and every scratch path in ``tmp``."""
    return {
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(_cpus()), "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": tmp,
    }


def _untraced_cold(results: str, workload: str) -> float | None:
    """Median ``cold_s`` of the untraced runs of ``workload`` recorded in
    this checkout on this many cpus; the traced run's tracing overhead is
    measured against it."""
    values = []
    for name in os.listdir(results) if os.path.isdir(results) else ():
        if name.startswith(workload + "-") and name.endswith("-trace0.json"):
            with open(os.path.join(results, name)) as fh:
                rec = json.load(fh)
            if rec["cpus"] == _cpus() and rec["sf"] == SF:
                values.append(rec["named"]["cold_s"])
    return median(values) if values else None


def main() -> int:
    ap = argparse.ArgumentParser(description="dataclod-spark repository benchmark")
    ap.add_argument("--workload", required=True, choices=("bi_wire", "driver_batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="recorded with the run; the measured phase is a fixed amount of work")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    _become_subreaper()
    _mark("start")
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "dataclod_spark")):
        print("perfbench: run from the root of a checkout that holds dataclod_spark/",
              file=sys.stderr)
        return 2
    build = os.path.join(root, ".bench_build", "perfbench")
    data = datagen.ensure(os.path.join(build, f"data-sf{SF}"), SF)
    tmp = os.path.join(build, f"tmp-{os.getpid()}")
    os.makedirs(tmp)
    env = dict(os.environ, **engine_env(root, tmp))
    log_path = os.path.join(build, f"engine-{args.workload}-{args.seed}-{args.trace}.log")
    try:
        with open(log_path, "w") as log:
            _mark("spawn")
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "engine.py"), "--workload", args.workload,
                 "--seed", str(args.seed), "--trace", str(args.trace),
                 "--data", data, "--tmp", tmp],
                stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=log, text=True,
                env=env, start_new_session=True)
            sampler = RssSampler(proc.pid)
            sampler.start()
            res = None
            try:
                if args.workload == "driver_batch":
                    res = run_driver_batch(proc, args)
                else:
                    res = run_bi_wire(proc, args, tmp)
            finally:
                if res is None:  # failed or interrupted: stop the engine now
                    _kill_tree(proc.pid)
                _reap(proc)
                _mark("reaped")
                peak = sampler.stop()
    except Exception as exc:  # noqa: BLE001 - no result line on a broken run
        print(f"perfbench: {args.workload} failed: {exc!r}; engine log: {log_path}",
              file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    res["peak_rss_mb"] = peak
    if args.trace:
        res["untraced_cold_s"] = _untraced_cold(os.path.join(build, "results"), args.workload)
    res["timeline"] = {k: round(v - TIMELINE["start"], 3) for k, v in TIMELINE.items()}
    record = report.build_record(args, res, sf=SF)
    print(report.summary_lines(record))
    os.makedirs(os.path.join(build, "results"), exist_ok=True)
    stem = os.path.join(build, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        report.write_trace(stem, args, res, record)
    metrics = record["per_layer"] if args.trace else record["end_to_end"]
    print(json.dumps({
        "correct": not res["failed"], "attempted": res["attempted"],
        "failed": len(res["failed"]), "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
