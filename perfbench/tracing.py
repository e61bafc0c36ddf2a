"""Spans and counters recorded from outside the engine.

``Tracer.wrap`` replaces a public function or method of an engine module
with a wrapper that records one span per call; nothing inside
``dataclod_spark`` changes.  Spans carry name (the layer), start, end,
parent and a request id, live in memory, and are written once at exit.
py4j round trips are counted into the innermost open span of the calling
thread.  Span times are epoch seconds, like Spark's job times.
``spark_stats`` reads the Spark status stores (jobs, stages, task metrics,
Python-worker SQL metrics) for the job groups the benchmark set.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import re
import threading
import time
from collections import defaultdict


class Tracer:
    """Per-thread span stacks over one shared span list; records only while
    ``enabled`` (the wrappers stay installed and pass straight through)."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, layer: str, request: str | None = None, **attrs) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else None
        span = {
            "id": next(self._ids), "layer": layer,
            "parent": parent["id"] if parent else None,
            "request": request or (parent["request"] if parent else None),
            "thread": threading.get_ident(), "py4j": 0,
            "start": time.time(), "end": None, **attrs,
        }
        stack.append(span)
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.time()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        with self._lock:
            self.spans.append(span)

    def current(self) -> dict | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def wrap(self, owner, attr: str, layer: str, on_enter=None) -> None:
        """Record a ``layer`` span around every call of ``owner.attr``.
        ``on_enter(args)`` may return extra span attributes; a result that
        is not ``None`` is marked ``fired`` (used for the try_* rewrites)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            extra = on_enter(args) if on_enter else {}
            span = self.open(layer, fn=attr, **(extra or {}))
            try:
                out = orig(*args, **kwargs)
                span["fired"] = out is not None
                return out
            except BaseException:
                span["error"] = True
                raise
            finally:
                self.close(span)

        setattr(owner, attr, wrapper)

    def wrap_module(self, module, layer: str, prefix: str = "") -> None:
        """Wrap every public plain function defined in ``module`` (UDF
        objects excluded) whose name starts with ``prefix``."""
        for name, fn in list(vars(module).items()):
            if (name.startswith(prefix) and not name.startswith("_")
                    and inspect.isfunction(fn) and fn.__module__ == module.__name__
                    and not hasattr(fn, "evalType")):
                self.wrap(module, name, layer)

    def count_py4j(self) -> None:
        from py4j.clientserver import ClientServerConnection

        orig = ClientServerConnection.send_command
        tracer = self

        def send_command(conn, command):
            if tracer.enabled:
                span = tracer.current()
                if span is not None:
                    span["py4j"] += 1
            return orig(conn, command)

        ClientServerConnection.send_command = send_command


def layer_totals(spans: list[dict]) -> dict[str, dict]:
    """Per layer: outermost-span count and inclusive seconds (a span nested
    in a span of the same layer is not counted twice), self seconds (the
    span's time minus its children's), py4j calls made while the layer was
    innermost (``py4j``) and under its outermost spans (``py4j_incl``),
    and how many outermost spans returned a result (``fired``)."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list] = defaultdict(list)
    for s in spans:
        if s["parent"] in by_id:
            children[s["parent"]].append(s)

    def subtree_py4j(s) -> int:
        return s["py4j"] + sum(subtree_py4j(c) for c in children[s["id"]])

    out: dict[str, dict] = defaultdict(lambda: {
        "calls": 0, "s": 0.0, "self_s": 0.0, "py4j": 0, "py4j_incl": 0, "fired": 0,
        "errors": 0})
    for s in spans:
        rec = out[s["layer"]]
        dur = s["end"] - s["start"]
        rec["self_s"] += max(0.0, dur - sum(c["end"] - c["start"] for c in children[s["id"]]))
        rec["py4j"] += s["py4j"]
        anc = by_id.get(s["parent"])
        while anc is not None and anc["layer"] != s["layer"]:
            anc = by_id.get(anc["parent"])
        if anc is None:
            rec["calls"] += 1
            rec["s"] += dur
            rec["py4j_incl"] += subtree_py4j(s)
            rec["fired"] += bool(s.get("fired"))
            rec["errors"] += bool(s.get("error"))
    return dict(out)


_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4}
_VALUE = re.compile(r"([\d.,]+)\s*(ns|ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")


def parse_metric(text: str) -> float:
    """A formatted SQL metric (``"3.1 s"``, or ``"total (min, med, max)\\n
    12.5 MiB (...)"``) as seconds or bytes; the total is the first value
    after the header line."""
    body = text.split("\n", 1)[-1]
    m = _VALUE.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_stats(spark, groups) -> dict[str, dict]:
    """Jobs, stages, tasks and task metrics per job group, from the
    SparkContext status store, plus Python-worker SQL metrics from the SQL
    status store.  Times in the ``jobs`` list are epoch seconds."""
    groups = set(groups)
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "stages": 0, "tasks": 0, "exec_run_s": 0.0, "exec_cpu_s": 0.0,
        "gc_s": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        "python_total_s": 0.0, "python_boot_s": 0.0, "bytes_to_python": 0, "intervals": []})
    job_group: dict[int, str] = {}
    seen_stages: set[int] = set()
    for i in range(jobs.size()):
        job = jobs.apply(i)
        group = job.jobGroup()
        group = group.get() if group.isDefined() else None
        if group not in groups:
            continue
        rec = out[group]
        job_group[job.jobId()] = group
        rec["jobs"] += 1
        start, end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
        if start is not None and end is not None:
            rec["intervals"].append((start, end))
        stage_ids = job.stageIds()
        for k in range(stage_ids.size()):
            sid = stage_ids.apply(k)
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            attempts = store.stageData(sid, False, None, False, None)
            for a in range(attempts.size()):
                st = attempts.apply(a)
                if st.numCompleteTasks() == 0 and st.numFailedTasks() == 0:
                    continue  # skipped stage (shuffle output reused)
                rec["stages"] += 1
                rec["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                rec["exec_run_s"] += st.executorRunTime() / 1e3
                rec["exec_cpu_s"] += st.executorCpuTime() / 1e9
                rec["gc_s"] += st.jvmGcTime() / 1e3
                rec["shuffle_read_bytes"] += st.shuffleReadBytes()
                rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = sql.executionsList()
    names = {"time to run Python workers": "python_total_s",
             "time to start Python workers": "python_boot_s",
             "data sent to Python workers": "bytes_to_python"}
    for i in range(execs.size()):
        ex = execs.apply(i)
        job_ids = ex.jobs().keySet().toSeq()
        group = next((job_group[job_ids.apply(k)] for k in range(job_ids.size())
                      if job_ids.apply(k) in job_group), None)
        if group is None:
            continue
        values = sql.executionMetrics(ex.executionId())
        metrics = ex.metrics()
        seen: set[int] = set()
        for k in range(metrics.size()):
            m = metrics.apply(k)
            key = names.get(m.name())
            if key is None or m.accumulatorId() in seen:
                continue
            seen.add(m.accumulatorId())
            v = values.get(m.accumulatorId())
            if v.isDefined():
                out[group][key] += parse_metric(v.get())
    return dict(out)


def busy_seconds(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
