"""End-to-end Structured Streaming execution — engine extension (SURVEY §2.C).

The reference has no streaming subsystem; this module is the engine's
streaming surface over the driver's ``events`` shape, exercised for real
(``readStream`` → stateful transform → sink), not just as batch
twins:

* :func:`read_events_stream` — file-source stream over the events parquet
  (TIMESTAMP(NANOS) handled the same way as ``registry.load``);
* :func:`sessionize_stream` — **custom stateful operator** via
  ``applyInPandasWithState`` (gap-based sessions, event-time timeout) — the
  pattern for operators Spark's built-ins can't express;
* :func:`tumbling_stream` — watermarked tumbling window in append mode;
* :func:`run_to_memory` — drive any streaming frame with
  ``trigger(availableNow=True)`` into a memory sink and hand back the
  result as a batch DataFrame;
* :func:`_drain` — the one start/await/stop routine behind
  :func:`run_to_memory` and every ``foreachBatch`` helper.

Sessions: the readers build each stream in a new session of the caller's
context whose shuffle width is sized to the source
(:func:`_stream_session`) — a stream binds its state-partition count from
the session it starts in.  No function here writes the caller's conf or
leaves a temp view behind, so one session can serve concurrent callers.

Determinism contract (what the oracles encode): with ``availableNow`` over
one parquet file the data arrives as a single micro-batch, then Spark runs
a final no-data micro-batch (``noDataMicroBatches`` default on) that
advances the watermark to ``max(ts) - delay``.  Append-mode windows emit
iff ``window_end <= watermark``; sessions held in state emit via event-time
timeout iff ``session_end + gap <= watermark``.  Both cutoffs are plain SQL
over the same data, so even the streaming path is value-hash-checked
against DuckDB (see queries/streaming.py).

Scale: the memory sink is for the correctness gate only — production
streams write to files/Kafka with the identical plan.  State size is
O(open sessions) = O(active users), hash-partitioned by user_id across
executors; the file source at 100 TB shards by file (maxFilesPerTrigger)
so no single batch must fit in memory.
"""

from __future__ import annotations

import itertools
from typing import Iterable, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_stream_names = itertools.count()

# gap/delay used by the gate queries (odd delay avoids watermark boundary
# ties with second-granularity event times)
SESSION_GAP_SEC = 1800
WATERMARK_SEC = 600


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet, in a session of its own
    (:func:`_stream_session`).

    Mirrors registry.load's TIMESTAMP(NANOS) handling: the schema pinned
    from the footer reads ``ts`` as long nanos, converted to micros
    timestamps.
    """
    import os

    from dataclod_spark.registry import parquet_schema

    path = f"{sf_dir}/events.parquet"
    schema = parquet_schema(spark, path) or spark.read.parquet(path).schema
    try:
        # a directory-shaped parquet table: os.path.getsize would read the
        # directory inode (~4 KB) and clamp the width to the floor
        size = (
            sum(
                e.stat().st_size
                for e in os.scandir(path)
                if e.is_file() and e.name.endswith(".parquet")
            )
            if os.path.isdir(path)
            else os.path.getsize(path)
        )
    except OSError:
        size = None
    # the file source wants a directory; glob-filter to the events file
    df = (
        _stream_session(spark, size)
        .readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return _events_ts_to_timestamp(df)


def _events_ts_to_timestamp(df: DataFrame) -> DataFrame:
    """Normalize the parquet ``ts`` column to a streaming-safe TIMESTAMP,
    whichever type the file gives it, without reading the session zone."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # TIMESTAMP(NANOS), pinned as long nanos
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # a naive (not UTC-adjusted) micros column reads as TIMESTAMP_NTZ,
        # which withWatermark rejects.  Its wall clock is UTC, and
        # timestamp_diff measures TIMESTAMP_NTZ in UTC: the epoch micros
        # come out the same in any session zone.  A round trip through the
        # session zone's wall clock would misplace the hour a DST change
        # repeats.
        epoch = F.expr("TIMESTAMP_NTZ'1970-01-01 00:00:00'")
        df = df.withColumn(
            "ts", F.timestamp_micros(F.timestamp_diff("MICROSECOND", epoch, F.col("ts")))
        )
    return df


_STREAM_TARGET_BYTES = 32 << 20  # ~32 MB of source per state partition


def _stream_width(caller_width: int, slots: int, n_bytes: int | None) -> int:
    """Shuffle/state-partition width for a bounded stream of ``n_bytes``.

    Every stateful operator (stream-stream join, window agg,
    dropDuplicates, applyInPandasWithState) creates one state store PER
    SHUFFLE PARTITION, and each store pays per-micro-batch snapshot/
    delta/commit I/O regardless of rows.  Width = ceil(bytes / 32 MB),
    floored at the task-slot count and capped at the caller's width: below
    the slot count cores idle in the Python state functions, above it each
    batch adds waves of state-store commits (4 cores, sf0.1, drain + count
    at widths 2 / 4 / 32: st1 6.65 / 4.50 / 15.48 s, st7 3.58 / 2.09 /
    5.40 s).  Production-sized sources, and sources of unknown size, keep
    the caller's width."""
    import math

    if n_bytes is None:
        return caller_width
    return min(caller_width, max(slots, math.ceil(n_bytes / _STREAM_TARGET_BYTES)))


def _stream_session(spark: SparkSession, n_bytes: int | None) -> SparkSession:
    """A new session of ``spark``'s context for one stream, its
    ``spark.sql.shuffle.partitions`` set by :func:`_stream_width`.

    A stream binds its state-partition count from the session it starts
    in, so the width goes on a session of its own and the caller's conf is
    never written.  The new session starts from the builder conf, not the
    caller's runtime conf, hence the caller's width is copied explicitly;
    nothing in this module reads the session time zone."""
    width = _stream_width(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
        n_bytes,
    )
    session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", str(width))
    return session


def _stage_multibatch(
    spark: SparkSession,
    src_path: str,
    stage_dir: str,
    key_col: str,
    n_files: int,
    pred_sql: str | None = None,
) -> DataFrame:
    """Stage a parquet table into ``n_files`` files hash-partitioned by
    ``key_col`` and read them back with ``maxFilesPerTrigger=1``, so
    availableNow runs ``n_files`` micro-batches.  Hash partitioning
    scatters related rows across batches in non-time order — the arrival
    pattern that exercises cross-batch state carry-over and out-of-order
    guards for real (single-file sources collapse to one batch and prove
    neither).  Shared by the events and documents multibatch readers; the
    stream runs in a session of its own (:func:`_stream_session`)."""
    import os

    from dataclod_spark.registry import parquet_schema, read_parquet

    src = read_parquet(spark, src_path)
    if pred_sql is not None:
        src = src.where(pred_sql)
    src.repartition(n_files, key_col).write.mode("overwrite").parquet(stage_dir)
    parts = sorted(
        e.path for e in os.scandir(stage_dir) if e.is_file() and e.name.endswith(".parquet")
    )
    # the part files of one write share its schema: pin it from one footer
    schema = (parts and parquet_schema(spark, parts[0])) or spark.read.parquet(stage_dir).schema
    return (
        _stream_session(spark, sum(os.path.getsize(p) for p in parts))
        .readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage_dir)
    )


def read_events_stream_multibatch(
    spark: SparkSession, sf_dir: str, stage_dir: str, n_files: int = 3
) -> DataFrame:
    """Events as a MULTI-micro-batch stream (see :func:`_stage_multibatch`;
    each user's events land in different batches out of time order)."""
    df = _stage_multibatch(
        spark, f"{sf_dir}/events.parquet", stage_dir, "event_id", n_files
    )
    return _events_ts_to_timestamp(df)


def sessionize_stream(
    events: DataFrame,
    gap_sec: int = SESSION_GAP_SEC,
    watermark_sec: int = WATERMARK_SEC,
) -> DataFrame:
    """Gap-based sessionization as a custom stateful streaming operator.

    ``applyInPandasWithState`` keeps one open session per user in state;
    events extend it or close it (gap exceeded) and closed sessions are
    appended downstream.  The open session registers an event-time timeout
    at ``last_event + gap`` — when the watermark passes it, the session is
    final and flushes.  Epoch-second outputs keep the comparison
    timezone-free.

    Out-of-order events (cross-batch, above the watermark) that precede
    the open session merge into it when within the gap (extending
    ``session_start`` downward) or emit as their own earlier session(s)
    otherwise; an emitted backfill session could in principle still have
    merged with yet-earlier future events — the same watermark trade-off
    every single-pass sessionizer makes.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_sec * 1_000_000

    def fn(
        key: Tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        user_id = key[0]
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [start // 1_000_000],
                    "session_end": [last // 1_000_000],
                    "n_events": [n],
                }
            )
            return
        ts = pd.concat([p["ts_us"] for p in pdfs]).sort_values().to_numpy()
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = int(ts[0]), int(ts[0]), 0
        out_start, out_end, out_n = [], [], []

        def emit(s: int, e: int, k: int) -> None:
            out_start.append(s // 1_000_000)
            out_end.append(e // 1_000_000)
            out_n.append(k)

        # Out-of-order events from a LATER micro-batch can precede the
        # open session.  Events within gap of session_start merge in
        # (extending session_start downward — batch semantics); events
        # more than a gap earlier form their own EARLIER session(s),
        # sessionized among themselves and emitted (or chained into the
        # open session when the chain reaches within gap of it).  The old
        # folding counted them into the open session without touching its
        # bounds — an internally inconsistent row.
        early = [int(t) for t in ts if n and int(t) < start - gap_us]
        rest = [int(t) for t in ts if not (n and int(t) < start - gap_us)]
        if early:
            e_start = e_last = early[0]
            e_n = 1
            for t in early[1:]:
                if t - e_last > gap_us:
                    emit(e_start, e_last, e_n)
                    e_start = e_last = t
                    e_n = 1
                else:
                    e_last = t
                    e_n += 1
            if start - e_last <= gap_us:
                start, n = e_start, n + e_n  # chain merges into the open one
            else:
                emit(e_start, e_last, e_n)
        for t in rest:
            if n and t - last > gap_us:
                emit(start, last, n)
                start, last, n = t, t, 1
            else:
                n += 1
                if n == 1:
                    start = last = t
                else:
                    start = min(start, t)
                    last = max(last, t)
        state.update((start, last, n))
        # event-time timeout: fires when watermark > last + gap
        state.setTimeoutTimestamp((last + gap_us) // 1000)
        if out_n:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out_n),
                    "session_start": out_start,
                    "session_end": out_end,
                    "n_events": out_n,
                }
            )

    src = (
        events.withWatermark("ts", f"{watermark_sec} seconds")
        .select("user_id", "ts", F.unix_micros("ts").alias("ts_us"))
    )
    return src.groupBy("user_id").applyInPandasWithState(
        fn,
        "user_id bigint, session_start bigint, session_end bigint, n_events bigint",
        "start bigint, last bigint, n bigint",
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def tumbling_stream(
    events: DataFrame,
    window: str = "1 hour",
    watermark_sec: int = WATERMARK_SEC,
) -> DataFrame:
    """Watermarked tumbling-window count/sum in append mode (only finalized
    windows are emitted).  A tumbling window IS the slide == window special
    case — delegate so the agg/rounding discipline lives once."""
    return sliding_stream(events, window, window, watermark_sec)


def sliding_stream(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark_sec: int = WATERMARK_SEC,
) -> DataFrame:
    """Watermarked sliding-window count/sum in append mode — each event
    lands in window/slide overlapping windows; only watermark-finalized
    windows emit.  Same plan shape as tumbling (stateful agg keyed by
    window×type); state size is bounded by watermark eviction."""
    return (
        events.withWatermark("ts", f"{watermark_sec} seconds")
        .groupBy(F.window("ts", window, slide).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2).alias(
                "total_value"
            ),
        )
        .select(
            F.unix_timestamp(F.col("win.start")).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def interval_join_stream(
    events: DataFrame,
    lookback_sec: int = 600,
    watermark_sec: int = WATERMARK_SEC,
) -> DataFrame:
    """Stream-stream interval join: each purchase joins the same user's
    clicks in the preceding ``lookback_sec``.  Both sides carry watermarks
    and the join condition bounds event-time distance, so state on each
    side is evicted once the watermark passes the interval — the canonical
    bounded-state stream-stream join.  Inner-join matches emit as soon as
    both rows have arrived (emission is not watermark-gated), so with
    availableNow over one file the result equals the batch interval join.
    """
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", f"{watermark_sec} seconds")
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", f"{watermark_sec} seconds")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback_sec} SECONDS")),
        "inner",
    )
    return joined.select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        F.unix_timestamp("p_ts").alias("purchase_sec"),
        F.unix_timestamp("c_ts").alias("click_sec"),
    )


def asof_join_stream(
    events: DataFrame,
    lookback_sec: int = 600,
) -> DataFrame:
    """Streaming as-of join as a custom stateful operator: each purchase
    is annotated with the same user's most recent click at-or-before it
    (within ``lookback_sec``), maintained in ``applyInPandasWithState``
    state — the streaming twin of :func:`operators.asof_join.asof_join`.

    State per user is ONE row (ts/id/value of the latest click) — compare
    the interval join, whose state holds every click in the watermark
    horizon.  Within a micro-batch rows are processed in
    ``(ts, kind, event_id)`` order with clicks sorting before purchases at
    equal timestamps (at-or-before is inclusive) and the max event_id
    winning ties — the same deterministic contract as the batch operator,
    so with ``availableNow`` over one file the result equals the batch
    as-of join and the oracle is a plain LATERAL SQL.  In a live stream,
    emission is per-batch (no watermark gate: a purchase's match lies in
    its past); cross-batch late clicks are the watermark trade-off and
    production pipelines would hold purchases for the watermark delay
    before emitting.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    lookback_us = lookback_sec * 1_000_000

    def fn(
        key: Tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        user_id = key[0]
        batch = pd.concat(list(pdfs), ignore_index=True)
        # clicks (kind 0) before purchases (kind 1) at equal timestamps
        batch = batch.sort_values(["ts_us", "kind", "event_id"])
        if state.exists:
            c_ts, c_id, c_val = state.get
        else:
            c_ts, c_id, c_val = -1, -1, float("nan")
        out = {k: [] for k in ("purchase_id", "purchase_us", "click_id", "click_us", "click_value")}
        for ts_us, kind, event_id, value in zip(
            batch["ts_us"], batch["kind"], batch["event_id"], batch["value"]
        ):
            if kind == 0:
                # monotone state: an out-of-order click from a LATER
                # micro-batch must not regress the "latest click" — only a
                # newer click (or same-ts higher event_id, the batch
                # operator's tie rule) replaces the state
                if int(ts_us) > c_ts or (int(ts_us) == c_ts and int(event_id) > c_id):
                    c_ts, c_id, c_val = int(ts_us), int(event_id), float(value)
            else:
                # lower bound matters in a live stream: a click with a LARGER
                # event time can land in an earlier micro-batch (out-of-order
                # arrival) and must not annotate an older purchase — the as-of
                # contract is at-or-BEFORE, so the delta must be non-negative
                hit = c_ts >= 0 and 0 <= int(ts_us) - c_ts <= lookback_us
                out["purchase_id"].append(int(event_id))
                out["purchase_us"].append(int(ts_us))
                out["click_id"].append(c_id if hit else None)
                out["click_us"].append(c_ts if hit else None)
                out["click_value"].append(c_val if hit else None)
        if c_ts >= 0:
            state.update((c_ts, c_id, c_val))
        if out["purchase_id"]:
            yield pd.DataFrame({"user_id": [user_id] * len(out["purchase_id"]), **out})

    src = events.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "event_id",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(F.lit(0)).alias("kind"),
    )
    return src.groupBy("user_id").applyInPandasWithState(
        fn,
        "user_id bigint, purchase_id bigint, purchase_us bigint, "
        "click_id bigint, click_us bigint, click_value double",
        "c_ts bigint, c_id bigint, c_val double",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def _drain(
    stream: DataFrame,
    timeout_sec: int,
    out_dir: str | None = None,
    transform=None,
    each_batch=None,
) -> DataFrame | None:
    """Run a bounded stream to completion with ``trigger(availableNow=True)``
    — the module's one start/await/stop.

    A drain still running after ``timeout_sec`` is stopped and raises
    ``TimeoutError``: a truncated drain (missing later micro-batches) would
    flow on as silently wrong rows, and the multibatch gates depend on
    every batch having run.  The sink is one of:

    * memory (no ``out_dir``): returns the rows as a batch frame of the
      stream's session.  The sink's temp view is dropped on every exit —
      the returned frame's analyzed plan already holds the rows, and a
      timed-out drain leaves no partial view behind;
    * ``transform``: ``foreachBatch`` writes ``transform(batch_df)`` to
      ``<out_dir>/batches/batch_id=<n>``, overwriting, so a crash-replayed
      batch rewrites itself instead of appending duplicates.  Returns the
      union with ``batch_id`` dropped (a partition-discovery column of the
      sink layout, not a label: the same rows under another batching carry
      other ids).  Zero micro-batches (an empty source) write no
      directory; then the result is ``transform`` of an empty typed frame;
    * ``each_batch``: a plain ``foreachBatch`` function; returns None.

    Both ``foreachBatch`` forms checkpoint to ``<out_dir>/_ckpt``.
    """
    import os

    spark = stream.sparkSession
    name = f"__stream_result_{next(_stream_names)}"
    writer = stream.writeStream.queryName(name).trigger(availableNow=True)
    if out_dir is None:
        writer = writer.format("memory").outputMode("append")
    else:
        res_dir = os.path.join(out_dir, "batches")
        if transform is not None:

            def each_batch(batch_df: DataFrame, batch_id: int) -> None:
                transform(batch_df).write.mode("overwrite").parquet(
                    os.path.join(res_dir, f"batch_id={batch_id}")
                )

        writer = writer.foreachBatch(each_batch).option(
            "checkpointLocation", os.path.join(out_dir, "_ckpt")
        )
    q = writer.start()
    try:
        if not q.awaitTermination(timeout_sec):
            raise TimeoutError(
                f"streaming query {name} did not finish within {timeout_sec}s"
            )
        if out_dir is None:
            return spark.table(name)
    finally:
        if q.isActive:
            q.stop()
        if out_dir is None:
            spark.catalog.dropTempView(name)
    if transform is None:
        return None
    if not os.path.exists(res_dir):
        return transform(spark.createDataFrame([], stream.schema))
    return spark.read.parquet(res_dir).drop("batch_id")


def run_to_memory(df: DataFrame, timeout_sec: int = 300) -> DataFrame:
    """Execute a streaming frame to completion (availableNow) into a memory
    sink; returns the sink contents as a batch DataFrame of the stream's
    session (see :func:`_drain`).  The stream runs at the width of the
    session it was read in — the readers give each stream a session of its
    own — so nothing here touches any session's conf."""
    return _drain(df, timeout_sec)


def static_enrich_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: each micro-batch inner-joins the
    (broadcastable) static dimension — no state, no watermark; the static
    side is re-resolvable per batch (Spark re-reads changed static sources).
    The canonical 100 TB shape: stream shuffles nothing, the dim broadcasts.
    """
    from pyspark.sql import functions as F

    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value"
    )
    return purchases.join(F.broadcast(dim), purchases["user_id"] == dim["c_custkey"])


def _space_saving_update(
    summary: dict, heap: list, u: int, capacity: int
) -> None:
    """One space-saving increment over ``summary`` (user → [count, err]).

    ``heap`` is a lazy-deletion min-heap of (count, user) snapshots: every
    increment pushes the fresh snapshot and stale entries are discarded
    when they surface, so the saturated-state eviction is O(log n)
    amortized instead of a linear min() scan over the whole summary (the
    scan would make a high-cardinality micro-batch O(rows × capacity)).
    Eviction picks the (count, user)-smallest live entry — the same
    deterministic order the linear scan produced."""
    import heapq

    if u in summary:
        summary[u][0] += 1
        heapq.heappush(heap, (summary[u][0], u))
    elif len(summary) < capacity:
        summary[u] = [1, 0]
        heapq.heappush(heap, (1, u))
    else:
        while True:
            c, mu = heap[0]
            if mu in summary and summary[mu][0] == c:
                break
            heapq.heappop(heap)  # stale snapshot
        heapq.heappop(heap)
        del summary[mu]
        summary[u] = [c + 1, c]
        heapq.heappush(heap, (c + 1, u))


def heavy_hitters_stream(
    events: DataFrame,
    k: int = 3,
    capacity: int = 100_000,
) -> DataFrame:
    """Streaming heavy hitters (top-k users per event type) as a custom
    stateful operator: per-key **space-saving** summaries maintained in
    ``applyInPandasWithState`` state.

    State per event_type is at most ``capacity`` (user, count, err)
    entries.  While distinct users fit the capacity the counts are exact;
    under pressure the classic space-saving eviction applies — the
    minimum-count entry is replaced and the newcomer inherits its count
    as overestimation error (Metwally et al.'s guarantee: any user with
    true frequency > N/capacity is retained).  Production picks
    ``capacity`` from the memory budget; the oracle-gated query uses a
    capacity far above the driver data's cardinality so the stream
    reproduces the exact batch top-k.

    After each micro-batch the current top-k emits with a ``batch_seq``
    stamp (append sinks can't retract earlier snapshots; consumers read
    the latest stamp — with availableNow over one file there is exactly
    one).  Ranks break ties by (count desc, user_id asc)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(
        key: Tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        import heapq

        event_type = key[0]
        if state.exists:
            users, counts, errs, seq = state.get
            summary = {u: [c, e] for u, c, e in zip(users, counts, errs)}
            heap = [(c, u) for u, c in zip(users, counts)]
            heapq.heapify(heap)
        else:
            summary, heap, seq = {}, [], 0
        for pdf in pdfs:
            for u in pdf["user_id"]:
                _space_saving_update(summary, heap, int(u), capacity)
        top = sorted(summary.items(), key=lambda kv: (-kv[1][0], kv[0]))[:k]
        state.update((
            [u for u, _ in summary.items()],
            [c for c, _ in summary.values()],
            [e for _, e in summary.values()],
            seq + 1,
        ))
        if top:
            yield pd.DataFrame(
                {
                    "event_type": [event_type] * len(top),
                    "user_id": [u for u, _ in top],
                    "cnt": [c for _, (c, _e) in top],
                    "max_err": [e for _, (_c, e) in top],
                    "rank": list(range(1, len(top) + 1)),
                    "batch_seq": [seq] * len(top),
                }
            )

    src = events.select("event_type", "user_id")
    return src.groupBy("event_type").applyInPandasWithState(
        fn,
        "event_type string, user_id bigint, cnt bigint, max_err bigint, "
        "rank int, batch_seq int",
        "users array<bigint>, counts array<bigint>, errs array<bigint>, seq int",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def streaming_cdc_apply(
    spark: SparkSession,
    events: DataFrame,
    snapshot_dir: str,
    timeout_sec: int = 300,
) -> DataFrame:
    """Streaming MERGE INTO: maintain a per-user snapshot table from an
    event stream via ``foreachBatch`` + :func:`operators.cdc.apply_changes`
    — the Delta/Iceberg streaming-upsert pattern without the table format.

    Per micro-batch: events become changes (signup → insert,
    error → delete, click/view/purchase → upsert), deduped to the highest
    ``(ts, event_id)`` sequence per user and **filtered against the
    snapshot's stored sequence** so a stale change arriving in a later
    micro-batch (out-of-order delivery) can never overwrite newer state.
    Deletes are kept as **tombstones** (``__deleted`` rows carrying their
    sequence) rather than physically dropped — otherwise a stale change
    arriving after a delete would find no sequence to compare against and
    resurrect the user (table formats retain delete markers for the same
    reason; production compacts them after the out-of-orderness horizon).
    Each version swap is idempotent (a re-executed micro-batch after a
    crash overwrites its own version directory) and atomic (symlink
    pointer swap).

    The live rows of the final snapshot therefore equal "the
    globally-latest change per user wins" regardless of how the stream is
    chopped into batches — which is exactly the batch SQL the oracle
    runs.  At scale the snapshot write becomes a real MERGE into a table
    format; the change derivation, tombstones, and ordering guard are
    identical.  Returns the LIVE rows; an empty stream yields an empty
    snapshot.
    """
    import os
    import shutil

    from dataclod_spark.operators.cdc import apply_changes

    snap_schema = (
        "user_id bigint, last_value double, "
        "__seq struct<ts_us:bigint,event_id:bigint>, __deleted boolean"
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # ordering key as a STRUCT — (ts_us << k) + event_id arithmetic
        # overflows int64; struct comparison is lexicographic and safe
        seq = F.struct(
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            F.col("event_id").alias("event_id"),
        )
        # every change is an upsert of (payload, seq, deleted-flag): deletes
        # become tombstone rows so their sequence survives for the guard
        changes = batch_df.select(
            "user_id",
            F.when(F.col("event_type") == "error", F.lit(None).cast("double"))
            .otherwise(F.col("value"))
            .alias("last_value"),
            seq.alias("__seq"),
            (F.col("event_type") == "error").alias("__deleted"),
            F.lit("U").alias("op"),
        )
        cur = os.path.join(snapshot_dir, "current")
        if os.path.exists(cur):
            base = spark.read.parquet(cur)
            # ordering guard: drop changes older than the snapshot row
            # (including tombstones — a delete blocks staler updates)
            prior = base.select("user_id", F.col("__seq").alias("__base_seq"))
            changes = (
                changes.join(prior, "user_id", "left")
                .filter(F.col("__base_seq").isNull() | (F.col("__seq") > F.col("__base_seq")))
                .drop("__base_seq")
            )
        else:
            base = spark.createDataFrame([], snap_schema)
        new = apply_changes(base, changes, "user_id", "op", seq_col="__seq")
        staged = os.path.join(snapshot_dir, f"stage_{batch_id}")
        new.write.mode("overwrite").parquet(staged)
        # every attempt gets a FRESH version dir: a re-executed micro-batch
        # (crash between pointer swap and checkpoint commit) must never
        # delete or overwrite the directory `current` still points to —
        # the old version is removed only AFTER the swap succeeds
        import uuid

        nxt = os.path.join(snapshot_dir, f"v{batch_id}_{uuid.uuid4().hex[:8]}")
        os.rename(staged, nxt)
        old = os.readlink(cur) if os.path.islink(cur) else None
        tmp_link = os.path.join(snapshot_dir, "_lnk")
        if os.path.lexists(tmp_link):
            os.remove(tmp_link)
        os.symlink(nxt, tmp_link)
        os.replace(tmp_link, cur)  # atomic pointer swap
        if old and old != nxt and os.path.exists(old):
            shutil.rmtree(old, ignore_errors=True)

    _drain(events, timeout_sec, snapshot_dir, each_batch=apply_batch)
    cur = os.path.join(snapshot_dir, "current")
    if not os.path.exists(cur):  # zero micro-batches ran
        return spark.createDataFrame([], snap_schema).filter(~F.col("__deleted"))
    return spark.read.parquet(cur).filter(~F.col("__deleted"))


def read_documents_stream_multibatch(
    spark: SparkSession,
    sf_dir: str,
    stage_dir: str,
    n_files: int = 3,
    pred_sql: str = "doc_id % 3 = 0",
) -> DataFrame:
    """The new-crawl delta (``pred_sql`` rows of ``documents``) as a
    MULTI-micro-batch stream (see :func:`_stage_multibatch`)."""
    return _stage_multibatch(
        spark, f"{sf_dir}/documents.parquet", stage_dir, "doc_id", n_files, pred_sql
    )


def _spread_batch(batch_df: DataFrame) -> DataFrame:
    """Round-robin a micro-batch to the session's core count before
    compute-heavy narrow transforms: a ``maxFilesPerTrigger=1`` batch
    arrives as a SINGLE partition, so the per-batch gram/token/span
    explodes otherwise run on one core — the unsplittable-scan finding
    applied inside ``foreachBatch``.  Applied only where the per-batch
    transform measured a clear win (st17's gram join 7.9 -> 3.9 s, st12's
    dedup screen ~2 s); light per-batch transforms (dsir score, token
    buckets, quality grid, span positions) measured wash-to-loss from the
    extra exchange and stay narrow.  An already-wide batch (a production
    trigger covering many files) passes through untouched, so this only
    fires when the batch is demonstrably narrower than the session (a
    micro-batch has no footers to read, unlike the spatial join's spread,
    so this counts its partitions).  Per-id exact
    aggregates downstream make the result partitioning-invariant."""
    sc = batch_df.sparkSession.sparkContext
    try:
        if batch_df.rdd.getNumPartitions() >= sc.defaultParallelism:
            return batch_df
    except Exception:
        return batch_df
    return batch_df.repartition(sc.defaultParallelism)


def streaming_incremental_dedup(
    docs_stream: DataFrame,
    snapshot: DataFrame,
    out_dir: str,
    jaccard_threshold: float = 0.5,
    timeout_sec: int = 300,
) -> DataFrame:
    """Screen a stream of new documents against a STATIC corpus snapshot —
    the streaming face of :func:`operators.dedup.incremental_dedup`, and
    how a continuously-ingesting pipeline actually runs the crawl-refresh
    dedup: the snapshot index (fingerprints, LSH bands, shingles) is built
    ONCE, every micro-batch screens against it via ``foreachBatch``.

    Each batch's labels depend only on the batch's own rows and the static
    index, so the drained output is batching-invariant and equals the
    batch operator on the union of all batches — which is what the st12
    oracle checks across 3 hash-scattered micro-batches.

    Idempotent per micro-batch: each batch OVERWRITES its own
    ``batch_id=<n>`` partition directory (:func:`_drain`), so a
    crash-replayed batch rewrites itself instead of appending duplicates
    (same recovery contract as streaming_cdc_apply's version swap).  At
    scale the sink becomes a real table-format MERGE/append; the index
    lives as parquet next to the corpus and is refreshed when the snapshot
    compacts the accepted deltas in.
    """
    from dataclod_spark.operators.dedup import build_dedup_index, incremental_dedup

    index = build_dedup_index(snapshot)

    def screen(batch_df: DataFrame) -> DataFrame:
        return incremental_dedup(
            _spread_batch(batch_df), index=index, jaccard_threshold=jaccard_threshold
        )

    return _drain(docs_stream, timeout_sec, out_dir, transform=screen)


def streaming_media_dedup(
    media_stream: DataFrame,
    snapshot: DataFrame,
    out_dir: str,
    content_col: str = "content",
    timeout_sec: int = 300,
) -> DataFrame:
    """Screen a stream of new media blobs against a STATIC snapshot's
    content digests — the streaming face of
    :func:`operators.multimodal.media_dedup`'s cross-snapshot use
    (ingest-time exact dedup BEFORE the codec): the snapshot digest set
    is computed once (distinct md5, checkpointed), every micro-batch
    joins its own digests against it via ``foreachBatch`` and writes an
    idempotent ``batch_id=<n>`` partition (the st12 recovery contract).
    Labels depend only on the batch's rows + the static digest set, so
    the drained output is batching-invariant and equals the batch
    formulation on the union of batches."""
    from pyspark.sql import functions as F

    digests = (
        snapshot.select(F.md5(F.col(content_col)).alias("__dg"))
        .distinct()
        .withColumn("__hit", F.lit(1))
        .localCheckpoint(eager=True)
    )

    def _label(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.withColumn("digest", F.md5(F.col(content_col)))
            .join(digests, F.col("digest") == F.col("__dg"), "left")
            .withColumn("is_duplicate", F.col("__hit").isNotNull())
            .drop("__dg", "__hit")
        )

    return _drain(media_stream, timeout_sec, out_dir, transform=_label)


def streaming_dsir_score(
    docs_stream: DataFrame,
    snapshot: DataFrame,
    out_dir: str,
    text_col: str = "text",
    target=None,
    n_buckets: int = 256,
    timeout_sec: int = 300,
) -> DataFrame:
    """Score a stream of new documents against a STATIC DSIR weight
    table — the streaming face of
    :func:`operators.sampling.dsir_weights`, and how data selection
    actually deploys: the hashed-unigram weight table is trained ONCE on
    the reference snapshot (one aggregate, ``n_buckets`` rows,
    checkpointed), every ingest micro-batch scores its own rows against
    it via ``foreachBatch`` and writes an idempotent
    ``batch_id=<n>`` partition (the st12 recovery contract).  Scores
    depend only on the batch's rows + the static table, so the drained
    output is batching-invariant and equals the batch scorer on the
    union of batches.

    ``target`` is the boolean Column marking the target-domain snapshot
    rows, passed through to the trainer (same contract and same
    ``lang = 'en'`` default as the batch-side
    :func:`~dataclod_spark.operators.sampling.dsir_weights` API —
    callers whose snapshot has no ``lang`` column must supply one)."""
    from dataclod_spark.operators.sampling import dsir_bucket_weights, dsir_score

    wtab = dsir_bucket_weights(
        snapshot, text_col=text_col, target=target, n_buckets=n_buckets
    ).localCheckpoint(eager=True)

    def score(batch_df: DataFrame) -> DataFrame:
        return dsir_score(batch_df, wtab, text_col=text_col, n_buckets=n_buckets)

    return _drain(docs_stream, timeout_sec, out_dir, transform=score)


def streaming_weighted_topk(
    spark: SparkSession,
    docs_stream: DataFrame,
    out_dir: str,
    key: str = "doc_id",
    weight_col: "Column | str | None" = None,
    k: int = 100,
    timeout_sec: int = 300,
) -> DataFrame:
    """Maintain the global Efraimidis-Spirakis weighted top-k ACROSS
    micro-batches — the streaming face of
    :func:`operators.sampling.weighted_sample`, and how "keep the best k
    sample candidates while the crawl is still arriving" actually runs.

    Top-k under a deterministic total order is an idempotent merge:
    ``topk(A ∪ B) = topk(topk(A) ∪ topk(B))``, so the state after batch
    n is ``state_n = topk(state_{n-1} ∪ topk(batch_n))`` — bounded at k
    rows forever, and REPLAY-SAFE: re-running batch n rebuilds state_n
    byte-identically from state_{n-1} (each batch writes its own
    ``b<n>`` state directory, never mutating its input — the st12
    idempotent-partition contract applied to state instead of output).
    Because the E-S score is a pure deterministic projection, the
    drained state equals the batch operator on the union of all batches,
    whatever the batching.  Assumes the dense 0..n batch ids of a
    file/availableNow source (documented st12 caveat)."""
    import os

    from dataclod_spark.operators.sampling import weighted_sample

    if weight_col is None:
        # keyword-only in spirit: a None weight column would raise an
        # opaque AttributeError deep inside weighted_sample's first batch
        raise ValueError(
            "streaming_weighted_topk: weight_col is required (the "
            "Efraimidis-Spirakis key is weight-derived; there is no "
            "unweighted default)"
        )
    if isinstance(weight_col, str):
        # the signature advertises a column NAME; weighted_sample needs a
        # Column (it calls .isNotNull()/.cast on it) — wrap here so the
        # advertised type actually works instead of AttributeError'ing
        # inside the first micro-batch
        weight_col = F.col(weight_col)
    state_root = os.path.join(out_dir, "topk_state")
    last = {"id": -1}

    def upd(batch_df: DataFrame, batch_id: int) -> None:
        cand = weighted_sample(batch_df, key, weight_col, k)
        if batch_id > 0:
            prev = spark.read.parquet(os.path.join(state_root, f"b{batch_id - 1}"))
            cand = prev.unionByName(cand)
        merged = cand.orderBy(F.col("es_key").desc(), F.col(key)).limit(k)
        merged.write.mode("overwrite").parquet(
            os.path.join(state_root, f"b{batch_id}")
        )
        last["id"] = max(last["id"], batch_id)

    _drain(docs_stream, timeout_sec, out_dir, each_batch=upd)
    if last["id"] < 0:
        raise ValueError("streaming weighted top-k saw no micro-batches")
    return spark.read.parquet(os.path.join(state_root, f"b{last['id']}"))


def streaming_source_drift(
    spark: SparkSession,
    docs_stream: DataFrame,
    out_dir: str,
    text_col: str = "text",
    group_col: str = "source",
    n_buckets: int = 64,
    timeout_sec: int = 300,
) -> DataFrame:
    """Maintain the per-source drift monitor ACROSS micro-batches — the
    streaming face of :func:`operators.sampling.source_drift`, and how a
    crawl-ingest pipeline actually watches its feeds: the bounded
    (source × bucket) profile state accumulates while batches arrive,
    and the JS report is a pure finalizer over it at any point.

    The profile is ADDITIVE (counts of disjoint slices merge by
    summation — an associative, commutative merge), so the state after
    batch n is ``state_n = sum_merge(state_{n-1}, profile(batch_n))`` —
    bounded at |sources|·n_buckets rows forever, and REPLAY-SAFE: each
    batch writes its own ``b<n>`` state directory from its predecessor's
    (the st12 idempotent-partition contract applied to state), so
    re-running batch n rebuilds state_n byte-identically.  Because the
    merge is exact (no sketch), the drained report equals the batch
    operator on the union of all batches, whatever the batching.
    Assumes the dense 0..n batch ids of a file/availableNow source
    (documented st12 caveat)."""
    import os

    from dataclod_spark.operators.sampling import (
        drift_from_counts,
        source_bucket_counts,
    )

    state_root = os.path.join(out_dir, "drift_state")
    last = {"id": -1}

    def upd(batch_df: DataFrame, batch_id: int) -> None:
        prof = source_bucket_counts(
            batch_df, text_col=text_col, group_col=group_col, n_buckets=n_buckets
        )
        if batch_id > 0:
            prev = spark.read.parquet(os.path.join(state_root, f"b{batch_id - 1}"))
            prof = prev.unionByName(prof)
        merged = prof.groupBy("__g", "__b").agg(F.sum("__c").alias("__c"))
        merged.write.mode("overwrite").parquet(
            os.path.join(state_root, f"b{batch_id}")
        )
        last["id"] = max(last["id"], batch_id)

    _drain(docs_stream, timeout_sec, out_dir, each_batch=upd)
    if last["id"] < 0:
        raise ValueError("streaming source drift saw no micro-batches")
    state = spark.read.parquet(os.path.join(state_root, f"b{last['id']}"))
    return drift_from_counts(state, group_col=group_col, n_buckets=n_buckets)


def streaming_contamination(
    docs_stream: DataFrame,
    benchmark: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.05,
    timeout_sec: int = 300,
) -> DataFrame:
    """Decontamination AT INGEST — the streaming face of
    :func:`operators.dedup.contamination_check`, and where
    decontamination actually runs in production: the benchmark gram set
    is trained ONCE from the static ``benchmark`` snapshot (one distinct
    aggregate, checkpointed — a benchmark is small by definition; the
    batch operator's guarded shuffle fallback covers the degenerate
    case), and every arriving micro-batch scores its own rows against
    the broadcast set via ``foreachBatch``, writing an idempotent
    ``batch_id=<n>`` partition (the st12 recovery contract).  Scores
    depend only on the batch's rows + the static set, so the drained
    output is batching-invariant and equals the batch operator on the
    union of batches.

    Returns flagged rows: ``(id, n_grams, n_hits, contamination)`` at or
    above ``threshold`` (hits/distinct-grams as exact int-over-int)."""
    from dataclod_spark.operators.dedup import word_ngrams

    from dataclod_spark.functions.text import explode_nonnull

    # explode_nonnull (grams are concat_ws output, never null): a plain
    # explode's inferred pre-filter inlines the gram chain 2× per row —
    # in _flag below that tax would recur EVERY micro-batch
    bg = (
        explode_nonnull(benchmark, [], word_ngrams(F.col(text_col), n), "__g")
        .distinct()
        .withColumn("__b", F.lit(1))
        .localCheckpoint(eager=True)
    )

    def _flag(batch_df: DataFrame) -> DataFrame:
        ex = explode_nonnull(
            _spread_batch(batch_df),
            [F.col(id_col).alias("__id")],
            word_ngrams(F.col(text_col), n),
            "__g",
        )
        return (
            ex.join(F.broadcast(bg), "__g", "left")
            .groupBy("__id")
            .agg(
                F.count(F.lit(1)).alias("n_grams"),
                F.count("__b").alias("n_hits"),
            )
            .withColumn(
                "contamination",
                F.round(F.col("n_hits") / F.col("n_grams").cast("double"), 6),
            )
            .filter(F.col("n_hits") / F.col("n_grams").cast("double") >= threshold)
            .select(F.col("__id").alias(id_col), "n_grams", "n_hits", "contamination")
        )

    return _drain(docs_stream, timeout_sec, out_dir, transform=_flag)


def streaming_calibration(
    docs_stream: DataFrame,
    snapshot: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    group: str = "source",
    text_col: str = "text",
    n_buckets: int = 20,
    timeout_sec: int = 300,
) -> DataFrame:
    """Per-source percentile calibration AT INGEST — the streaming face
    of :func:`operators.quantiles.percentile_calibrate`, and how score
    normalization actually runs in production: the per-group EXACT
    quantile grid is fit ONCE from the static ``snapshot`` (the
    reference corpus; refit per crawl refresh), collapsed to
    |groups|×n_buckets rows and checkpointed, and every arriving
    micro-batch maps its quality scores onto the FROZEN grid via
    ``foreachBatch`` (broadcast join + per-row array filter — the batch
    operator's exact assignment shape), writing an idempotent
    ``batch_id=<n>`` partition (the st12 recovery contract).  Scoring
    depends only on the batch's rows + the static grid, so the drained
    output is batching-invariant and equals the batch operator's
    assignment against the same snapshot.

    Rows whose ``group`` value the snapshot never saw calibrate to NULL
    (an unseen source has no reference distribution — surfacing that is
    the correct behavior; production alerts on it and refits).

    Returns ``(id, group, quality, cal_bucket, calibrated)``."""
    from dataclod_spark.functions.text import quality_score
    from dataclod_spark.operators.quantiles import group_quantiles_exact

    qs = [i / n_buckets for i in range(1, n_buckets + 1)]
    snap_scored = snapshot.select(
        F.col(group), quality_score(F.col(text_col)).alias("__sc")
    )
    garr = (
        group_quantiles_exact(snap_scored, group, "__sc", qs)
        .groupBy(group)
        .agg(F.sort_array(F.collect_list("value")).alias("__grid"))
        .localCheckpoint(eager=True)
    )

    def _calibrate(batch_df: DataFrame) -> DataFrame:
        b = batch_df.withColumn("quality", quality_score(F.col(text_col)))
        j = b.join(F.broadcast(garr), group, "left")
        x = F.col("quality")
        bucket = F.when(
            x.isNotNull() & F.col("__grid").isNotNull(),
            F.size(F.filter(F.col("__grid"), lambda v: v <= x)),
        ).cast("int")
        return j.select(
            F.col(id_col),
            F.col(group),
            "quality",
            bucket.alias("cal_bucket"),
            F.round(bucket / F.lit(float(n_buckets)), 6).alias("calibrated"),
        )

    return _drain(docs_stream, timeout_sec, out_dir, transform=_calibrate)


def streaming_span_decontamination(
    docs_stream: DataFrame,
    benchmark: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_span: int = 8,
    max_doc_freq: int | None = 20,
    timeout_sec: int = 300,
) -> DataFrame:
    """Span-level decontamination AT INGEST — the streaming face of the
    x31 batch check (and the positional upgrade of
    :func:`streaming_contamination`'s gram ratio): every arriving
    document is checked for VERBATIM token runs shared with the static
    benchmark, with the span length as evidence.

    The benchmark's positional k-gram index is built ONCE and
    checkpointed.  The stop-hash guard trains on the BENCHMARK
    population alone — a stream is unbounded, so a corpus-wide document
    frequency is undefined at ingest; guarding the static side bounds
    every batch's join to ≤ ``max_doc_freq`` matches per hash, and a
    benchmark-side stop hash is exactly the boilerplate the check
    should ignore.  Each micro-batch joins its own positional hashes
    against the index, merges matched positions per (doc, benchmark
    doc, diagonal) into maximal runs (the d19 shape — window partitions
    bounded by the shorter document's k-gram count), rolls up per doc,
    and writes an idempotent ``batch_id=<n>`` partition (the st12
    contract).  Spans depend only on the batch's rows + the static
    index, so the drained output is batching-invariant.

    Returns flagged docs: ``(id, n_bench_docs, max_span_tokens)`` with
    a shared run of ≥ ``min_span`` tokens."""
    from pyspark.sql import Window

    from dataclod_spark.functions.text import _kgram_hashes_from, _token_values

    def _positions(df: DataFrame, out_id: str, out_pos: str) -> DataFrame:
        staged = df.select(
            F.col(id_col).alias(out_id),
            _token_values(F.col(text_col)).alias("__tv"),
        ).withColumn("__wh", _kgram_hashes_from(F.col("__tv"), k))
        # posexplode_nonnull: kills the inferred pre-filter that would
        # inline the tokenize→k-gram-hash chain 2× (per micro-batch on
        # the stream side)
        from dataclod_spark.functions.text import posexplode_nonnull

        return posexplode_nonnull(staged, [out_id], F.col("__wh"), out_pos, "__h")

    bench_pos = _positions(benchmark, "__bid", "__bpos")
    if max_doc_freq is not None:
        kept_h = (
            bench_pos.groupBy("__h")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_doc_freq)
            .select("__h")
        )
        bench_pos = bench_pos.join(kept_h, "__h")
    bidx = bench_pos.localCheckpoint(eager=True)

    def _spans(batch_df: DataFrame) -> DataFrame:
        pos = _positions(batch_df, "__id", "__pos")
        # the index is bounded by the static benchmark — broadcast it so
        # no micro-batch ever shuffles its positional hashes (ADVICE r9)
        matched = pos.join(F.broadcast(bidx), "__h").select(
            "__id", "__bid", F.col("__pos").alias("p1"),
            (F.col("__bpos") - F.col("__pos")).alias("__diag"),
        )
        w = Window.partitionBy("__id", "__bid", "__diag").orderBy("p1")
        # one-window gaps-and-islands (see operators.dedup.shared_span_pairs:
        # p1 unique per partition ⇒ p1 - row_number() labels maximal
        # consecutive runs; identical islands, half the frame evaluations)
        runs = (
            matched.withColumn("__run", F.col("p1") - F.row_number().over(w))
            .groupBy("__id", "__bid", "__diag", "__run")
            .agg((F.max("p1") - F.min("p1") + k).alias("__span"))
        )
        per_bench = (
            runs.groupBy("__id", "__bid")
            .agg(F.max("__span").alias("__mx"))
            .filter(F.col("__mx") >= min_span)
        )
        return per_bench.groupBy("__id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bench_docs"),
            F.max("__mx").cast("bigint").alias("max_span_tokens"),
        ).select(F.col("__id").alias(id_col), "n_bench_docs", "max_span_tokens")

    return _drain(docs_stream, timeout_sec, out_dir, transform=_spans)
