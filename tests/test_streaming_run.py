"""End-to-end Structured Streaming tests for streaming/run.py (the gate
queries st1/st2 are additionally hash-checked in test_oracle_parity)."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest

from dataclod_spark.streaming.run import (
    run_to_memory,
    sessionize_stream,
    tumbling_stream,
)


def _ts(h, m=0, s=0):
    return datetime(2024, 1, 1, h, m, s, tzinfo=timezone.utc).replace(tzinfo=None)


@pytest.fixture(scope="module")
def crafted_stream(spark, tmp_path_factory):
    """user 1: two sessions well before the watermark; user 2: one session
    recent enough that its timeout never fires."""
    rows = [
        # user 1, session A: 3 events within the 30-min gap
        (1, _ts(0, 0)), (1, _ts(0, 10)), (1, _ts(0, 20)),
        # user 1, session B: a single event an hour later
        (1, _ts(1, 30)),
        # user 2: one session near the end of the data (inside gap+watermark)
        (2, _ts(9, 50)),
        # watermark anchor: the max event time
        (3, _ts(10, 0)),
    ]
    d = tmp_path_factory.mktemp("stream_src")
    spark.createDataFrame(rows, "user_id bigint, ts timestamp").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d))
    return spark.readStream.schema("user_id bigint, ts timestamp").parquet(str(d))


def test_stateful_sessionization_semantics(spark, crafted_stream):
    out = run_to_memory(sessionize_stream(crafted_stream))
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in out.collect()
    }
    base = int(_ts(0, 0).replace(tzinfo=timezone.utc).timestamp())
    # session A closed in-batch by session B's arrival; session B final via
    # timeout (ends 08:30 before watermark 09:50).  user 2's session (09:50)
    # and user 3's (10:00) are still open: timeout ts > watermark.
    assert got == {
        (1, base, base + 1200, 3),
        (1, base + 5400, base + 5400, 1),
    }


def test_tumbling_append_only_finalized_windows(spark, crafted_stream):
    ev = crafted_stream.withColumnRenamed("user_id", "event_type").selectExpr(
        "CAST(event_type AS STRING) AS event_type", "ts", "1.0 AS value"
    )
    out = run_to_memory(tumbling_stream(ev))
    starts = sorted(r.window_start for r in out.collect())
    base = int(_ts(0, 0).replace(tzinfo=timezone.utc).timestamp())
    # watermark = 10:00 - 10min = 09:50 → the 09:00-10:00 window (containing
    # the 09:50 event) and the 10:00-11:00 window are not finalized
    assert starts == [base, base + 3600]


@pytest.fixture(scope="module")
def multibatch_src(spark, tmp_path_factory):
    """Three time-ordered parquet files with staggered mtimes: with
    maxFilesPerTrigger=1 + availableNow the file source runs one
    micro-batch per file, so state and the watermark must carry across
    batches."""
    import os
    import shutil

    rows_by_chunk = [
        # chunk 0: user 1 session A, user 2 session A starts
        [(1, _ts(0, 0)), (1, _ts(0, 10)), (2, _ts(0, 15))],
        # chunk 1: user 2 session A extends; user 1 session B (gap > 30min)
        [(2, _ts(0, 40)), (1, _ts(2, 0))],
        # chunk 2: far-future anchor closes everything via watermark
        [(3, _ts(9, 0))],
    ]
    d = tmp_path_factory.mktemp("mb_src")
    for i, rows in enumerate(rows_by_chunk):
        tmp = d / f"_w{i}"
        spark.createDataFrame(rows, "user_id bigint, ts timestamp").coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp))
        part = next(p for p in tmp.iterdir() if p.name.endswith(".parquet"))
        target = d / f"c{i}.parquet"
        shutil.move(str(part), str(target))
        shutil.rmtree(str(tmp))
        os.utime(str(target), (1_700_000_000 + i, 1_700_000_000 + i))
    return str(d)


def _mb_stream(spark, src, per_trigger):
    return (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", str(per_trigger))
        .parquet(src)
    )


def test_sessionization_state_across_microbatches(spark, multibatch_src):
    """One file per micro-batch: user 2's session spans batch 0 and 1 (open
    state must survive the batch boundary and merge), and the final result
    equals the single-batch run."""
    multi = run_to_memory(
        sessionize_stream(_mb_stream(spark, multibatch_src, 1))
    )
    single = run_to_memory(
        sessionize_stream(_mb_stream(spark, multibatch_src, 3))
    )
    key = lambda r: (r.user_id, r.session_start, r.session_end, r.n_events)  # noqa: E731
    got_multi = sorted(map(key, multi.collect()))
    got_single = sorted(map(key, single.collect()))
    assert got_multi == got_single
    base = int(_ts(0, 0).replace(tzinfo=timezone.utc).timestamp())
    # user 2's cross-batch session: 00:15 (batch 0) + 00:40 (batch 1) within
    # one 30-min gap → one session of 2 events
    assert (2, base + 900, base + 2400, 2) in got_multi
    # user 1: two sessions split by the 01:50 gap
    assert (1, base, base + 600, 2) in got_multi
    assert (1, base + 7200, base + 7200, 1) in got_multi


def test_tumbling_across_microbatches_matches_single_batch(spark, multibatch_src):
    """Watermark advances batch-by-batch; the union of per-batch appends
    must equal the single-batch append set (no loss, no duplication)."""
    def tum(per_trigger):
        ev = _mb_stream(spark, multibatch_src, per_trigger).selectExpr(
            "CAST(user_id AS STRING) AS event_type", "ts", "1.0 AS value"
        )
        out = run_to_memory(tumbling_stream(ev))
        return sorted(
            (r.window_start, r.event_type, r.n_events, r.total_value)
            for r in out.collect()
        )

    multi, single = tum(1), tum(3)
    assert multi == single and multi


@pytest.fixture(scope="module")
def asof_multibatch_src(spark, tmp_path_factory):
    """Two time-ordered files: the click arrives in batch 0, its matching
    purchase in batch 1 — the one-row click state must survive the batch
    boundary."""
    import os
    import shutil

    rows_by_chunk = [
        # batch 0: user 1 clicks; user 2 clicks (will be stale by purchase
        # time); user 4's click carries a FUTURE event time (out-of-order
        # arrival: larger event time lands in the earlier micro-batch)
        [
            (1, 100, "click", _ts(0, 0), 1.5),
            (2, 101, "click", _ts(0, 0), 2.5),
            (4, 102, "click", _ts(1, 0), 4.5),
        ],
        # batch 1: user 1 purchase 5 min after click (match);
        # user 2 purchase 20 min after click (lookback 600 s → no match);
        # user 3 purchase with no click history (no match);
        # user 4 purchase BEFORE its only click (at-or-before → no match)
        [
            (1, 200, "purchase", _ts(0, 5), 9.0),
            (2, 201, "purchase", _ts(0, 20), 9.0),
            (3, 202, "purchase", _ts(0, 21), 9.0),
            (4, 203, "purchase", _ts(0, 30), 9.0),
        ],
    ]
    d = tmp_path_factory.mktemp("asof_mb_src")
    schema = "user_id bigint, event_id bigint, event_type string, ts timestamp, value double"
    for i, rows in enumerate(rows_by_chunk):
        tmp = d / f"_w{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(str(tmp))
        part = next(p for p in tmp.iterdir() if p.name.endswith(".parquet"))
        target = d / f"c{i}.parquet"
        shutil.move(str(part), str(target))
        shutil.rmtree(str(tmp))
        os.utime(str(target), (1_700_000_000 + i, 1_700_000_000 + i))
    return str(d)


def test_asof_state_across_microbatches(spark, asof_multibatch_src):
    """Click state crosses the micro-batch boundary; lookback expiry and
    missing history produce NULL matches (left semantics)."""
    from dataclod_spark.streaming.run import asof_join_stream, run_to_memory

    ev = (
        spark.readStream.schema(
            "user_id bigint, event_id bigint, event_type string, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(asof_multibatch_src)
    )
    out = {r["purchase_id"]: r for r in run_to_memory(asof_join_stream(ev)).collect()}
    assert out[200]["click_id"] == 100 and out[200]["click_value"] == 1.5
    assert out[201]["click_id"] is None   # click older than the lookback
    assert out[202]["click_id"] is None   # no click history at all
    assert out[203]["click_id"] is None   # click is in the FUTURE → no match
    assert len(out) == 4                  # every purchase emitted exactly once


def test_heavy_hitters_state_across_microbatches(spark, multibatch_src):
    """Counts accumulate across micro-batches; the last snapshot
    (max batch_seq) equals the batch top-k over all files."""
    from pyspark.sql import functions as F

    from dataclod_spark.streaming.run import heavy_hitters_stream, run_to_memory

    ev = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(multibatch_src)
    ).withColumn("event_type", F.lit("click"))
    out = run_to_memory(heavy_hitters_stream(ev, k=10))
    last = out.filter(
        F.col("batch_seq") == out.agg(F.max("batch_seq")).collect()[0][0]
    )
    got = {(r["user_id"], r["cnt"]) for r in last.collect()}
    want = {
        (r["user_id"], r["cnt"])
        for r in spark.read.parquet(multibatch_src)
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert got == want  # exact at this cardinality (capacity >> users)
    assert last.filter(F.col("max_err") != 0).count() == 0


def test_heavy_hitters_space_saving_eviction():
    """Capacity-2 summary obeys the space-saving contract on a crafted
    sequence: the frequent keys survive, the evicted newcomer inherits
    the min count as overestimation error (heap-backed eviction)."""
    from dataclod_spark.streaming.run import _space_saving_update

    capacity = 2
    summary, heap = {}, []
    for u in [1, 1, 1, 2, 2, 3]:
        _space_saving_update(summary, heap, u, capacity)
    # key 1 exact (3); key 2 (count 2) evicted by 3 → 3 carries count 3, err 2
    assert summary[1] == [3, 0]
    assert summary[3] == [3, 2]
    assert 2 not in summary

    # tie on min count → lowest user evicted (deterministic heap order)
    summary, heap = {}, []
    for u in [5, 6, 7]:
        _space_saving_update(summary, heap, u, 2)
    assert 5 not in summary and summary[7] == [2, 1] and summary[6] == [1, 0]

    # stale-snapshot handling: increments leave old heap entries behind
    summary, heap = {}, []
    for u in [1, 2, 1, 1, 2, 3]:
        _space_saving_update(summary, heap, u, 2)
    assert summary[3] == [3, 2] and 2 not in summary and summary[1] == [3, 0]


def test_heavy_hitters_space_saving_properties():
    """Space-saving invariants on random streams (hypothesis): for every
    retained key, count is an overestimate bounded by err (count - err <=
    true <= count), and any key with true frequency > N/capacity is
    guaranteed retained."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dataclod_spark.streaming.run import _space_saving_update

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=20), min_size=1, max_size=300),
        st.integers(min_value=2, max_value=8),
    )
    def prop(stream, capacity):
        summary, heap = {}, []
        true = {}
        for u in stream:
            true[u] = true.get(u, 0) + 1
            _space_saving_update(summary, heap, u, capacity)
        n = len(stream)
        assert len(summary) <= capacity
        for u, (cnt, err) in summary.items():
            assert cnt >= true[u], "estimate must never undercount"
            assert cnt - err <= true[u], "err bounds the overestimate"
            # space-saving bound: inherited error is the evicted minimum,
            # and the summary minimum never exceeds mean = n_so_far/capacity
            assert err <= n // capacity, f"err {err} breaks the N/m bound"
        # retention guarantee: true frequency > N/capacity → key retained
        for u, t in true.items():
            if t > n / capacity:
                assert u in summary, f"heavy key {u} (freq {t}/{n}) evicted"

    prop()


def test_cdc_upsert_out_of_order_across_batches(spark, tmp_path_factory):
    """A STALE change arriving in a later micro-batch must not overwrite
    newer snapshot state (the sequence guard), and deletes drop users."""
    import os
    import shutil
    import tempfile

    from dataclod_spark.streaming.run import streaming_cdc_apply

    rows_by_chunk = [
        # batch 0: user 1 latest value 5.0 at t=01:00; user 2 signup; user 3 value
        [
            (1, 10, "view", _ts(1, 0), 5.0),
            (2, 11, "signup", _ts(0, 30), 2.0),
            (3, 12, "click", _ts(0, 40), 3.0),
        ],
        # batch 1: STALE update for user 1 (t=00:10 < snapshot's 01:00 — must
        # be ignored); user 3 deleted; user 2 newer value
        [
            (1, 20, "purchase", _ts(0, 10), 99.0),
            (3, 21, "error", _ts(0, 50), 0.0),
            (2, 22, "view", _ts(0, 45), 7.0),
        ],
        # batch 2: STALE update for DELETED user 3 (t=00:45 < tombstone's
        # 00:50) — the tombstone's sequence must block resurrection
        [
            (3, 30, "click", _ts(0, 45), 55.0),
        ],
    ]
    d = tmp_path_factory.mktemp("cdc_src")
    schema = "user_id bigint, event_id bigint, event_type string, ts timestamp, value double"
    for i, rows in enumerate(rows_by_chunk):
        tmp = d / f"_w{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(str(tmp))
        part = next(p for p in tmp.iterdir() if p.name.endswith(".parquet"))
        target = d / f"c{i}.parquet"
        shutil.move(str(part), str(target))
        shutil.rmtree(str(tmp))
        os.utime(str(target), (1_700_000_000 + i, 1_700_000_000 + i))
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    snap_dir = tempfile.mkdtemp(prefix="cdc_snap_test_")
    snap = streaming_cdc_apply(spark, ev, snap_dir)
    got = {r["user_id"]: r["last_value"] for r in snap.collect()}
    # stale 99.0 ignored; user 3 deleted and NOT resurrected by the stale
    # post-delete change (tombstone sequence blocks it)
    assert got == {1: 5.0, 2: 7.0}


def test_streaming_incremental_dedup_empty_delta(spark, tmp_path):
    """An empty new-document stream (predicate matches nothing) must
    drain cleanly and return an empty labeled frame with the right
    schema — not crash in foreachBatch or the sink readback."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dataclod_spark.streaming.run import (
        read_documents_stream_multibatch,
        streaming_incremental_dedup,
    )

    src = tmp_path / "sf"
    src.mkdir()
    pq.write_table(
        pa.table({"doc_id": pa.array([1, 2], pa.int64()),
                  "text": ["snapshot one", "snapshot two"]}),
        str(src / "documents.parquet"),
    )
    old = spark.read.parquet(str(src / "documents.parquet"))
    stage = str(tmp_path / "stage")
    out = str(tmp_path / "out")
    ds = read_documents_stream_multibatch(
        spark, str(src), stage, n_files=2, pred_sql="doc_id < 0"
    )
    res = streaming_incremental_dedup(ds, old, out, jaccard_threshold=0.5)
    assert res.count() == 0
    assert "drop_reason" in res.columns and "doc_id" in res.columns


def test_streaming_calibration_unseen_source_is_null(spark, tmp_path):
    """Round 9: a stream row whose source the snapshot never saw has no
    reference distribution — it must calibrate to NULL (not 0), and
    snapshot-known sources must match the batch operator's assignment."""
    import tempfile

    from pyspark.sql import functions as F

    from dataclod_spark.functions.text import quality_score
    from dataclod_spark.streaming.run import streaming_calibration

    snap = spark.createDataFrame(
        [(i, "web", "alpha beta gamma " * (1 + i % 7)) for i in range(40)],
        "doc_id long, source string, text string",
    )
    stream_rows = [
        (100, "web", "alpha beta gamma " * 3),
        (101, "web", "alpha beta gamma " * 6),
        (102, "books", "totally new source text here"),  # unseen source
    ]
    d = tmp_path / "in"
    spark.createDataFrame(
        stream_rows, "doc_id long, source string, text string"
    ).coalesce(1).write.parquet(str(d))
    ds = spark.readStream.schema("doc_id long, source string, text string").parquet(
        str(d)
    )
    out = streaming_calibration(
        ds, snap, str(tmp_path / "out"), timeout_sec=120
    )
    got = {r.doc_id: r for r in out.collect()}
    assert got[102].cal_bucket is None and got[102].calibrated is None
    # web rows equal the batch operator calibrated against the snapshot
    scored = spark.createDataFrame(
        stream_rows[:2], "doc_id long, source string, text string"
    ).select("doc_id", "source", quality_score(F.col("text")).alias("quality"))
    snap_scored = snap.select(
        "doc_id", "source", quality_score(F.col("text")).alias("quality")
    )
    # recompute expected buckets directly from the snapshot quantile grid
    import math as _math

    vals = sorted(
        r.quality for r in snap_scored.filter(F.col("quality").isNotNull()).collect()
    )
    grid = [vals[max(1, _math.ceil((i / 20) * len(vals))) - 1] for i in range(1, 21)]
    for r in scored.collect():
        want = sum(1 for v in grid if v <= r.quality)
        assert got[r.doc_id].cal_bucket == want
        assert got[r.doc_id].calibrated == round(want / 20, 6)


def test_streaming_span_decontamination_planted_multibatch(spark, tmp_path):
    """Round 10 (VERDICT r9 optional #6): planted benchmark-span fixture
    across TWO micro-batches.  Spans live inside single documents, so
    the drained output must be batching-invariant — equal to the same
    check run as one batch — and the planted lengths are pinned exactly
    (span = verbatim token run length; runs below min_span vanish)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dataclod_spark.streaming.run import (
        read_documents_stream_multibatch,
        streaming_span_decontamination,
    )

    bench_toks = [f"mark{i}" for i in range(20)]
    bench_text = " ".join(bench_toks)
    docs = {
        # 10-token verbatim run (mark5..mark14) embedded in filler -> span 10
        1: "pad one two " + " ".join(bench_toks[5:15]) + " tail filler words",
        # 4-token run < min_span=8 -> must NOT be flagged
        2: "other stuff " + " ".join(bench_toks[3:7]) + " more other stuff",
        # no overlap at all
        3: "completely unrelated text with nothing shared anywhere here",
        # exactly min_span=8 tokens (mark0..mark7) -> span 8, flagged
        4: "lead in " + " ".join(bench_toks[0:8]) + " trailing words",
        # two separated runs (9 and 8 tokens, gap breaks the diagonal)
        # -> max span 9, still one benchmark doc
        5: " ".join(bench_toks[0:9]) + " gapword " + " ".join(bench_toks[11:19]),
    }
    src = tmp_path / "sf"
    src.mkdir()
    pq.write_table(
        pa.table({
            "doc_id": pa.array(sorted(docs), pa.int64()),
            "text": [docs[i] for i in sorted(docs)],
        }),
        str(src / "documents.parquet"),
    )
    bench = spark.createDataFrame(
        [(900, bench_text)], "doc_id long, text string"
    )

    def run(n_files: int, tag: str) -> dict[int, tuple[int, int]]:
        ds = read_documents_stream_multibatch(
            spark, str(src), str(tmp_path / f"stage_{tag}"),
            n_files=n_files, pred_sql="doc_id >= 0",
        ).select("doc_id", "text")
        res = streaming_span_decontamination(
            ds, bench, str(tmp_path / f"out_{tag}"), timeout_sec=180
        )
        return {
            r.doc_id: (r.n_bench_docs, r.max_span_tokens) for r in res.collect()
        }

    got_two = run(2, "two")
    assert got_two == {1: (1, 10), 4: (1, 8), 5: (1, 9)}
    # batching-invariance: one batch produces the identical flag set
    assert run(1, "one") == got_two


# ---------- round 10: out-of-order robustness & drain-contract fixes ---------


def test_asof_state_ignores_out_of_order_older_click(spark, tmp_path):
    """A click from a LATER micro-batch with an OLDER timestamp must not
    regress the 'latest click' state (before r10 it overwrote it and
    mis-annotated subsequent purchases)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dataclod_spark.streaming.run import asof_join_stream, run_to_memory

    d = tmp_path / "ev"
    d.mkdir()

    def write(fname, rows):
        pq.write_table(
            pa.table({
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] * 1_000_000 for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": [r[3] for r in rows],
                "value": pa.array([r[4] for r in rows], pa.float64()),
            }),
            str(d / fname),
        )

    # batch 1: click A (ts=100); batch 2: older click B (ts=50), then
    # purchase P (ts=120) -> P must match A, not B
    write("b0.parquet", [(1, 100, 7, "click", 1.0)])
    write("b1.parquet", [(2, 50, 7, "click", 2.0), (3, 120, 7, "purchase", 9.0)])
    src = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = run_to_memory(asof_join_stream(src))
    rows = {r.purchase_id: r for r in out.collect()}
    assert rows[3].click_id == 1 and rows[3].click_us == 100 * 1_000_000


def test_sessionize_out_of_order_events_stay_consistent(spark, tmp_path):
    """Cross-batch out-of-order events: within-gap earlier events extend
    session_start downward; an event more than a gap earlier emits as
    its own session — never an inconsistent row whose n_events counts
    events outside [session_start, session_end]."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dataclod_spark.streaming.run import run_to_memory, sessionize_stream

    d = tmp_path / "ev"
    d.mkdir()
    base = 1_700_000_000

    def write(fname, ts_list):
        pq.write_table(
            pa.table({
                "event_id": pa.array(list(range(len(ts_list))), pa.int64()),
                "ts": pa.array(
                    [(base + t) * 1_000_000 for t in ts_list], pa.timestamp("us")
                ),
                "user_id": pa.array([5] * len(ts_list), pa.int64()),
                "event_type": ["click"] * len(ts_list),
                "value": pa.array([1.0] * len(ts_list), pa.float64()),
            }),
            str(d / fname),
        )

    # gap = 600s default.  batch 1 opens session at t=10000 (2 events);
    # batch 2 delivers t=9800 (within gap BEFORE start -> merges, start
    # moves down) and t=2000 (more than a gap earlier -> own session);
    # t=20000 closes the open session by gap and starts a new one.
    write("b0.parquet", [10000, 10100])
    write("b1.parquet", [2000, 9800, 20000])
    src = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = run_to_memory(sessionize_stream(src))
    got = sorted(
        (r.session_start - base, r.session_end - base, r.n_events)
        for r in out.collect()
    )
    # closed sessions: the backfill singleton at 2000 and the merged
    # [9800, 10100] session with 3 events (the t=20000 session stays
    # open in state -- not emitted without a later watermark push)
    assert (2000, 2000, 1) in got
    assert (9800, 10100, 3) in got
    for s, e, n in got:
        assert s <= e  # internally consistent bounds


def test_streaming_helpers_empty_source_and_no_batch_id(spark, tmp_path):
    """Zero micro-batches: the sink directory never exists — helpers must
    return a typed EMPTY frame (not PATH_NOT_FOUND); and a drained run
    must not leak the batch_id partition-discovery column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dataclod_spark.streaming.run import (
        read_documents_stream_multibatch,
        streaming_contamination,
    )

    src = tmp_path / "sf"
    src.mkdir()
    pq.write_table(
        pa.table({
            "doc_id": pa.array([1, 2, 3], pa.int64()),
            "text": ["alpha beta gamma delta", "epsilon zeta eta theta",
                     "alpha beta gamma delta"],
        }),
        str(src / "documents.parquet"),
    )
    bench = spark.createDataFrame(
        [(900, "alpha beta gamma delta")], "doc_id long, text string"
    )
    # empty stream: predicate matches nothing
    ds0 = read_documents_stream_multibatch(
        spark, str(src), str(tmp_path / "st0"), n_files=2, pred_sql="doc_id < 0"
    ).select("doc_id", "text")
    out0 = streaming_contamination(
        ds0, bench, str(tmp_path / "o0"), threshold=0.01, timeout_sec=120
    )
    assert out0.count() == 0
    assert set(out0.columns) == {"doc_id", "n_grams", "n_hits", "contamination"}
    # non-empty drain: batch_id must NOT appear in the output
    ds1 = read_documents_stream_multibatch(
        spark, str(src), str(tmp_path / "st1"), n_files=2, pred_sql="doc_id >= 0"
    ).select("doc_id", "text")
    out1 = streaming_contamination(
        ds1, bench, str(tmp_path / "o1"), threshold=0.01, timeout_sec=120
    )
    assert "batch_id" not in out1.columns
    assert {r.doc_id for r in out1.collect()} == {1, 3}


def test_stream_width_rule():
    """ceil(source bytes / 32 MB), floored at the task-slot count and capped
    at the caller's width; a source of unknown size keeps the caller's."""
    from dataclod_spark.streaming.run import _stream_width

    assert _stream_width(32, 4, 10 << 20) == 4  # small -> slots
    assert _stream_width(32, 4, 200 << 20) == 7  # ceil(200 / 32)
    assert _stream_width(32, 4, 1 << 40) == 32  # 1 TB -> caller cap
    assert _stream_width(2, 4, 10 << 20) == 2  # caller below slots -> caller
    assert _stream_width(32, 4, None) == 32


def test_st_queries_leave_caller_conf_unchanged(spark):
    """A stream's width lives in a session of its own: the caller's conf is
    identical before and after a memory-sink drain (st2), a CDC drain
    (st9) and a per-batch transform drain (st12)."""
    from conftest import SF_SMOKE

    from dataclod_spark.registry import load_all_queries

    reg = load_all_queries()
    for name in (
        "st2_stream_tumbling",
        "st9_stream_cdc_upsert",
        "st12_stream_incremental_dedup",
    ):
        before = spark.conf.getAll
        reg[name].fn(spark, SF_SMOKE).collect()
        assert spark.conf.getAll == before, name


def _stream_views(session) -> list[str]:
    return [
        t.name for t in session.catalog.listTables() if t.name.startswith("__stream_result_")
    ]


def test_st2_runs_in_own_session_and_leaves_no_view(spark):
    """st2's memory sink lives in the stream's own session, at the rule's
    width; once drained, neither that session nor the caller's holds the
    sink's temp view, and the returned frame still has its rows."""
    import os

    from conftest import SF_SMOKE

    from dataclod_spark.registry import load_all_queries
    from dataclod_spark.streaming.run import _stream_width

    res = load_all_queries()["st2_stream_tumbling"].fn(spark, SF_SMOKE)
    own = res.sparkSession
    assert own is not spark
    want = _stream_width(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
        os.path.getsize(os.path.join(SF_SMOKE, "events.parquet")),
    )
    assert own.conf.get("spark.sql.shuffle.partitions") == str(want)
    assert res.count() > 0
    assert _stream_views(own) == [] and _stream_views(spark) == []


def _one_row_stream(spark, d):
    spark.createDataFrame([(1,)], "id bigint").coalesce(1).write.parquet(str(d))
    return spark.readStream.schema("id bigint").parquet(str(d))


def test_drain_timeout_stops_stream_and_drops_partial_view(spark, tmp_path):
    """A drain that outlives ``timeout_sec`` raises TimeoutError with the
    stream stopped, for both sinks, and the memory sink leaves no view."""
    import time

    from pyspark.sql import functions as F

    from dataclod_spark.streaming.run import _drain, run_to_memory

    def slow(batch_df):
        time.sleep(6)
        return batch_df

    with pytest.raises(TimeoutError):
        _drain(
            _one_row_stream(spark, tmp_path / "a"), 2, str(tmp_path / "out"), transform=slow
        )
    assert spark.streams.active == []

    slow_id = F.udf(lambda i: time.sleep(6) or i, "bigint")
    stream = _one_row_stream(spark, tmp_path / "b").select(slow_id("id").alias("id"))
    with pytest.raises(TimeoutError):
        run_to_memory(stream, timeout_sec=2)
    assert spark.streams.active == []
    assert _stream_views(spark) == []


def test_events_reader_is_zone_free(spark, tmp_path):
    """A naive-micros ``ts`` drains to the same instants under a
    Pacific/Auckland session as under UTC, the hour Auckland repeats when
    its DST ends included, and reading does not write the caller's time
    zone."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from dataclod_spark.registry import parquet_schema
    from dataclod_spark.streaming.run import (
        _events_ts_to_timestamp,
        read_events_stream,
        run_to_memory,
    )

    naive = [
        datetime(2024, 1, 1, 0, 0, 0, 123456),
        # 02:30 NZST on 2024-04-07, the second pass of the repeated hour
        datetime(2024, 4, 6, 14, 30, 0),
        datetime(2024, 7, 1, 12, 30, 0),
    ]
    want = sorted(
        int(t.replace(tzinfo=timezone.utc).timestamp()) * 1_000_000 + t.microsecond
        for t in naive
    )
    assert want[0] == 1704067200123456
    path = tmp_path / "events.parquet"
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(naive, pa.timestamp("us")),
        }),
        str(path),
    )

    def epochs(stream):
        out = run_to_memory(stream.select(F.unix_micros("ts").alias("us")))
        return sorted(r.us for r in out.collect())

    auckland = spark.newSession()
    auckland.conf.set("spark.sql.session.timeZone", "Pacific/Auckland")
    stream = read_events_stream(auckland, str(tmp_path))
    assert auckland.conf.get("spark.sql.session.timeZone") == "Pacific/Auckland"
    assert epochs(stream) == want
    # the conversion itself, on a stream that runs in the Auckland session
    schema = parquet_schema(auckland, str(path))
    assert schema["ts"].dataType.typeName() == "timestamp_ntz"
    raw = auckland.readStream.schema(schema).parquet(str(tmp_path))
    assert epochs(_events_ts_to_timestamp(raw)) == want
