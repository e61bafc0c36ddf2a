"""Streaming gate queries — Structured Streaming executed for real and
hash-checked against DuckDB (SURVEY §2.C; engine extension, the reference
has no streaming).

Unlike the batch twins in queries/events.py, these run an actual
``readStream`` → transform → ``writeStream`` pipeline to completion with
``availableNow`` and return the sink contents.  The oracles encode the
deterministic watermark cutoffs documented in streaming/run.py:

* one parquet file ⇒ a single data micro-batch, then a no-data batch
  advances the watermark to ``max(ts) - 600s`` (ms-floored);
* append-mode windows emit iff ``window_end <= watermark``;
* stateful sessions flush via event-time timeout iff
  ``watermark_ms > (session_end + gap) ms`` — sessions already closed
  in-batch (a later session exists for the same user) always emit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataclod_spark.queries.text import _TOKS as _TOKS_ST16  # shared tokenizer
from dataclod_spark.registry import query


def _latest_topk_snapshot(out: DataFrame) -> DataFrame:
    """Keep only each event type's LATEST heavy-hitters snapshot: append
    sinks retain one top-k emission per micro-batch, and a type's final
    snapshot reflects every batch that carried that type (state
    accumulates), so this equals the exact batch top-k when the sketch
    capacity exceeds the corpus cardinality.  Shared by st8/st10."""
    from pyspark.sql import functions as F

    last = out.groupBy(F.col("event_type").alias("__et")).agg(
        F.max("batch_seq").alias("__last_seq")
    )
    return (
        out.join(
            F.broadcast(last),
            (out["event_type"] == F.col("__et"))
            & (out["batch_seq"] == F.col("__last_seq")),
        )
        .select("event_type", "user_id", "cnt", "rank")
        .orderBy("event_type", "rank")
    )


def _cdc_snapshot_rollup(snap: DataFrame) -> DataFrame:
    """The (n_users, id_sum, value_sum) rollup of a CDC snapshot,
    localCheckpoint'ed so the result survives the snapshot directory's
    removal.  Shared by st9/st11."""
    from pyspark.sql import functions as F

    out = snap.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("user_id").cast("bigint").alias("id_sum"),
        F.round(
            F.sum(F.col("last_value").cast("decimal(18,6)")).cast("double"), 2
        ).alias("value_sum"),
    )
    return out.localCheckpoint()


@query(
    "st1_stream_sessionization",
    doc="custom stateful streaming operator: applyInPandasWithState gap "
    "sessionization with event-time timeout, run via availableNow",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), agg AS (
  SELECT user_id,
         CAST(floor(epoch_us(min(ts)) / 1000000) AS BIGINT) AS session_start,
         CAST(floor(epoch_us(max(ts)) / 1000000) AS BIGINT) AS session_end,
         count(*) AS n_events,
         epoch_us(max(ts)) AS end_us,
         max(sid) OVER (PARTITION BY user_id) AS max_sid, sid
  FROM sess GROUP BY user_id, sid
), wm AS (SELECT epoch_us(max(ts)) // 1000 - 600000 AS wm_ms FROM events)
SELECT user_id, session_start, session_end, n_events
FROM agg, wm
WHERE sid < max_sid OR wm_ms > (end_us + 1800000000) // 1000
ORDER BY user_id, session_start
""",
)
def st1_stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataclod_spark.streaming.run import (
        read_events_stream,
        run_to_memory,
        sessionize_stream,
    )

    ev = read_events_stream(spark, sf_dir)
    out = run_to_memory(sessionize_stream(ev))
    return out.orderBy("user_id", "session_start")


@query(
    "st2_stream_tumbling",
    doc="watermarked tumbling-window streaming aggregation (append mode: "
    "only watermark-finalized windows emit)",
    oracle="""
WITH win AS (
  SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start,
         event_type,
         count(*) AS n_events,
         round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_value
  FROM events
  GROUP BY window_start, event_type
), wm AS (SELECT epoch_us(max(ts)) // 1000 - 600000 AS wm_ms FROM events)
SELECT window_start, event_type, n_events, total_value
FROM win, wm
WHERE (window_start + 3600) * 1000 <= wm_ms
ORDER BY window_start, event_type
""",
)
def st2_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataclod_spark.streaming.run import (
        read_events_stream,
        run_to_memory,
        tumbling_stream,
    )

    ev = read_events_stream(spark, sf_dir)
    out = run_to_memory(tumbling_stream(ev))
    return out.orderBy("window_start", "event_type")


@query(
    "st3_stream_sliding",
    doc="watermarked sliding-window streaming aggregation (1h window, "
    "30m slide: each event in two windows; append mode)",
    oracle="""
WITH starts AS (
  SELECT (epoch_us(ts) // 1000000 // 1800) * 1800 AS w0, event_type, value
  FROM events
), expl AS (
  SELECT w0 AS ws, event_type, value FROM starts
  UNION ALL
  SELECT w0 - 1800 AS ws, event_type, value FROM starts
), win AS (
  SELECT ws AS window_start, event_type, count(*) AS n_events,
         round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_value
  FROM expl GROUP BY ws, event_type
), wm AS (SELECT epoch_us(max(ts)) // 1000 - 600000 AS wm_ms FROM events)
SELECT window_start, event_type, n_events, total_value
FROM win, wm
WHERE (window_start + 3600) * 1000 <= wm_ms
ORDER BY window_start, event_type
""",
)
def st3_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows double-assign each event (1h/30m ⇒ 2 windows); the
    oracle explodes each event to its two aligned window starts and applies
    the same watermark cutoff as st2."""
    from dataclod_spark.streaming.run import (
        read_events_stream,
        run_to_memory,
        sliding_stream,
    )

    ev = read_events_stream(spark, sf_dir)
    out = run_to_memory(sliding_stream(ev))
    return out.orderBy("window_start", "event_type")


@query(
    "st4_stream_interval_join",
    doc="stream-stream interval join: purchases x same-user clicks in the "
    "preceding 10 minutes, bounded state via two-sided watermarks",
    oracle="""
SELECT p.event_id AS purchase_id,
       c.event_id AS click_id,
       p.user_id AS user_id,
       CAST(epoch_us(p.ts) // 1000000 AS BIGINT) AS purchase_sec,
       CAST(epoch_us(c.ts) // 1000000 AS BIGINT) AS click_sec
FROM events p
JOIN events c
  ON p.event_type = 'purchase' AND c.event_type = 'click'
 AND p.user_id = c.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 600 SECONDS
ORDER BY purchase_id, click_id
""",
)
def st4_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner stream-stream joins emit matches as both rows arrive (not
    watermark-gated), so availableNow over one file equals the batch
    interval join — the oracle is the plain SQL spelling."""
    from dataclod_spark.streaming.run import (
        interval_join_stream,
        read_events_stream,
        run_to_memory,
    )

    ev = read_events_stream(spark, sf_dir)
    out = run_to_memory(interval_join_stream(ev))
    return out.orderBy("purchase_id", "click_id")


@query(
    "st5_stream_dedup",
    doc="streaming deduplication: dropDuplicates on (user_id, event_type) "
    "over the event stream, rolled up per type",
    oracle="""
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def st5_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates keeps the first row per key in state (the
    streaming analogue of exact dedup); the per-type distinct-user rollup
    is key-deterministic regardless of which duplicate won.  State is the
    distinct key set — for watermark-bounded state real pipelines use
    dropDuplicatesWithinWatermark; unbounded here because the driver's
    events table has no late data."""
    from pyspark.sql import functions as F

    from dataclod_spark.streaming.run import read_events_stream, run_to_memory

    ev = read_events_stream(spark, sf_dir)
    deduped = ev.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    # the dedup stream runs append-mode into the memory sink; the rollup is
    # a batch aggregate over the deduplicated sink contents
    out = run_to_memory(deduped)
    return (
        out.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("event_type")
    )


@query(
    "st6_stream_static_join",
    doc="stream-static enrichment join (purchase stream × broadcast "
    "customer dim) — stateless per-batch join, rolled up per market segment",
    oracle="""
SELECT c.c_mktsegment AS c_mktsegment,
       count(*) AS n_purchases,
       round(CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type = 'purchase'
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
""",
)
def st6_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join itself runs inside the streaming query (per micro-batch,
    static side broadcast); the segment rollup is a batch aggregate over
    the enriched sink rows."""
    from pyspark.sql import functions as F

    from dataclod_spark.registry import load
    from dataclod_spark.streaming.run import (
        read_events_stream,
        run_to_memory,
        static_enrich_stream,
    )

    ev = read_events_stream(spark, sf_dir)
    dim = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    out = run_to_memory(static_enrich_stream(ev, dim))
    return (
        out.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2
            ).alias("total_value"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "st7_stream_asof_join",
    doc="streaming as-of join as a custom stateful operator "
    "(applyInPandasWithState, one-row state per user) — each purchase "
    "annotated with the most recent same-user click within 10 minutes",
    oracle="""
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
)
SELECT p.user_id,
       p.purchase_id,
       epoch_us(p.ts) AS purchase_us,
       m.click_id,
       m.click_us,
       round(m.click_value, 4) AS click_value
FROM p LEFT JOIN LATERAL (
  SELECT c.event_id AS click_id, epoch_us(c.ts) AS click_us, c.value AS click_value
  FROM c
  WHERE c.user_id = p.user_id AND c.ts <= p.ts
    AND c.ts >= p.ts - INTERVAL 600 SECONDS
  ORDER BY c.ts DESC, c.event_id DESC
  LIMIT 1
) m ON true
ORDER BY purchase_id
""",
)
def st7_stream_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of e4 (bounded lookback): per-user single-row state
    instead of the interval join's full click horizon.  availableNow over
    one file processes each user's rows in deterministic order, so the
    result hash-matches the batch LATERAL oracle exactly."""
    from pyspark.sql import functions as F

    from dataclod_spark.streaming.run import (
        asof_join_stream,
        read_events_stream,
        run_to_memory,
    )

    ev = read_events_stream(spark, sf_dir)
    out = run_to_memory(asof_join_stream(ev))
    return out.select(
        "user_id",
        "purchase_id",
        "purchase_us",
        "click_id",
        "click_us",
        F.round("click_value", 4).alias("click_value"),
    ).orderBy("purchase_id")


@query(
    "st8_stream_heavy_hitters",
    doc="streaming heavy hitters: space-saving top-3 users per event type "
    "maintained in applyInPandasWithState state (bounded-memory sketch; "
    "exact at driver cardinality, eviction guarantee beyond)",
    oracle="""
WITH counts AS (
  SELECT event_type, user_id, count(*) AS cnt
  FROM events GROUP BY event_type, user_id
), ranked AS (
  SELECT event_type, user_id, cnt,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cnt DESC, user_id) AS rank
  FROM counts
)
SELECT event_type, user_id, cnt, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 3
ORDER BY event_type, rank
""",
)
def st8_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow over one file = one micro-batch, and the query's
    capacity exceeds the corpus cardinality, so the streaming sketch
    reproduces the exact batch top-3 (max_err = 0, dropped from the
    compared projection along with the snapshot stamp)."""
    from dataclod_spark.streaming.run import (
        heavy_hitters_stream,
        read_events_stream,
        run_to_memory,
    )

    ev = read_events_stream(spark, sf_dir)
    out = run_to_memory(heavy_hitters_stream(ev, k=3))
    return _latest_topk_snapshot(out)


@query(
    "st9_stream_cdc_upsert",
    doc="streaming MERGE INTO via foreachBatch + cdc.apply_changes: "
    "events become I/U/D changes (signup/error/other) applied to a "
    "snapshot with an out-of-order sequence guard and atomic version "
    "swap — the Delta-style streaming-upsert pattern",
    oracle="""
WITH ordered AS (
  SELECT user_id, value, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
), last AS (
  SELECT user_id, value, event_type FROM ordered WHERE rn = 1
)
SELECT count(*) AS n_users,
       CAST(sum(user_id) AS BIGINT) AS id_sum,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS value_sum
FROM last
WHERE event_type <> 'error'
""",
)
def st9_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot after draining the stream equals 'globally-latest
    change per user wins' (deletes drop the user), which the oracle
    computes as one window over the batch data."""
    import tempfile

    from dataclod_spark.streaming.run import read_events_stream, streaming_cdc_apply

    import shutil

    ev = read_events_stream(spark, sf_dir)
    snap_dir = tempfile.mkdtemp(prefix="dataclod_cdc_snap_")
    try:
        snap = streaming_cdc_apply(spark, ev, snap_dir)
        return _cdc_snapshot_rollup(snap)
    finally:
        shutil.rmtree(snap_dir, ignore_errors=True)


@query(
    "st10_stream_heavy_hitters_multibatch",
    doc="st8's cross-batch twin: the events table staged into 3 hash-"
    "partitioned files streamed with maxFilesPerTrigger=1, so the "
    "space-saving sketch state must carry across 3 micro-batches to "
    "reproduce the exact batch top-3",
    oracle="""
WITH counts AS (
  SELECT event_type, user_id, count(*) AS cnt
  FROM events GROUP BY event_type, user_id
), ranked AS (
  SELECT event_type, user_id, cnt,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cnt DESC, user_id) AS rank
  FROM counts
)
SELECT event_type, user_id, cnt, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 3
ORDER BY event_type, rank
""",
)
def st10_stream_heavy_hitters_multibatch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Each event type's LATEST snapshot reflects every batch that carried
    that type (state accumulates; a type's events only arrive in batches
    containing it), so with capacity above the corpus cardinality the
    final per-type snapshot equals the exact batch top-3 regardless of
    file order — the determinism the oracle needs, while still proving
    sketch state survives micro-batch boundaries."""
    import shutil
    import tempfile

    from dataclod_spark.streaming.run import (
        heavy_hitters_stream,
        read_events_stream_multibatch,
        run_to_memory,
    )

    stage = tempfile.mkdtemp(prefix="dataclod_hh_stage_")
    try:
        ev = read_events_stream_multibatch(spark, sf_dir, stage, n_files=3)
        out = run_to_memory(heavy_hitters_stream(ev, k=3))
    finally:
        # memory-sink rows live on the driver; the staging dir can go
        shutil.rmtree(stage, ignore_errors=True)
    return _latest_topk_snapshot(out)


@query(
    "st11_stream_cdc_multibatch",
    doc="st9's cross-batch twin: CDC changes hash-scattered across 3 "
    "micro-batches arrive out of time order, so the snapshot's "
    "(ts,event_id) sequence guard and delete tombstones must hold "
    "ACROSS batches for the final state to equal latest-change-wins",
    oracle="""
WITH ordered AS (
  SELECT user_id, value, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
), last AS (
  SELECT user_id, value, event_type FROM ordered WHERE rn = 1
)
SELECT count(*) AS n_users,
       CAST(sum(user_id) AS BIGINT) AS id_sum,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS value_sum
FROM last
WHERE event_type <> 'error'
""",
)
def st11_stream_cdc_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash partitioning by event_id lands newer changes in earlier
    batches and staler ones later; the guard filters the stale arrivals
    against the stored snapshot sequence (tombstones included, so a
    late update can't resurrect a deleted user) and the final live rows
    equal the oracle's single-window latest-per-user — independent of
    how the stream was chopped."""
    import shutil
    import tempfile

    from dataclod_spark.streaming.run import (
        read_events_stream_multibatch,
        streaming_cdc_apply,
    )

    stage = tempfile.mkdtemp(prefix="dataclod_cdc_stage_")
    snap_dir = tempfile.mkdtemp(prefix="dataclod_cdc_snap_")
    try:
        ev = read_events_stream_multibatch(spark, sf_dir, stage, n_files=3)
        snap = streaming_cdc_apply(spark, ev, snap_dir)
        return _cdc_snapshot_rollup(snap)
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(snap_dir, ignore_errors=True)


from dataclod_spark.queries.dedup import (  # noqa: E402  (shared oracle/rollup)
    INCREMENTAL_DEDUP_ORACLE,
    incremental_rollup,
)


@query(
    "st12_stream_incremental_dedup",
    doc="d12's streaming twin: the new-crawl delta (doc_id % 3 = 0) "
    "hash-scattered across 3 micro-batches, each screened via "
    "foreachBatch against a corpus-snapshot dedup index built once — "
    "per-source exact / near-dup / kept counts equal the batch operator",
    # literally d12's oracle: batching-invariant labels mean the drained
    # stream must reproduce the batch result exactly
    oracle=INCREMENTAL_DEDUP_ORACLE,
)
def st12_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot index is built once from the static old split; the
    delta streams through 3 micro-batches whose labels are batching-
    invariant (static index only), so the drained per-source rollup
    equals d12's batch result — proving the operator runs inside the
    streaming runtime with idempotent per-batch sinks."""
    import shutil
    import tempfile

    from dataclod_spark.registry import load as _load
    from dataclod_spark.streaming.run import (
        read_documents_stream_multibatch,
        streaming_incremental_dedup,
    )

    d = _load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    old = d.filter(F.pmod(F.col("doc_id"), F.lit(3)) != 0).select("doc_id", "text")
    stage = tempfile.mkdtemp(prefix="dataclod_incdedup_stage_")
    out = tempfile.mkdtemp(prefix="dataclod_incdedup_out_")
    try:
        ds = read_documents_stream_multibatch(spark, sf_dir, stage, n_files=3)
        res = streaming_incremental_dedup(ds, old, out, jaccard_threshold=0.2)
        # localCheckpoint: survives the sink directory's removal (st9 pattern)
        return incremental_rollup(res).localCheckpoint()
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


@query(
    "st13_stream_media_dedup",
    doc="streaming media ingest dedup: 3 micro-batches of new blobs "
    "screened against a static snapshot digest set (exact md5 identity), "
    "idempotent per-batch sinks — the drained per-source rollup equals "
    "the batch formulation (delta overlaps the snapshot 1-in-7, so the "
    "duplicate path fires across batch boundaries)",
    oracle="""
WITH snap AS (
  SELECT md5(text) AS dg FROM documents WHERE doc_id % 3 != 0
), delta AS (
  SELECT doc_id, source, md5(text) AS dg FROM documents
  WHERE doc_id % 3 = 0 OR doc_id % 7 = 0
), lab AS (
  SELECT d.doc_id, d.source,
         EXISTS (SELECT 1 FROM snap s WHERE s.dg = d.dg) AS is_dup
  FROM delta d
)
SELECT source,
       count(*) AS n_new,
       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       CAST(sum(CASE WHEN is_dup THEN doc_id ELSE 0 END) AS BIGINT) AS dup_id_sum
FROM lab
GROUP BY source
ORDER BY source
""",
)
def st13_stream_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming/run.streaming_media_dedup: digest set built once from
    the static snapshot split (documents with doc_id %% 3 != 0), the
    delta (%% 3 == 0 OR %% 7 == 0 — the %% 7 overlap rows ARE in the
    snapshot, so real duplicates occur) hash-scattered across 3
    maxFilesPerTrigger=1 micro-batches.  Labels are batching-invariant
    (static digest set only), so the drained rollup equals the batch
    EXISTS formulation the oracle spells."""
    import shutil
    import tempfile

    from dataclod_spark.registry import load as _load
    from dataclod_spark.streaming.run import (
        read_documents_stream_multibatch,
        streaming_media_dedup,
    )

    d = _load(spark, sf_dir, "documents")
    snapshot = d.filter(F.pmod(F.col("doc_id"), F.lit(3)) != 0).select(
        F.col("text").cast("binary").alias("content")
    )
    stage = tempfile.mkdtemp(prefix="dataclod_mediadedup_stage_")
    out = tempfile.mkdtemp(prefix="dataclod_mediadedup_out_")
    try:
        ds = read_documents_stream_multibatch(
            spark, sf_dir, stage, n_files=3,
            pred_sql="doc_id % 3 = 0 OR doc_id % 7 = 0",
        ).select("doc_id", "source", F.col("text").cast("binary").alias("content"))
        res = streaming_media_dedup(ds, snapshot, out)
        dup = F.col("is_duplicate").cast("int")
        return (
            res.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_new"),
                F.sum(dup).alias("n_dup"),
                F.sum(F.when(F.col("is_duplicate"), F.col("doc_id")).otherwise(F.lit(0))).alias(
                    "dup_id_sum"
                ),
            )
            .orderBy("source")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


@query(
    "st14_stream_dsir_score",
    doc="streaming DSIR data selection: the hashed-unigram weight table "
    "is trained once on the corpus snapshot (target = lang 'en'), then 3 "
    "micro-batches of newly-crawled documents are scored at ingest via "
    "foreachBatch — scores depend only on the static table, so the "
    "drained per-doc output equals the batch scorer (the sp7 "
    "formulation) on the delta",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang = 'en' AS is_t,
         CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 256 AS b
  FROM (SELECT doc_id, lang,
               unnest(string_split_regex(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), '\\s+')) AS t
        FROM documents)
  WHERE t <> ''
), bt AS (
  SELECT b, count(*) AS n_r, count(*) FILTER (WHERE is_t) AS n_t
  FROM toks GROUP BY b
), tot AS (
  SELECT sum(n_r) AS tr, sum(n_t) AS tt FROM bt
), w AS (
  SELECT b, CAST(round(ln(CAST(n_t + 1 AS DOUBLE))
                 - ln(CAST(tt + 256 AS DOUBLE))
                 - ln(CAST(n_r + 1 AS DOUBLE))
                 + ln(CAST(tr + 256 AS DOUBLE)), 6) AS DECIMAL(18,6)) AS wgt
  FROM bt CROSS JOIN tot
), db AS (
  SELECT doc_id, b, count(*) AS c FROM toks WHERE doc_id % 3 = 0
  GROUP BY doc_id, b
)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
       CAST(sum(c * wgt) AS DOUBLE) AS log_weight
FROM db JOIN w USING (b)
GROUP BY doc_id
ORDER BY doc_id
""",
)
def st14_stream_dsir_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming/run.streaming_dsir_score: weight table from the FULL
    snapshot (every delta token bucket is therefore present — the oracle
    needs no missing-bucket branch), delta = doc_id % 3 = 0 scattered
    across 3 maxFilesPerTrigger=1 micro-batches."""
    import shutil
    import tempfile

    from dataclod_spark.registry import load as _load
    from dataclod_spark.streaming.run import (
        read_documents_stream_multibatch,
        streaming_dsir_score,
    )

    snapshot = _load(spark, sf_dir, "documents")
    stage = tempfile.mkdtemp(prefix="dataclod_dsir_stage_")
    out = tempfile.mkdtemp(prefix="dataclod_dsir_out_")
    try:
        ds = read_documents_stream_multibatch(
            spark, sf_dir, stage, n_files=3, pred_sql="doc_id % 3 = 0"
        ).select("doc_id", "text")
        res = streaming_dsir_score(ds, snapshot, out)
        return res.select("doc_id", "n_tok", "log_weight").orderBy(
            "doc_id"
        ).localCheckpoint()
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


@query(
    "st15_stream_weighted_topk",
    doc="streaming weighted top-k candidate selection: the global "
    "Efraimidis-Spirakis top-150 by byte mass maintained across 3 "
    "micro-batches with k-row bounded state (top-k is an idempotent "
    "merge: state_n = topk(state_{n-1} UNION topk(batch_n)), replay-"
    "safe per-batch state dirs) — drained state equals the batch sp9 "
    "operator on the union of the batches",
    oracle="""
WITH hk AS (
  SELECT doc_id, lang, n_chars,
         (((doc_id % 4294967296) + 4294967296) % 4294967296) AS k
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
), w AS (
  SELECT doc_id, lang, n_chars,
         CAST(round(ln((((((k // 65536) * 2654435761) % 65536) * 65536
                         + (k % 65536) * 2654435761) % 4294967296 + 0.5)
                       / 4294967296.0) / n_chars, 6)
              AS DECIMAL(18,6)) AS es_key
  FROM hk
)
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(es_key AS DOUBLE) AS es_key
FROM w
ORDER BY es_key DESC, doc_id
LIMIT 150
""",
)
def st15_stream_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming/run.streaming_weighted_topk over the whole documents
    table scattered across 3 maxFilesPerTrigger=1 micro-batches; the
    deterministic E-S score makes the drained k-row state equal the
    batch operator on the union regardless of the batching."""
    import shutil
    import tempfile

    from dataclod_spark.streaming.run import (
        read_documents_stream_multibatch,
        streaming_weighted_topk,
    )

    stage = tempfile.mkdtemp(prefix="dataclod_wtopk_stage_")
    out = tempfile.mkdtemp(prefix="dataclod_wtopk_out_")
    try:
        ds = read_documents_stream_multibatch(
            spark, sf_dir, stage, n_files=3, pred_sql="doc_id >= 0"
        ).select("doc_id", "lang", "n_chars")
        res = streaming_weighted_topk(
            spark, ds, out, key="doc_id", weight_col=F.col("n_chars"), k=150
        )
        return (
            res.select(
                "doc_id",
                "lang",
                F.col("n_chars").cast("bigint").alias("n_chars"),
                F.col("es_key").cast("double").alias("es_key"),
            )
            .orderBy(F.col("es_key").desc(), "doc_id")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


@query(
    "st16_stream_source_drift",
    doc="streaming per-source drift monitor: the bounded (source x 64-"
    "bucket) hashed-unigram profile accumulated across 3 micro-batches "
    "(exact additive merge, replay-safe per-batch state dirs), JS "
    "divergence finalized over the drained state — equals the batch x27 "
    "operator on the union of the batches",
    oracle=f"""
WITH toks AS (
  SELECT source AS g,
         CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 64 AS b
  FROM (SELECT source, unnest({_TOKS_ST16}) AS t FROM documents)
  WHERE t <> ''
), gb AS (
  SELECT g, b, count(*) AS c FROM toks GROUP BY g, b
), tb AS (SELECT b, sum(c) AS cb FROM gb GROUP BY b),
tg AS (SELECT g, sum(c) AS cg FROM gb GROUP BY g),
tt AS (SELECT sum(c) AS ct FROM gb),
grid AS (SELECT g, cg, b, cb, ct FROM tg CROSS JOIN tb CROSS JOIN tt),
filled AS (
  SELECT grid.g, grid.cg, grid.cb, grid.ct, coalesce(gb.c, 0) AS c
  FROM grid LEFT JOIN gb ON grid.g = gb.g AND grid.b = gb.b
), pq AS (
  SELECT g, cg,
         CAST(c + 1 AS DOUBLE) / CAST(cg + 64 AS DOUBLE) AS p,
         CAST(cb - c + 1 AS DOUBLE) / CAST(ct - cg + 64 AS DOUBLE) AS q
  FROM filled
), terms AS (
  SELECT g, cg,
         CAST(round((p * ln(p / ((p + q) / 2))
                     + q * ln(q / ((p + q) / 2))) / 2, 6)
              AS DECIMAL(18,6)) AS term
  FROM pq
)
SELECT g AS source, CAST(max(cg) AS BIGINT) AS n_tok,
       CAST(sum(term) AS DOUBLE) AS js_divergence
FROM terms GROUP BY g
ORDER BY source
""",
)
def st16_stream_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming/run.streaming_source_drift over the whole documents
    table scattered across 3 maxFilesPerTrigger=1 micro-batches; the
    profile merge is exact addition, so the drained report equals the
    batch operator (and x27's oracle) on the union regardless of the
    batching."""
    import shutil
    import tempfile

    from dataclod_spark.streaming.run import (
        read_documents_stream_multibatch,
        streaming_source_drift,
    )

    stage = tempfile.mkdtemp(prefix="dataclod_drift_stage_")
    out = tempfile.mkdtemp(prefix="dataclod_drift_out_")
    try:
        ds = read_documents_stream_multibatch(
            spark, sf_dir, stage, n_files=3, pred_sql="doc_id >= 0"
        ).select("source", "text")
        res = streaming_source_drift(spark, ds, out)
        return res.orderBy("source").localCheckpoint()
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


@query(
    "st17_stream_contamination",
    doc="decontamination at ingest: the doc_id%97==0 benchmark gram set "
    "trained once from the static snapshot, 3 arriving micro-batches of "
    "training docs scored against the broadcast set (idempotent batch "
    "partitions) — drained output equals the batch x16 operator on the "
    "union of batches",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
  FROM documents
), grams AS (
  SELECT doc_id, list_distinct(list_transform(
      generate_series(1, greatest(len(ts) - 2, 0)),
      i -> array_to_string(ts[i:i+2], ' '))) AS gs
  FROM toks
), bench AS (
  SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 97 = 0
), ex AS (
  SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id % 97 <> 0
), hits AS (
  SELECT ex.doc_id, count(*) AS n_grams, count(b.g) AS n_hits
  FROM ex LEFT JOIN bench b ON ex.g = b.g
  GROUP BY ex.doc_id
)
SELECT doc_id, n_grams, n_hits,
       round(CAST(n_hits AS DOUBLE) / n_grams, 6) AS contamination
FROM hits
WHERE CAST(n_hits AS DOUBLE) / n_grams >= 0.05
ORDER BY doc_id
""",
)
def st17_stream_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming/run.streaming_contamination: the benchmark slice comes
    from the STATIC snapshot (trained once), the non-benchmark docs
    arrive across 3 maxFilesPerTrigger=1 micro-batches; scoring is
    per-row against the static set, so the drained result equals batch
    x16 regardless of the batching."""
    import shutil
    import tempfile

    from dataclod_spark.registry import load
    from dataclod_spark.streaming.run import (
        read_documents_stream_multibatch,
        streaming_contamination,
    )

    bench = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 97 == 0)
    stage = tempfile.mkdtemp(prefix="dataclod_contam_stage_")
    out = tempfile.mkdtemp(prefix="dataclod_contam_out_")
    try:
        ds = read_documents_stream_multibatch(
            spark, sf_dir, stage, n_files=3, pred_sql="doc_id % 97 <> 0"
        ).select("doc_id", "text")
        res = streaming_contamination(ds, bench, out)
        return res.select(
            "doc_id", "n_grams", "n_hits", "contamination"
        ).orderBy("doc_id").localCheckpoint()
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


from dataclod_spark.queries.text import _QUALITY as _QUALITY_ST18  # noqa: E402


@query(
    "st18_stream_calibration",
    doc="per-source quality calibration at ingest: the exact quantile "
    "grid fit ONCE from the static doc_id%3==0 snapshot (|sources|x20 "
    "rows, checkpointed), 3 arriving micro-batches mapped onto the "
    "frozen grid (broadcast join + array filter, idempotent batch "
    "partitions) — drained output equals the batch assignment against "
    "the same snapshot, whatever the batching",
    oracle=rf"""
WITH scored AS (
  SELECT doc_id, source, {_QUALITY_ST18} AS quality FROM documents
), snap AS (
  SELECT * FROM scored WHERE doc_id % 3 = 0
), r AS (
  SELECT source, quality AS x,
         row_number() OVER (PARTITION BY source ORDER BY quality) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM snap WHERE quality IS NOT NULL
), grid AS (
  SELECT source, x AS v
  FROM r CROSS JOIN (SELECT unnest(range(1, 21)) AS i) t
  WHERE rn = greatest((i * n + 19) // 20, 1)
), stream AS (
  SELECT * FROM scored WHERE doc_id % 3 <> 0
)
SELECT s.doc_id, s.source, s.quality,
       CASE WHEN s.quality IS NULL OR count(g.v) = 0 THEN NULL
            ELSE CAST(sum(CASE WHEN g.v <= s.quality THEN 1 ELSE 0 END) AS INT)
       END AS cal_bucket,
       CASE WHEN s.quality IS NULL OR count(g.v) = 0 THEN NULL
            ELSE round(sum(CASE WHEN g.v <= s.quality THEN 1 ELSE 0 END) / 20.0, 6)
       END AS calibrated
FROM stream s LEFT JOIN grid g USING (source)
GROUP BY s.doc_id, s.source, s.quality
ORDER BY s.doc_id
""",
)
def st18_stream_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming/run.streaming_calibration: grid trained on the static
    snapshot slice, the complementary docs arrive across 3
    maxFilesPerTrigger=1 micro-batches; assignment is per-row vs the
    frozen grid, so the drained result is batching-invariant."""
    import shutil
    import tempfile

    from dataclod_spark.registry import load
    from dataclod_spark.streaming.run import (
        read_documents_stream_multibatch,
        streaming_calibration,
    )

    snap = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    stage = tempfile.mkdtemp(prefix="dataclod_calib_stage_")
    out = tempfile.mkdtemp(prefix="dataclod_calib_out_")
    try:
        ds = read_documents_stream_multibatch(
            spark, sf_dir, stage, n_files=3, pred_sql="doc_id % 3 <> 0"
        ).select("doc_id", "source", "text")
        res = streaming_calibration(ds, snap, out)
        return res.select(
            "doc_id", "source", "quality", "cal_bucket", "calibrated"
        ).orderBy("doc_id").localCheckpoint()
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


@query(
    "st19_stream_span_decontamination",
    doc="span-level decontamination at ingest: the doc_id%8==0 "
    "benchmark's positional k-gram index built once (stop-hash guard "
    "trained on the BENCHMARK alone — a stream has no corpus-wide df), "
    "3 arriving micro-batches checked for verbatim >=8-token runs "
    "against the broadcast index (d19's diagonal run-merge, idempotent "
    "batch partitions) — drained output is batching-invariant",
    oracle=rf"""
WITH corpus AS (
  SELECT doc_id, text, doc_id % 8 = 0 AS is_bench FROM documents
), v AS (
  SELECT doc_id, is_bench, list_transform({_TOKS_ST16},
           t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS vals
  FROM corpus
), h AS (
  SELECT doc_id, is_bench,
         CASE WHEN len(vals) >= 3 THEN
           list_transform(generate_series(1, len(vals) - 2),
             i -> (vals[i] * 961 + vals[i+1] * 31 + vals[i+2]))
         ELSE [] END AS hashes
  FROM v
), p AS (
  SELECT doc_id, is_bench, i - 1 AS pos, hashes[i] AS hv
  FROM h CROSS JOIN unnest(generate_series(1, len(hashes))) AS t(i)
), bkept AS (
  SELECT p.doc_id AS bid, p.pos AS bpos, p.hv FROM p
  JOIN (SELECT hv FROM p WHERE is_bench GROUP BY hv HAVING count(*) <= 20) ok
    ON p.hv = ok.hv
  WHERE p.is_bench
), sp AS (
  SELECT doc_id, pos, hv FROM p WHERE NOT is_bench
), matched AS (
  SELECT sp.doc_id AS id, bkept.bid, sp.pos AS p1, bkept.bpos - sp.pos AS diag
  FROM sp JOIN bkept ON sp.hv = bkept.hv
), brk AS (
  SELECT id, bid, diag, p1,
         CASE WHEN p1 - lag(p1) OVER (PARTITION BY id, bid, diag ORDER BY p1) = 1
              THEN 0 ELSE 1 END AS b
  FROM matched
), rid AS (
  SELECT *, sum(b) OVER (PARTITION BY id, bid, diag ORDER BY p1) AS run_id
  FROM brk
), spans AS (
  SELECT id, bid, max(p1) - min(p1) + 3 AS span
  FROM rid GROUP BY id, bid, diag, run_id
), per_bench AS (
  SELECT id, bid, max(span) AS mx FROM spans GROUP BY id, bid HAVING max(span) >= 8
)
SELECT id AS doc_id,
       CAST(count(*) AS BIGINT) AS n_bench_docs,
       CAST(max(mx) AS BIGINT) AS max_span_tokens
FROM per_bench GROUP BY id ORDER BY doc_id
""",
)
def st19_stream_span_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming/run.streaming_span_decontamination: the benchmark index
    trained once from the static slice, the complementary docs arrive
    across 3 maxFilesPerTrigger=1 micro-batches; spans are per-row vs
    the static index, so the drained result equals the batch check
    whatever the batching."""
    import shutil
    import tempfile

    from dataclod_spark.registry import load
    from dataclod_spark.streaming.run import (
        read_documents_stream_multibatch,
        streaming_span_decontamination,
    )

    bench = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 8 == 0)
    stage = tempfile.mkdtemp(prefix="dataclod_span_stage_")
    out = tempfile.mkdtemp(prefix="dataclod_span_out_")
    try:
        ds = read_documents_stream_multibatch(
            spark, sf_dir, stage, n_files=3, pred_sql="doc_id % 8 <> 0"
        ).select("doc_id", "text")
        res = streaming_span_decontamination(ds, bench, out)
        return res.select(
            "doc_id", "n_bench_docs", "max_span_tokens"
        ).orderBy("doc_id").localCheckpoint()
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
