"""Event/time-series queries over the ``events`` stream-shaped table.

The reference has no streaming subsystem (SURVEY.md §2.C) — these are the
batch equivalents of the streaming operators exposed in
``dataclod_spark.streaming``: tumbling-window aggregation (≈ ``F.window`` +
watermark in the streaming path), sessionization (≈ session windows /
``applyInPandasWithState``), and JSON payload extraction.  Each batch form is
SQL-expressible, so all three carry DuckDB oracles.

Scale notes: sessionization is a single shuffle on ``user_id`` (the window
partition key) — at 100 TB the same plan holds because state is per-user and
Spark's window exec spills; no driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dataclod_spark.registry import load, query


@query(
    "e1_sessionization",
    bench=True,
    doc="30-min-gap sessionization via lag + cumulative flag sum",
    oracle="""
WITH flagged AS (
  SELECT user_id, event_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT user_id, event_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id,
       CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM sessions
GROUP BY user_id
ORDER BY user_id
""",
)
def e1_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # NOTE: the oracle orders the cumulative sum by event_id; ts order and
    # event_id order coincide per user in this data, and using event_id for
    # the running sum makes the frame deterministic on both engines.
    w_cum = W.partitionBy("user_id").orderBy("event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    flagged = e.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            # microsecond-exact gap, as the oracle's fractional epoch():
            # whole-second unix_timestamp would merge a 1,800.5 s gap
            | (F.col("ts") - F.lag("ts").over(w) > F.expr("INTERVAL 1800 SECONDS")),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(w_cum))
    return (
        sessions.groupBy("user_id")
        .agg(
            F.countDistinct("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


@query(
    "e2_tumbling_window",
    doc="tumbling 1-hour window aggregation (batch form of streaming F.window)",
    oracle="""
SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start,
       event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_value
FROM events
GROUP BY window_start, event_type
ORDER BY window_start, event_type
""",
)
def e2_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("win.start")).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "e4_asof_join",
    doc="as-of (point-in-time) join: each purchase attached to the user's "
    "most recent click at-or-before it (operators/asof_join.py — union + "
    "running-last window, one shuffle)",
    oracle="""
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
)
SELECT p.purchase_id,
       p.user_id,
       epoch_us(p.ts) AS purchase_us,
       m.click_id,
       m.click_us,
       round(m.click_value, 4) AS click_value
FROM p LEFT JOIN LATERAL (
  SELECT c.event_id AS click_id, epoch_us(c.ts) AS click_us, c.value AS click_value
  FROM c
  WHERE c.user_id = p.user_id AND c.ts <= p.ts
  ORDER BY c.ts DESC, c.event_id DESC
  LIMIT 1
) m ON true
ORDER BY purchase_id
""",
)
def e4_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kdb-aj / merge_asof semantics as a single-shuffle window plan —
    no Spark-native as-of join exists; see operators/asof_join.py for the
    union + last(ignorenulls) construction (ties broken by event_id)."""
    from dataclod_spark.operators.asof_join import asof_join

    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    joined = asof_join(
        purchases, clicks, on="ts", by="user_id", tiebreak="event_id"
    )
    # ts reads TIMESTAMP_NTZ on Spark 4.1 (parquet nanos); unix_micros wants
    # an instant — the cast is exact under the pinned UTC session zone
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    return joined.select(
        "purchase_id",
        "user_id",
        us("ts").alias("purchase_us"),
        F.col("event_id").alias("click_id"),
        us("ts_r").alias("click_us"),
        F.round("value", 4).alias("click_value"),
    ).orderBy("purchase_id")


@query(
    "e5_hypertable_rollup",
    doc="hypertable-style continuous aggregate: minute-level partials "
    "re-aggregated to hourly buckets (sum-of-sums / min-of-mins algebra)",
    oracle="""
SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS bucket_start,
       event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_value,
       round(min(value), 4) AS min_value,
       round(max(value), 4) AS max_value
FROM events
GROUP BY bucket_start, event_type
ORDER BY bucket_start, event_type
""",
)
def e5_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimescaleDB-continuous-aggregate shape: the fine (1-minute) rollup
    is materialized once, the coarse (1-hour) level re-aggregates the
    partials — count=sum(counts), sum=sum(sums), min=min(mins).  At 100 TB
    the fine rollup is the only pass over raw data; every coarser
    resolution reads the (tiny) next-finer aggregate.  The oracle computes
    the hourly answer directly from raw events, proving the re-aggregation
    algebra exact (sums carried as DECIMAL so grouping order is
    irrelevant)."""
    e = load(spark, sf_dir, "events")
    minute = e.groupBy(F.window("ts", "1 minute").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("psum"),
        F.min("value").alias("pmin"),
        F.max("value").alias("pmax"),
    )
    hour = (
        minute.groupBy(
            F.window(F.col("w.start"), "1 hour").alias("h"), "event_type"
        )
        .agg(
            F.sum("pn").alias("n_events"),
            F.round(F.sum("psum").cast("double"), 2).alias("total_value"),
            F.round(F.min("pmin"), 4).alias("min_value"),
            F.round(F.max("pmax"), 4).alias("max_value"),
        )
        .select(
            F.unix_timestamp(F.col("h.start")).alias("bucket_start"),
            "event_type",
            "n_events",
            "total_value",
            "min_value",
            "max_value",
        )
        .orderBy("bucket_start", "event_type")
    )
    return hour


@query(
    "e3_json_extract",
    doc="JSON payload extraction + grouped aggregate (get_json_object)",
    oracle="""
SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value), 4) AS avg_value
FROM events
GROUP BY k_mod
ORDER BY k_mod
""",
)
def e3_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.withColumn("k_mod", F.get_json_object("props", "$.k").cast("int") % 10)
        .groupBy("k_mod")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double") / F.count("value"), 4
            ).alias("avg_value"),
        )
        .orderBy("k_mod")
    )


@query(
    "e6_session_window",
    doc="native Spark session_window sessionization (30-min gap) — the "
    "built-in sibling of the applyInPandasWithState operator (st1) and "
    "the lag+cumsum batch form (e1)",
    oracle="""
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts)) + 1800 * 1000000 AS session_end_us,
       count(*) AS n_events
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_start_us
""",
)
def e6_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.session_window is the declarative form Catalyst can plan as a
    single partial+final session aggregation (and, in streaming, as the
    native session-window state store) — at 100 TB prefer this to the
    window-function islands form when only per-session aggregates are
    needed.  Spark's session end = last event + gap; the oracle mirrors
    that with max(ts) + gap."""
    e = load(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            us(F.col("w.start")).alias("session_start_us"),
            us(F.col("w.end")).alias("session_end_us"),
            "n_events",
        )
        .orderBy("user_id", "session_start_us")
    )


@query(
    "e7_funnel",
    doc="ordered event funnel: users progressing view -> click -> purchase "
    "(strict event-time ordering of per-user stage minima, one shuffle)",
    oracle="""
WITH stages AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events
  GROUP BY user_id
)
SELECT count(*) AS n_users,
       count(t_view) AS n_viewed,
       count(CASE WHEN t_view < t_click THEN 1 END) AS n_clicked_after_view,
       count(CASE WHEN t_view < t_click AND t_click < t_purchase THEN 1 END)
         AS n_full_funnel
FROM stages
""",
)
def e7_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The product-analytics staple: per-user minima of each stage's
    event time (one hash aggregate — conditional min, no joins, no
    window), then strict-order comparisons.  At 100 TB this is a single
    partial+final aggregate keyed by user."""
    e = load(spark, sf_dir, "events")

    def stage_min(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    stages = e.groupBy("user_id").agg(
        stage_min("view").alias("t_view"),
        stage_min("click").alias("t_click"),
        stage_min("purchase").alias("t_purchase"),
    )
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.count(F.when(F.col("t_view") < F.col("t_click"), 1)).alias(
            "n_clicked_after_view"
        ),
        F.count(
            F.when(
                (F.col("t_view") < F.col("t_click"))
                & (F.col("t_click") < F.col("t_purchase")),
                1,
            )
        ).alias("n_full_funnel"),
    )


@query(
    "e8_cohort_retention",
    doc="cohort retention matrix: users bucketed by first-activity day, "
    "distinct active users per (cohort_day, activity_day) offset",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         CAST(epoch(time_bucket(INTERVAL '1 day', min(ts))) AS BIGINT) AS cohort_day
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT e.user_id,
         CAST(epoch(time_bucket(INTERVAL '1 day', e.ts)) AS BIGINT) AS activity_day
  FROM events e
)
SELECT f.cohort_day,
       CAST((a.activity_day - f.cohort_day) / 86400 AS BIGINT) AS day_offset,
       count(*) AS n_active
FROM firsts f JOIN activity a ON f.user_id = a.user_id
GROUP BY f.cohort_day, day_offset
ORDER BY f.cohort_day, day_offset
""",
)
def e8_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort analysis: first-activity day per user (one aggregate),
    distinct (user, day) activity (one aggregate), hash-join on user_id,
    roll up to the retention matrix.  The big table is touched twice but
    never joined against itself at event granularity.  `firsts` is one
    row PER USER — not a bounded dimension — so it must NOT be broadcast
    (forcing it would OOM the driver at the 100 TB target); both sides
    shuffle on user_id and AQE may still choose broadcast when the user
    count is genuinely small."""
    e = load(spark, sf_dir, "events")
    day = lambda c: F.unix_timestamp(F.date_trunc("day", c))  # noqa: E731
    firsts = e.groupBy("user_id").agg(day(F.min("ts")).alias("cohort_day"))
    activity = e.select("user_id", day(F.col("ts")).alias("activity_day")).distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            "cohort_day",
            ((F.col("activity_day") - F.col("cohort_day")) / 86400)
            .cast("bigint")
            .alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort_day", "day_offset")
    )


@query(
    "e9_event_gap_profile",
    doc="inter-event gap profile per event type: lag() over each user's "
    "event-time order (microsecond-exact), rolled up to count / mean / "
    "max gap — the session-health diagnostic behind timeout tuning",
    oracle="""
WITH seq AS (
  SELECT event_type, user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), gaps AS (
  SELECT event_type, date_diff('microsecond', prev, ts) AS gap_us
  FROM seq WHERE prev IS NOT NULL
)
SELECT event_type,
       count(*) AS n_gaps,
       round(CAST(CAST(sum(gap_us) AS BIGINT) AS DOUBLE) / count(*) / 1000000.0, 3)
         AS avg_gap_s,
       CAST(max(gap_us) AS BIGINT) AS max_gap_us
FROM gaps
GROUP BY event_type
ORDER BY event_type
""",
)
def e9_event_gap_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One window shuffle on user_id (each user's timeline sorted once),
    one rollup shuffle on event_type.  Gaps are exact integer
    microseconds — lag ties broken by event_id so both engines see the
    same predecessor."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        e.select(
            "event_type",
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
            ).alias("gap_us"),
        )
        .filter(F.col("gap_us").isNotNull())
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(
                F.sum("gap_us").cast("bigint").cast("double")
                / F.count(F.lit(1))
                / 1000000.0,
                3,
            ).alias("avg_gap_s"),
            F.max("gap_us").cast("bigint").alias("max_gap_us"),
        )
        .orderBy("event_type")
    )


@query(
    "e10_asof_tolerance",
    doc="as-of join with a staleness tolerance (feature-store read "
    "semantics: a feature older than the lookback window is NO match, "
    "not a stale match) — each purchase takes the user's most recent "
    "click only if it is within 24h; same single-shuffle union+window "
    "plan as e4, the tolerance is a post-window filter",
    oracle="""
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
)
SELECT p.purchase_id,
       p.user_id,
       epoch_us(p.ts) AS purchase_us,
       m.click_id,
       m.click_us,
       round(m.click_value, 4) AS click_value
FROM p LEFT JOIN LATERAL (
  SELECT c.event_id AS click_id, epoch_us(c.ts) AS click_us, c.value AS click_value
  FROM c
  WHERE c.user_id = p.user_id
    AND c.ts <= p.ts
    AND c.ts >= p.ts - INTERVAL 86400 SECONDS
  ORDER BY c.ts DESC, c.event_id DESC
  LIMIT 1
) m ON true
ORDER BY purchase_id
""",
)
def e10_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.asof_join.asof_join with tolerance_sec=86400: the match
    outside the window becomes NULL (not stale) — the semantics feature
    stores need so a model never trains on an expired feature.  Same
    one-shuffle construction as e4; at sf0.01 the 24h window keeps 683
    of 1838 raw matches, exercising both the matched and expired paths."""
    from dataclod_spark.operators.asof_join import asof_join

    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    joined = asof_join(
        purchases, clicks, on="ts", by="user_id", tiebreak="event_id",
        tolerance_sec=86400,
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    return joined.select(
        "purchase_id",
        "user_id",
        us("ts").alias("purchase_us"),
        F.col("event_id").alias("click_id"),
        us("ts_r").alias("click_us"),
        F.round("value", 4).alias("click_value"),
    ).orderBy("purchase_id")
