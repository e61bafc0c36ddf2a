"""Window-function surface — SURVEY.md §2.B (ranking, analytic, frames).

The reference inherits DataFusion's full window-function set (row_number,
rank, dense_rank, ntile, lag/lead, first/last/nth_value, aggregates over
ROWS/RANGE frames).  Spark's ``Window`` spec covers the same surface; GROUPS
frames are the one DataFusion feature Spark lacks (documented in SURVEY §7
Phase 5 — emulated via RANGE over a dense rank when needed).

Scale notes: every window here is partitioned (never a global single-partition
window over a fact table); ordering keys include a unique tiebreaker so
results are deterministic under any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dataclod_spark.registry import load, query


@query(
    "w1_running_total",
    bench=True,
    doc="cumulative sum per customer ordered by (orderdate, orderkey)",
    oracle="""
SELECT o_custkey, o_orderkey,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
                  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
         AS running_total
FROM orders
ORDER BY o_custkey, o_orderkey
""",
)
def w1_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    running = F.sum(F.col("o_totalprice").cast("decimal(18,6)")).over(w).cast("double")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.round(running, 2).alias("running_total"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "w2_rank_parts",
    doc="rank/dense_rank/row_number per brand, top-3 by retail price",
    oracle="""
SELECT p_brand, p_partkey, p_retailprice, rnk, drnk, rn
FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         rank()       OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rnk,
         dense_rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS drnk,
         row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
  FROM part
) ranked
WHERE rn <= 3
ORDER BY p_brand, rn
""",
)
def w2_rank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), "p_partkey")
    return (
        p.select(
            "p_brand",
            "p_partkey",
            "p_retailprice",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("p_brand", "rn")
    )


@query(
    "w3_lag_lead",
    doc="lag/lead analytics over a per-user event timeline",
    oracle="""
SELECT event_id, user_id,
       round(value - lag(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS delta_prev,
       round(lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) - value, 2) AS delta_next,
       first_value(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS first_type
FROM events
ORDER BY user_id, event_id
""",
)
def w3_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "event_id",
            "user_id",
            F.round(F.col("value") - F.lag("value").over(w), 2).alias("delta_prev"),
            F.round(F.lead("value").over(w) - F.col("value"), 2).alias("delta_next"),
            F.first("event_type").over(w).alias("first_type"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "w4_ntile_moving_avg",
    doc="ntile buckets + sliding-frame moving average",
    oracle="""
SELECT o_orderkey, o_custkey,
       ntile(4) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) AS quartile,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
                  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS moving_avg
FROM orders
ORDER BY o_orderkey
""",
)
def w4_ntile_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w_nt = W.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    w_ma = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-3, W.currentRow)
    )
    moving = (
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).over(w_ma).cast("double")
        / F.count(F.lit(1)).over(w_ma)
    )
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            F.ntile(4).over(w_nt).alias("quartile"),
            F.round(moving, 4).alias("moving_avg"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "w5_groups_frame",
    doc="GROUPS window frame (1 PRECEDING..CURRENT GROUP) emulated with "
    "RANGE over a dense_rank — the SURVEY §7 Phase 5 recipe; the oracle "
    "computes the same semantics independently (per-group sums + lag + "
    "join back, no window-frame emulation)",
    oracle="""
WITH g AS (
  SELECT o_custkey, o_orderdate,
         sum(CAST(o_totalprice AS DECIMAL(18,6))) AS gsum
  FROM orders GROUP BY o_custkey, o_orderdate
), gr AS (
  SELECT o_custkey, o_orderdate, gsum,
         lag(gsum) OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS prev_gsum
  FROM g
)
SELECT o.o_custkey, o.o_orderkey, o.o_orderdate,
       round(CAST(gr.gsum + coalesce(gr.prev_gsum, 0) AS DOUBLE), 2) AS grp_sum
FROM orders o
JOIN gr ON o.o_custkey = gr.o_custkey AND o.o_orderdate = gr.o_orderdate
ORDER BY o.o_custkey, o.o_orderkey
""",
)
def w5_groups_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark has no GROUPS frames (the one DataFusion window feature it
    lacks): ``GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW`` ≡ dense_rank
    the ordering values, then aggregate over ``RANGE BETWEEN 1 PRECEDING
    AND CURRENT ROW`` on the rank — peers share a rank, so rank distance
    IS group distance.  One extra window pass, same shuffle (both windows
    share the partitioning/ordering, Spark plans a single sort)."""
    o = load(spark, sf_dir, "orders")
    w_rank = W.partitionBy("o_custkey").orderBy("o_orderdate")
    ranked = o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.col("o_totalprice").cast("decimal(18,6)").alias("tp"),
        F.dense_rank().over(w_rank).alias("__grp"),
    )
    w_groups = (
        W.partitionBy("o_custkey").orderBy("__grp").rangeBetween(-1, W.currentRow)
    )
    return (
        ranked.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round(F.sum("tp").over(w_groups).cast("double"), 2).alias("grp_sum"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "w6_distribution_ranks",
    doc="distribution window functions: percent_rank, cume_dist, nth_value "
    "(completes the DataFusion ranking/analytic set beyond w2/w3)",
    oracle="""
SELECT o_custkey, o_orderkey,
       round(percent_rank() OVER w, 6) AS pr,
       round(cume_dist() OVER w, 6) AS cd,
       nth_value(o_orderkey, 2) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND UNBOUNDED FOLLOWING) AS second_order
FROM orders
WHERE o_custkey % 100 = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
ORDER BY o_custkey, o_orderkey
""",
)
def w6_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank/cume_dist divide two small integers (rank−1)/(n−1) and
    peers/n — IEEE division of exact ints, so rounding to 6 dp is
    bit-stable across engines."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") % 100 == 0)
    w = W.partitionBy("o_custkey").orderBy("o_orderkey")
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.nth_value("o_orderkey", 2).over(w_full).alias("second_order"),
    ).orderBy("o_custkey", "o_orderkey")


@query(
    "w7_cumulative_distinct",
    doc="cumulative COUNT(DISTINCT) over an ordered window — Spark forbids "
    "DISTINCT in window functions; emulated via first-occurrence flags + "
    "running sum, verified against an independent correlated-subquery oracle",
    oracle="""
WITH ev AS (
  SELECT event_type, user_id,
         CAST(epoch(time_bucket(INTERVAL '1 day', ts)) AS BIGINT) AS day
  FROM events
), days AS (
  SELECT DISTINCT event_type, day FROM ev
)
SELECT d.event_type, d.day,
       (SELECT count(DISTINCT e.user_id) FROM ev e
        WHERE e.event_type = d.event_type AND e.day <= d.day) AS cum_users
FROM days d
ORDER BY d.event_type, d.day
""",
)
def w7_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct users per event type by day.  The scalable
    emulation: each (type, user) contributes on its FIRST day only (one
    aggregate), new-user counts roll up per day, and a running sum over
    the day axis gives the cumulative distinct — two aggregates and one
    window instead of the quadratic re-count the naive form implies (the
    oracle deliberately IS that quadratic re-count, so the emulation is
    checked against an independent formulation)."""
    e = load(spark, sf_dir, "events")
    day = F.unix_timestamp(F.date_trunc("day", F.col("ts"))).alias("day")
    ev = e.select("event_type", "user_id", day)
    days = ev.select("event_type", "day").distinct()
    firsts = ev.groupBy("event_type", "user_id").agg(F.min("day").alias("first_day"))
    new_per_day = firsts.groupBy("event_type", F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    joined = days.join(new_per_day, ["event_type", "day"], "left").fillna(
        0, subset=["n_new"]
    )
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        joined.withColumn("cum_users", F.sum("n_new").over(w))
        .select("event_type", "day", "cum_users")
        .orderBy("event_type", "day")
    )


@query(
    "w8_groups_frame_sql",
    doc="GROUPS window frame accepted as raw SQL SYNTAX: EngineSession "
    "auto-rewrites it to the proven dense_rank+RANGE emulation (w5's "
    "recipe) — closing the one §2.B surface delta vs DataFusion's "
    "default SQL feature set; the oracle computes GROUPS semantics "
    "independently (per-group sums + lag + join — the container's DuckDB "
    "does not implement GROUPS mode, so a native-frame oracle is "
    "unavailable), the same independent formulation w5 uses",
    oracle="""
WITH g AS (
  SELECT o_custkey, o_orderdate,
         sum(CAST(o_totalprice AS DECIMAL(18,6))) AS gsum
  FROM orders GROUP BY o_custkey, o_orderdate
), gr AS (
  SELECT o_custkey, o_orderdate, gsum,
         lag(gsum) OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS prev_gsum
  FROM g
)
SELECT o.o_custkey, o.o_orderkey, o.o_orderdate,
       round(CAST(gr.gsum + coalesce(gr.prev_gsum, 0) AS DOUBLE), 2) AS grp_sum
FROM orders o
JOIN gr ON o.o_custkey = gr.o_custkey AND o.o_orderdate = gr.o_orderdate
ORDER BY o.o_custkey, o.o_orderkey
""",
)
def w8_groups_frame_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same workload as w5 but expressed as *SQL text with GROUPS syntax*
    through EngineSession.sql (reference surface: DataFusion
    ``with_default_features()``, src/core/src/context.rs:49-52 — GROUPS
    frames parse out of the box there).  plans/rewrites.py::
    rewrite_groups_frames restructures the statement to the RANGE-over-
    dense_rank form; same shuffle as w5 (both windows share the
    partitioning, Spark plans one sort)."""
    from dataclod_spark.session import EngineSession

    sess = EngineSession(spark)
    load(spark, sf_dir, "orders").createOrReplaceTempView("w8_orders")
    return sess.sql("""
SELECT o_custkey, o_orderkey, o_orderdate,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate
         GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS grp_sum
FROM w8_orders
ORDER BY o_custkey, o_orderkey
""")


@query(
    "w9_groups_frame_join_sql",
    doc="GROUPS window frame over a JOIN accepted as raw SQL syntax: the "
    "auto-rewrite wraps the whole join product in the dense_rank "
    "subquery, projecting the partition keys as named columns so the "
    "outer RANGE emulation never needs the hidden relation aliases "
    "(qualified refs in the OUTER text project inside the wrap as of "
    "round 8 — see w10); oracle is the same independent per-group-sum + "
    "lag formulation w8 uses (DuckDB has no GROUPS mode either)",
    oracle="""
WITH j AS (
  SELECT o_orderkey, c_mktsegment, o_orderdate, o_totalprice
  FROM orders JOIN customer ON o_custkey = c_custkey
), g AS (
  SELECT c_mktsegment, o_orderdate,
         sum(CAST(o_totalprice AS DECIMAL(18,6))) AS gsum
  FROM j GROUP BY c_mktsegment, o_orderdate
), gr AS (
  SELECT c_mktsegment, o_orderdate, gsum,
         lag(gsum) OVER (PARTITION BY c_mktsegment ORDER BY o_orderdate) AS prev
  FROM g
)
SELECT j.o_orderkey, j.c_mktsegment, j.o_orderdate,
       round(CAST(gr.gsum + coalesce(gr.prev, 0) AS DOUBLE), 2) AS seg_sum
FROM j JOIN gr ON j.c_mktsegment = gr.c_mktsegment
              AND j.o_orderdate = gr.o_orderdate
ORDER BY j.o_orderkey
""",
)
def w9_groups_frame_join_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPS syntax over ``orders JOIN customer`` through
    ``EngineSession.sql`` (reference surface: DataFusion parses GROUPS in
    any SELECT, src/core/src/context.rs:49-52; round 6 covered the
    single-relation shape, this is the join extension).  The rewrite
    plans ONE shuffle for the join, then the shared (segment, date) sort
    serves both the dense_rank and the RANGE emulation."""
    from dataclod_spark.session import EngineSession

    sess = EngineSession(spark)
    load(spark, sf_dir, "orders").createOrReplaceTempView("w9_orders")
    load(spark, sf_dir, "customer").createOrReplaceTempView("w9_customer")
    return sess.sql("""
SELECT o_orderkey, c_mktsegment, o_orderdate,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
         PARTITION BY c_mktsegment ORDER BY o_orderdate
         GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS seg_sum
FROM w9_orders JOIN w9_customer ON o_custkey = c_custkey
ORDER BY o_orderkey
""")


@query(
    "w10_groups_frame_join_qualified_sql",
    doc="GROUPS frame over a JOIN with alias-QUALIFIED references in the "
    "outer select list and ORDER BY — the most natural way users write "
    "joined window queries; the rewrite projects each outer chain inside "
    "the join wrap under a private alias (where the relation aliases "
    "still resolve) instead of declining (round-8 extension of w9)",
    oracle="""
WITH j AS (
  SELECT o_orderkey, c_mktsegment, o_orderdate, o_totalprice
  FROM orders JOIN customer ON o_custkey = c_custkey
), g AS (
  SELECT c_mktsegment, o_orderdate,
         sum(CAST(o_totalprice AS DECIMAL(18,6))) AS gsum
  FROM j GROUP BY c_mktsegment, o_orderdate
), gr AS (
  SELECT c_mktsegment, o_orderdate, gsum,
         lag(gsum) OVER (PARTITION BY c_mktsegment ORDER BY o_orderdate) AS prev
  FROM g
)
SELECT j.o_orderkey AS order_key, j.c_mktsegment AS segment,
       j.o_orderdate AS order_date,
       round(CAST(gr.gsum + coalesce(gr.prev, 0) AS DOUBLE), 2) AS seg_sum
FROM j JOIN gr ON j.c_mktsegment = gr.c_mktsegment
              AND j.o_orderdate = gr.o_orderdate
ORDER BY order_key
""",
)
def w10_groups_frame_join_qualified_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """w9's workload written the way a user naturally would — with
    alias-qualified outer references (``o.o_orderkey``, ``c.c_mktsegment``)
    that round 7 declined.  plans/rewrites.py::_inline_qualified_refs now
    projects each chain inside the join wrap as ``__gqN`` (the subquery's
    FROM is the original join tail verbatim, so ``o``/``c`` still resolve
    there) and substitutes the alias outside; same single join shuffle +
    shared (segment, date) window sort as w9."""
    from dataclod_spark.session import EngineSession

    sess = EngineSession(spark)
    load(spark, sf_dir, "orders").createOrReplaceTempView("w10_orders")
    load(spark, sf_dir, "customer").createOrReplaceTempView("w10_customer")
    return sess.sql("""
SELECT o.o_orderkey AS order_key, c.c_mktsegment AS segment,
       o.o_orderdate AS order_date,
       round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,6))) OVER (
         PARTITION BY c.c_mktsegment ORDER BY o.o_orderdate
         GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS seg_sum
FROM w10_orders o JOIN w10_customer c ON o.o_custkey = c.c_custkey
ORDER BY order_key
""")
