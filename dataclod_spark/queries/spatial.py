"""Spatial queries for the driver's DuckDB-oracle gate.

DuckDB here has no spatial extension (offline container), so these queries
synthesize geometries from INTEGER-derived coordinates of the ``events``
table and use oracles that compute the same result with plain arithmetic.
Integer coordinates make every double exact, so no rounding ambiguity exists
on either side.  (The WKT-level golden corpus — the reference's own
``spatial_udf.slt`` — is covered separately by tests/test_spatial_slt.py.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataclod_spark.registry import load, query


def _spatial(spark: SparkSession) -> None:
    from dataclod_spark.functions.spatial_udfs import register_all

    register_all(spark)


def _pts(spark: SparkSession, sf_dir: str, spread: bool = True) -> DataFrame:
    """Integer point cloud derived from events: (event_id%100, user_id%50).

    spread=True default: most consumers (g2/g5/g13) run a chained ST_*
    Arrow-UDF pipeline straight off the scan — the narrow payload shape
    that wins by the core count (interleaved best-of-3: g13 5.9 -> 1.7,
    g4 4.3 -> 1.4, g2 1.8 -> 1.6 s; the single-row-group events file
    otherwise runs the whole Python chain on one core).  g1 (one cheap
    UDF then agg: 1.6 -> 2.0) and g21 (shuffles immediately: 0.7 -> 1.3)
    measured losses and opt out."""
    e = load(spark, sf_dir, "events", spread=spread)
    return e.select(
        "event_id",
        (F.col("event_id") % 100).cast("double").alias("px"),
        (F.col("user_id") % 50).cast("double").alias("py"),
    )


@query(
    "g1_covers_count",
    doc="ST_Covers(envelope, point) count — boundary-inclusive containment",
    oracle="""
SELECT count(*) AS n_inside
FROM events
WHERE (event_id % 100) BETWEEN 10 AND 70
  AND (user_id % 50) BETWEEN 5 AND 40
""",
)
def g1_covers_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    _spatial(spark)
    p = _pts(spark, sf_dir, spread=False)
    p.createOrReplaceTempView("g1_points")
    return spark.sql(
        """
        SELECT count(*) AS n_inside
        FROM g1_points
        WHERE ST_Covers(ST_MakeEnvelope(10, 5, 70, 40), ST_MakePoint(px, py))
        """
    )


@query(
    "g2_dwithin_count",
    doc="ST_DWithin radius query around a fixed point",
    oracle="""
SELECT count(*) AS n_near
FROM events
WHERE sqrt(CAST((event_id % 100 - 50) * (event_id % 100 - 50)
               + (user_id % 50 - 25) * (user_id % 50 - 25) AS DOUBLE)) <= 20.0
""",
)
def g2_dwithin_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    _spatial(spark)
    p = _pts(spark, sf_dir)
    p.createOrReplaceTempView("g2_points")
    return spark.sql(
        """
        SELECT count(*) AS n_near
        FROM g2_points
        WHERE ST_DWithin(ST_MakePoint(px, py), ST_MakePoint(50, 25), 20.0)
        """
    )


@query(
    "g3_envelope_area_sum",
    doc="sum of ST_Area over per-row envelopes (exact integer areas)",
    oracle="""
SELECT CAST(sum((1 + event_id % 7) * (1 + user_id % 5)) AS BIGINT) AS total_area
FROM events
""",
)
def g3_envelope_area_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    _spatial(spark)
    # spread: chained ST_* Arrow-UDF pipeline off the scan (see _pts)
    e = load(spark, sf_dir, "events", spread=True)
    e.select(
        (F.col("event_id") % 100).cast("double").alias("x"),
        (F.col("user_id") % 50).cast("double").alias("y"),
        (1 + F.col("event_id") % 7).cast("double").alias("w"),
        (1 + F.col("user_id") % 5).cast("double").alias("h"),
    ).createOrReplaceTempView("g3_boxes")
    return spark.sql(
        """
        SELECT CAST(sum(ST_Area(ST_MakeEnvelope(x, y, x + w, y + h))) AS BIGINT)
               AS total_area
        FROM g3_boxes
        """
    )


@query(
    "g4_translate_bounds",
    doc="ST_Translate + ST_XMin/ST_YMax bounds per geometry (exact ints)",
    oracle="""
SELECT (event_id % 100) + (event_id % 11) AS new_xmin,
       (user_id % 50) + 5 + (user_id % 7)  AS new_ymax,
       count(*) AS n
FROM events
GROUP BY new_xmin, new_ymax
ORDER BY new_xmin, new_ymax
""",
)
def g4_translate_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    _spatial(spark)
    # spread: chained ST_* Arrow-UDF pipeline off the scan (see _pts)
    e = load(spark, sf_dir, "events", spread=True)
    e.select(
        (F.col("event_id") % 100).cast("double").alias("x"),
        (F.col("user_id") % 50).cast("double").alias("y"),
        (F.col("event_id") % 11).cast("double").alias("dx"),
        (F.col("user_id") % 7).cast("double").alias("dy"),
    ).createOrReplaceTempView("g4_boxes")
    return spark.sql(
        """
        SELECT CAST(ST_XMin(t) AS BIGINT) AS new_xmin,
               CAST(ST_YMax(t) AS BIGINT) AS new_ymax,
               count(*) AS n
        FROM (SELECT ST_Translate(ST_MakeEnvelope(x, y, x + 3, y + 5), dx, dy) AS t
              FROM g4_boxes)
        GROUP BY 1, 2
        ORDER BY 1, 2
        """
    )


@query(
    "g6_spatial_join_points_in_boxes",
    bench=True,
    doc="grid-partitioned spatial join: points-in-boxes counts per box",
    oracle="""
WITH boxes AS (
  SELECT event_id AS box_id,
         CAST(event_id % 97 AS DOUBLE) AS bx, CAST(user_id % 41 AS DOUBLE) AS by,
         CAST(3 + event_id % 5 AS DOUBLE) AS w, CAST(2 + user_id % 3 AS DOUBLE) AS h
  FROM events WHERE event_id % 50 = 0
), points AS (
  SELECT event_id AS point_id,
         CAST(event_id % 89 AS DOUBLE) AS px, CAST(user_id % 43 AS DOUBLE) AS py
  FROM events
)
SELECT box_id, count(*) AS n_points
FROM boxes JOIN points
  ON px BETWEEN bx AND bx + w AND py BETWEEN by AND by + h
GROUP BY box_id
ORDER BY box_id
""",
)
def g6_spatial_join_points_in_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataclod_spark.operators.spatial_join import spatial_join

    _spatial(spark)
    e = load(spark, sf_dir, "events")
    boxes = e.filter(F.col("event_id") % 50 == 0).select(
        F.col("event_id").alias("box_id"),
        (F.col("event_id") % 97).cast("double").alias("bx"),
        (F.col("user_id") % 41).cast("double").alias("by"),
        ((F.col("event_id") % 97) + 3 + F.col("event_id") % 5).cast("double").alias("bx2"),
        ((F.col("user_id") % 41) + 2 + F.col("user_id") % 3).cast("double").alias("by2"),
    )
    points = e.select(
        F.col("event_id").alias("point_id"),
        (F.col("event_id") % 89).cast("double").alias("px"),
        (F.col("user_id") % 43).cast("double").alias("py"),
    )
    # bbox-operand form: points and axis rectangles are bbox-exact, so the
    # whole join (partition, dedup, verdict) runs without a Python stage
    joined = spatial_join(
        points,
        boxes,
        "intersects",
        left_bbox=("px", "py", "px", "py"),
        right_bbox=("bx", "by", "bx2", "by2"),
        refine="none",
    )
    return (
        joined.groupBy("box_id")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy("box_id")
    )


@query(
    "g7_dwithin_join",
    doc="distance join (ST_DWithin) between two derived point sets",
    oracle="""
WITH a AS (
  SELECT event_id AS a_id,
         CAST(event_id % 89 AS DOUBLE) AS ax, CAST(user_id % 43 AS DOUBLE) AS ay
  FROM events WHERE event_id % 25 = 0
), b AS (
  SELECT event_id AS b_id,
         CAST(event_id % 97 AS DOUBLE) AS bx, CAST(user_id % 41 AS DOUBLE) AS by
  FROM events WHERE event_id % 40 = 0
)
SELECT count(*) AS n_pairs
FROM a JOIN b ON sqrt((ax - bx) * (ax - bx) + (ay - by) * (ay - by)) <= 5.0
""",
)
def g7_dwithin_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataclod_spark.operators.spatial_join import spatial_join

    _spatial(spark)
    e = load(spark, sf_dir, "events")
    a = e.filter(F.col("event_id") % 25 == 0).select(
        F.col("event_id").alias("a_id"),
        (F.col("event_id") % 89).cast("double").alias("ax"),
        (F.col("user_id") % 43).cast("double").alias("ay"),
    )
    b = e.filter(F.col("event_id") % 40 == 0).select(
        F.col("event_id").alias("b_id"),
        (F.col("event_id") % 97).cast("double").alias("bx"),
        (F.col("user_id") % 41).cast("double").alias("by"),
    )
    joined = spatial_join(
        a,
        b,
        "dwithin",
        distance=5.0,
        left_bbox=("ax", "ay", "ax", "ay"),
        right_bbox=("bx", "by", "bx", "by"),
        refine="none",
    )
    return joined.agg(F.count(F.lit(1)).alias("n_pairs"))


@query(
    "g8_rect_within_join",
    doc="polygon-in-polygon spatial join (within) — general refine path",
    oracle="""
WITH small AS (
  SELECT event_id AS s_id,
         CAST(event_id % 80 AS DOUBLE) AS sx, CAST(user_id % 35 AS DOUBLE) AS sy
  FROM events WHERE event_id % 60 = 0
), big AS (
  SELECT event_id AS b_id,
         CAST(event_id % 70 AS DOUBLE) AS bx, CAST(user_id % 30 AS DOUBLE) AS by
  FROM events WHERE event_id % 35 = 0
)
SELECT count(*) AS n_within
FROM small JOIN big
  ON bx <= sx AND sx + 2 <= bx + 12 AND by <= sy AND sy + 2 <= by + 12
""",
)
def g8_rect_within_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataclod_spark.operators.spatial_join import envelope_wkb, spatial_join

    _spatial(spark)
    e = load(spark, sf_dir, "events")
    small = (
        e.filter(F.col("event_id") % 60 == 0)
        .select(
            F.col("event_id").alias("s_id"),
            (F.col("event_id") % 80).cast("double").alias("sx"),
            (F.col("user_id") % 35).cast("double").alias("sy"),
        )
        .select(
            "s_id",
            "sx",
            "sy",
            envelope_wkb(F.col("sx"), F.col("sy"), F.col("sx") + 2, F.col("sy") + 2).alias("geom"),
        )
    )
    big = (
        e.filter(F.col("event_id") % 35 == 0)
        .select(
            F.col("event_id").alias("b_id"),
            (F.col("event_id") % 70).cast("double").alias("bx"),
            (F.col("user_id") % 30).cast("double").alias("by"),
        )
        .select(
            "b_id",
            "bx",
            "by",
            envelope_wkb(F.col("bx"), F.col("by"), F.col("bx") + 12, F.col("by") + 12).alias("geom"),
        )
    )
    # bbox operands skip the bbox-projection UDF; refine stays "auto" so the
    # masked Python refine stage remains exercised in the bench suite (the
    # all-exact pairs cross as null-masked Arrow batches)
    joined = spatial_join(
        small,
        big,
        "within",
        left_bbox=("sx", "sy", "sx + 2", "sy + 2"),
        right_bbox=("bx", "by", "bx + 12", "by + 12"),
    )
    return joined.agg(F.count(F.lit(1)).alias("n_within"))


@query(
    "g5_wkt_roundtrip",
    doc="ST_AsText(ST_MakePoint) WKT formatting over integer coordinates",
    oracle="""
SELECT 'POINT (' || CAST(event_id % 100 AS VARCHAR) || ' '
                 || CAST(user_id % 50 AS VARCHAR) || ')' AS wkt,
       count(*) AS n
FROM events
GROUP BY wkt
ORDER BY wkt
""",
)
def g5_wkt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    _spatial(spark)
    p = _pts(spark, sf_dir)
    p.createOrReplaceTempView("g5_points")
    return spark.sql(
        """
        SELECT ST_AsText(ST_MakePoint(px, py)) AS wkt, count(*) AS n
        FROM g5_points
        GROUP BY wkt
        ORDER BY wkt
        """
    )


@query(
    "g9_sql_spatial_join",
    bench=True,
    doc="SQL-path spatial join dispatch: plain JOIN ON ST_Intersects SQL text "
    "routed into the grid equi-join (plans/spatial_dispatch.py)",
    oracle="""
WITH boxes AS (
  SELECT event_id AS box_id,
         CAST(event_id % 97 AS DOUBLE) AS bx, CAST(user_id % 41 AS DOUBLE) AS by,
         CAST(3 + event_id % 5 AS DOUBLE) AS w, CAST(2 + user_id % 3 AS DOUBLE) AS h
  FROM events WHERE event_id % 50 = 0
), points AS (
  SELECT event_id AS point_id,
         CAST(event_id % 89 AS DOUBLE) AS px, CAST(user_id % 43 AS DOUBLE) AS py
  FROM events
)
SELECT box_id, count(*) AS n_points
FROM boxes JOIN points
  ON px BETWEEN bx AND bx + w AND py BETWEEN by AND by + h
GROUP BY box_id
ORDER BY box_id
""",
)
def g9_sql_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same workload as g6 but expressed as *SQL text* through
    EngineSession.sql — exercises the logical-rewrite parity path
    (reference optimizer.rs:33-113): the nested-loop plan is replaced by
    the cell equi-join before Catalyst sees it."""
    from dataclod_spark.operators.spatial_join import envelope_wkb, point_wkb
    from dataclod_spark.session import EngineSession

    sess = EngineSession(spark)
    e = load(spark, sf_dir, "events")
    (
        e.filter(F.col("event_id") % 50 == 0)
        .select(
            F.col("event_id").alias("box_id"),
            (F.col("event_id") % 97).cast("double").alias("bx"),
            (F.col("user_id") % 41).cast("double").alias("by"),
            (3 + F.col("event_id") % 5).cast("double").alias("w"),
            (2 + F.col("user_id") % 3).cast("double").alias("h"),
        )
        .select(
            "box_id",
            "bx",
            "by",
            "w",
            "h",
            envelope_wkb(
                F.col("bx"), F.col("by"), F.col("bx") + F.col("w"), F.col("by") + F.col("h")
            ).alias("geom"),
        )
        .createOrReplaceTempView("g9_boxes")
    )
    (
        e.select(
            F.col("event_id").alias("point_id"),
            (F.col("event_id") % 89).cast("double").alias("px"),
            (F.col("user_id") % 43).cast("double").alias("py"),
        )
        .select("point_id", "px", "py", point_wkb(F.col("px"), F.col("py")).alias("geom"))
        .createOrReplaceTempView("g9_points")
    )
    # bbox covering-column registration (≈ GeoParquet bbox metadata): the
    # dispatch derives the bbox columns with codegen expressions, skips the refine
    # stage (both sides exact), and Catalyst prunes the WKB constructor
    # UDFs out of the plan — the dispatched join runs 100% JVM-side.
    sess.register_bbox("g9_points", "geom", "px", "py", "px", "py", exact=True)
    sess.register_bbox(
        "g9_boxes", "geom", "bx", "by", "bx + w", "by + h", exact=True
    )
    return sess.sql(
        """
        SELECT b.box_id AS box_id, count(*) AS n_points
        FROM g9_points p JOIN g9_boxes b ON ST_Intersects(p.geom, b.geom)
        GROUP BY b.box_id
        ORDER BY b.box_id
        """
    )


@query(
    "g11_sql_outer_spatial_join",
    doc="SQL-path LEFT OUTER spatial join: routed through the DataFrame "
    "operator's outer completion (plans/spatial_dispatch.try_outer_spatial_join)",
    oracle="""
WITH boxes AS (
  SELECT event_id AS box_id,
         CAST(event_id % 97 AS DOUBLE) AS bx, CAST(user_id % 41 AS DOUBLE) AS by,
         CAST(3 + event_id % 5 AS DOUBLE) AS w, CAST(2 + user_id % 3 AS DOUBLE) AS h
  FROM events WHERE event_id % 50 = 0
), points AS (
  SELECT event_id AS point_id,
         CAST(event_id % 89 AS DOUBLE) AS px, CAST(user_id % 43 AS DOUBLE) AS py
  FROM events WHERE event_id % 3 = 0
)
SELECT count(*) AS n_rows,
       count(box_id) AS n_matched,
       count(*) - count(box_id) AS n_unmatched
FROM points LEFT JOIN boxes
  ON px BETWEEN bx AND bx + w AND py BETWEEN by AND by + h
""",
)
def g11_sql_outer_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT JOIN ... ON ST_Intersects in plain SQL: unmatched points must
    survive exactly once with a NULL right side (reference exec.rs:47-131
    supports all join types; the grid join's outer completion recovers
    unmatched rows via anti-join)."""
    from dataclod_spark.operators.spatial_join import envelope_wkb, point_wkb
    from dataclod_spark.session import EngineSession

    sess = EngineSession(spark)
    e = load(spark, sf_dir, "events")
    (
        e.filter(F.col("event_id") % 50 == 0)
        .select(
            F.col("event_id").alias("box_id"),
            (F.col("event_id") % 97).cast("double").alias("bx"),
            (F.col("user_id") % 41).cast("double").alias("by"),
            (3 + F.col("event_id") % 5).cast("double").alias("w"),
            (2 + F.col("user_id") % 3).cast("double").alias("h"),
        )
        .select(
            "box_id",
            "bx",
            "by",
            "w",
            "h",
            envelope_wkb(
                F.col("bx"), F.col("by"), F.col("bx") + F.col("w"), F.col("by") + F.col("h")
            ).alias("geom"),
        )
        .createOrReplaceTempView("g11_boxes")
    )
    (
        e.filter(F.col("event_id") % 3 == 0)
        .select(
            F.col("event_id").alias("point_id"),
            (F.col("event_id") % 89).cast("double").alias("px"),
            (F.col("user_id") % 43).cast("double").alias("py"),
        )
        .select("point_id", "px", "py", point_wkb(F.col("px"), F.col("py")).alias("geom"))
        .createOrReplaceTempView("g11_points")
    )
    sess.register_bbox("g11_points", "geom", "px", "py", "px", "py", exact=True)
    sess.register_bbox("g11_boxes", "geom", "bx", "by", "bx + w", "by + h", exact=True)
    return sess.sql(
        """
        SELECT count(*) AS n_rows,
               count(b.box_id) AS n_matched,
               count(*) - count(b.box_id) AS n_unmatched
        FROM g11_points p LEFT JOIN g11_boxes b ON ST_Intersects(p.geom, b.geom)
        """
    )


@query(
    "g12_sql_cte_spatial_join",
    doc="CTE-wrapped SQL spatial join: WITH-defined relation dispatched into "
    "the grid equi-join (CTE resolution in plans/spatial_dispatch.py)",
    oracle="""
WITH boxes AS (
  SELECT event_id AS box_id,
         CAST(event_id % 97 AS DOUBLE) AS bx, CAST(user_id % 41 AS DOUBLE) AS by,
         CAST(3 + event_id % 5 AS DOUBLE) AS w, CAST(2 + user_id % 3 AS DOUBLE) AS h
  FROM events WHERE event_id % 50 = 0
), points AS (
  SELECT event_id AS point_id,
         CAST(event_id % 89 AS DOUBLE) AS px, CAST(user_id % 43 AS DOUBLE) AS py
  FROM events
), big_boxes AS (
  SELECT * FROM boxes WHERE box_id % 100 = 0
)
SELECT box_id, count(*) AS n_points
FROM big_boxes JOIN points
  ON px BETWEEN bx AND bx + w AND py BETWEEN by AND by + h
GROUP BY box_id
ORDER BY box_id
""",
)
def g12_sql_cte_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spatial JOIN lives under a WITH clause whose CTE filters one
    side — the dispatch resolves the CTE against the query's own WITH
    prefix for schema checks and grid sampling, then splices the grid
    equi-join in place.  This side exercises the __st_bbox UDF path (no
    registered bbox metadata), keeping it driver-verified now that g9
    uses covering columns."""
    from dataclod_spark.operators.spatial_join import envelope_wkb, point_wkb
    from dataclod_spark.session import EngineSession

    sess = EngineSession(spark)
    e = load(spark, sf_dir, "events")
    (
        e.filter(F.col("event_id") % 50 == 0)
        .select(
            F.col("event_id").alias("box_id"),
            (F.col("event_id") % 97).cast("double").alias("bx"),
            (F.col("user_id") % 41).cast("double").alias("by"),
            (3 + F.col("event_id") % 5).cast("double").alias("w"),
            (2 + F.col("user_id") % 3).cast("double").alias("h"),
        )
        .select(
            "box_id",
            envelope_wkb(
                F.col("bx"), F.col("by"), F.col("bx") + F.col("w"), F.col("by") + F.col("h")
            ).alias("geom"),
        )
        .createOrReplaceTempView("g12_boxes")
    )
    (
        e.select(
            F.col("event_id").alias("point_id"),
            (F.col("event_id") % 89).cast("double").alias("px"),
            (F.col("user_id") % 43).cast("double").alias("py"),
        )
        .select("point_id", point_wkb(F.col("px"), F.col("py")).alias("geom"))
        .createOrReplaceTempView("g12_points")
    )
    return sess.sql(
        """
        WITH big_boxes AS (SELECT * FROM g12_boxes WHERE box_id % 100 = 0)
        SELECT b.box_id AS box_id, count(*) AS n_points
        FROM big_boxes b JOIN g12_points p ON ST_Intersects(p.geom, b.geom)
        GROUP BY b.box_id
        ORDER BY box_id
        """
    )


@query(
    "g10_geo_statistics",
    doc="GeoStatistics accumulator (analyze.rs parity): per-geometry "
    "summary UDF + JVM min/max/sum aggregation over a mixed column",
    oracle="""
WITH pts AS (
  SELECT CAST(event_id % 89 AS DOUBLE) AS px, CAST(user_id % 43 AS DOUBLE) AS py
  FROM events WHERE event_id % 7 = 0
), boxes AS (
  SELECT CAST(event_id % 97 AS DOUBLE) AS bx, CAST(user_id % 41 AS DOUBLE) AS by,
         CAST(3 + event_id % 5 AS DOUBLE) AS w, CAST(2 + user_id % 3 AS DOUBLE) AS h
  FROM events WHERE event_id % 50 = 0
), s AS (
  SELECT count(*) AS np,
         min(px) AS pxmin, min(py) AS pymin, max(px) AS pxmax, max(py) AS pymax
  FROM pts
), b AS (
  SELECT count(*) AS nb,
         min(bx) AS bxmin, min(by) AS bymin,
         max(bx + w) AS bxmax, max(by + h) AS bymax
  FROM boxes
)
SELECT np + nb                    AS total_geometries,
       np * 21 + nb * 93          AS total_size_bytes,
       np + nb * 5                AS total_points,
       np                         AS puntal_count,
       nb                         AS polygonal_count,
       least(pxmin, bxmin)        AS xmin,
       least(pymin, bymin)        AS ymin,
       greatest(pxmax, bxmax)     AS xmax,
       greatest(pymax, bymax)     AS ymax
FROM s, b
""",
)
def g10_geo_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The accumulator's totals are recomputable from the generating
    coordinates, so the oracle needs no WKB parsing: a point is 21 WKB
    bytes / 1 point, an envelope 93 bytes / 5 ring points."""
    from dataclod_spark.operators.geo_stats import geometry_statistics
    from dataclod_spark.operators.spatial_join import envelope_wkb, point_wkb

    e = load(spark, sf_dir, "events")
    pts = e.filter(F.col("event_id") % 7 == 0).select(
        point_wkb(
            (F.col("event_id") % 89).cast("double"),
            (F.col("user_id") % 43).cast("double"),
        ).alias("geom")
    )
    boxes = e.filter(F.col("event_id") % 50 == 0).select(
        envelope_wkb(
            (F.col("event_id") % 97).cast("double"),
            (F.col("user_id") % 41).cast("double"),
            (F.col("event_id") % 97 + 3 + F.col("event_id") % 5).cast("double"),
            (F.col("user_id") % 41 + 2 + F.col("user_id") % 3).cast("double"),
        ).alias("geom")
    )
    stats = geometry_statistics(pts.unionAll(boxes), "geom")
    return stats.select(
        "total_geometries",
        "total_size_bytes",
        "total_points",
        "puntal_count",
        "polygonal_count",
        "xmin",
        "ymin",
        "xmax",
        "ymax",
    )


@query(
    "g13_mvt_points",
    doc="ST_AsMVTGeom: tile-local affine + Y-flip + integer snap over a "
    "point cloud (st_asmvtgeom.rs parity; clip is a no-op for in-tile "
    "points so every coordinate is exact integer arithmetic)",
    oracle="""
SELECT CAST(round((event_id % 100) * 4096.0 / 100) AS BIGINT) AS mx,
       CAST(round((50 - user_id % 50) * 4096.0 / 50) AS BIGINT) AS my,
       count(*) AS n
FROM events
GROUP BY mx, my
ORDER BY mx, my
""",
)
def g13_mvt_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale factors 4096/100 and 4096/50 never land on .5 ties (96x ≡ 50
    and 92x ≡ 50 mod 100 have no solutions), so banker's rounding here and
    half-away rounding in DuckDB agree exactly."""
    _spatial(spark)
    p = _pts(spark, sf_dir)
    p.createOrReplaceTempView("g13_points")
    return spark.sql(
        """
        SELECT CAST(ST_X(m) AS BIGINT) AS mx,
               CAST(ST_Y(m) AS BIGINT) AS my,
               count(*) AS n
        FROM (SELECT ST_AsMVTGeom(ST_MakePoint(px, py),
                                  ST_MakeEnvelope(0, 0, 100, 50),
                                  4096, 256, true) AS m
              FROM g13_points)
        GROUP BY mx, my
        ORDER BY mx, my
        """
    )


@query(
    "g14_sql_multi_join_spatial",
    doc="SQL spatial join followed by a dimension equi-join in one FROM "
    "chain: only the spatial segment rewrites to the grid join, the "
    "region join rides along (optimizer.rs handles joins inside larger "
    "plans the same way)",
    oracle="""
WITH boxes AS (
  SELECT event_id AS box_id,
         CAST(event_id % 97 AS DOUBLE) AS bx, CAST(user_id % 41 AS DOUBLE) AS by,
         CAST(3 + event_id % 5 AS DOUBLE) AS w, CAST(2 + user_id % 3 AS DOUBLE) AS h
  FROM events WHERE event_id % 50 = 0
), points AS (
  SELECT event_id AS point_id,
         CAST(event_id % 89 AS DOUBLE) AS px, CAST(user_id % 43 AS DOUBLE) AS py
  FROM events WHERE event_id % 4 = 0
)
SELECT r.r_name AS r_name, count(*) AS n_pairs
FROM points p
JOIN boxes b ON p.px BETWEEN b.bx AND b.bx + b.w AND p.py BETWEEN b.by AND b.by + b.h
JOIN region r ON b.box_id % 5 = r.r_regionkey
GROUP BY r.r_name
ORDER BY r.r_name
""",
)
def g14_sql_multi_join_spatial(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataclod_spark.operators.spatial_join import envelope_wkb, point_wkb
    from dataclod_spark.session import EngineSession

    sess = EngineSession(spark)
    e = load(spark, sf_dir, "events")
    load(spark, sf_dir, "region").createOrReplaceTempView("g14_region")
    (
        e.filter(F.col("event_id") % 50 == 0)
        .select(
            F.col("event_id").alias("box_id"),
            (F.col("event_id") % 97).cast("double").alias("bx"),
            (F.col("user_id") % 41).cast("double").alias("by"),
            (3 + F.col("event_id") % 5).cast("double").alias("w"),
            (2 + F.col("user_id") % 3).cast("double").alias("h"),
        )
        .select(
            "box_id", "bx", "by", "w", "h",
            envelope_wkb(
                F.col("bx"), F.col("by"), F.col("bx") + F.col("w"), F.col("by") + F.col("h")
            ).alias("geom"),
        )
        .createOrReplaceTempView("g14_boxes")
    )
    (
        e.filter(F.col("event_id") % 4 == 0)
        .select(
            F.col("event_id").alias("point_id"),
            (F.col("event_id") % 89).cast("double").alias("px"),
            (F.col("user_id") % 43).cast("double").alias("py"),
        )
        .select("point_id", "px", "py", point_wkb(F.col("px"), F.col("py")).alias("geom"))
        .createOrReplaceTempView("g14_points")
    )
    sess.register_bbox("g14_points", "geom", "px", "py", "px", "py", exact=True)
    sess.register_bbox("g14_boxes", "geom", "bx", "by", "bx + w", "by + h", exact=True)
    return sess.sql(
        """
        SELECT r.r_name AS r_name, count(*) AS n_pairs
        FROM g14_points p
        JOIN g14_boxes b ON ST_Intersects(p.geom, b.geom)
        JOIN g14_region r ON b.box_id % 5 = r.r_regionkey
        GROUP BY r.r_name
        ORDER BY r.r_name
        """
    )


def _semi_views(spark: SparkSession, sf_dir: str, sess, prefix: str) -> None:
    """Shared point/box temp views for the EXISTS/NOT EXISTS gate queries
    (same synthetic geometry derivation as g9/g11)."""
    from dataclod_spark.operators.spatial_join import envelope_wkb, point_wkb

    e = load(spark, sf_dir, "events")
    (
        e.filter(F.col("event_id") % 50 == 0)
        .select(
            F.col("event_id").alias("box_id"),
            (F.col("event_id") % 97).cast("double").alias("bx"),
            (F.col("user_id") % 41).cast("double").alias("by"),
            (3 + F.col("event_id") % 5).cast("double").alias("w"),
            (2 + F.col("user_id") % 3).cast("double").alias("h"),
        )
        .select(
            "box_id", "bx", "by", "w", "h",
            envelope_wkb(
                F.col("bx"), F.col("by"), F.col("bx") + F.col("w"), F.col("by") + F.col("h")
            ).alias("geom"),
        )
        .createOrReplaceTempView(f"{prefix}_boxes")
    )
    (
        e.filter(F.col("event_id") % 3 == 0)
        .select(
            F.col("event_id").alias("point_id"),
            (F.col("event_id") % 89).cast("double").alias("px"),
            (F.col("user_id") % 43).cast("double").alias("py"),
        )
        .select("point_id", "px", "py", point_wkb(F.col("px"), F.col("py")).alias("geom"))
        .createOrReplaceTempView(f"{prefix}_points")
    )
    sess.register_bbox(f"{prefix}_points", "geom", "px", "py", "px", "py", exact=True)
    sess.register_bbox(f"{prefix}_boxes", "geom", "bx", "by", "bx + w", "by + h", exact=True)


@query(
    "g15_sql_exists_spatial",
    doc="Correlated spatial EXISTS in SQL → grid left-semi join "
    "(plans/spatial_dispatch.try_exists_spatial_join; exec.rs:47-131 semi "
    "join type parity).  Spark alone cannot plan this shape at all "
    "(PYTHON_UDF_IN_ON_CLAUSE), so the dispatch IS the operator.",
    oracle="""
WITH boxes AS (
  SELECT event_id AS box_id,
         CAST(event_id % 97 AS DOUBLE) AS bx, CAST(user_id % 41 AS DOUBLE) AS by,
         CAST(3 + event_id % 5 AS DOUBLE) AS w, CAST(2 + user_id % 3 AS DOUBLE) AS h
  FROM events WHERE event_id % 50 = 0
), points AS (
  SELECT event_id AS point_id,
         CAST(event_id % 89 AS DOUBLE) AS px, CAST(user_id % 43 AS DOUBLE) AS py
  FROM events WHERE event_id % 3 = 0
)
SELECT count(*) AS n_points, CAST(sum(point_id) AS BIGINT) AS id_sum
FROM points p
WHERE EXISTS (
  SELECT 1 FROM boxes b
  WHERE p.px BETWEEN b.bx AND b.bx + b.w AND p.py BETWEEN b.by AND b.by + b.h
    AND b.box_id % 2 = 0
)
""",
)
def g15_sql_exists_spatial(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataclod_spark.session import EngineSession

    sess = EngineSession(spark)
    _semi_views(spark, sf_dir, sess, "g15")
    return sess.sql(
        """
        SELECT count(*) AS n_points, sum(point_id) AS id_sum
        FROM g15_points p WHERE EXISTS (
          SELECT 1 FROM g15_boxes b
          WHERE ST_Intersects(p.geom, b.geom) AND b.box_id % 2 = 0
        )
        """
    )


@query(
    "g16_sql_not_exists_spatial",
    doc="Correlated spatial NOT EXISTS in SQL → grid left-anti join with a "
    "correlated non-spatial conjunct (inner grid join + row-id anti path)",
    oracle="""
WITH boxes AS (
  SELECT event_id AS box_id,
         CAST(event_id % 97 AS DOUBLE) AS bx, CAST(user_id % 41 AS DOUBLE) AS by,
         CAST(3 + event_id % 5 AS DOUBLE) AS w, CAST(2 + user_id % 3 AS DOUBLE) AS h
  FROM events WHERE event_id % 50 = 0
), points AS (
  SELECT event_id AS point_id,
         CAST(event_id % 89 AS DOUBLE) AS px, CAST(user_id % 43 AS DOUBLE) AS py
  FROM events WHERE event_id % 3 = 0
)
SELECT count(*) AS n_points, CAST(sum(point_id) AS BIGINT) AS id_sum
FROM points p
WHERE NOT EXISTS (
  SELECT 1 FROM boxes b
  WHERE p.px BETWEEN b.bx AND b.bx + b.w AND p.py BETWEEN b.by AND b.by + b.h
    AND b.box_id % 100 < p.point_id % 100
)
""",
)
def g16_sql_not_exists_spatial(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataclod_spark.session import EngineSession

    sess = EngineSession(spark)
    _semi_views(spark, sf_dir, sess, "g16")
    return sess.sql(
        """
        SELECT count(*) AS n_points, sum(point_id) AS id_sum
        FROM g16_points p WHERE NOT EXISTS (
          SELECT 1 FROM g16_boxes b
          WHERE ST_Intersects(p.geom, b.geom)
            AND b.box_id % 100 < p.point_id % 100
        )
        """
    )


@query(
    "g17_sql_region_query",
    doc="PostGIS-style region query: spatial predicate vs a WKT literal in "
    "WHERE; bbox covering columns inject pure-JVM prefilter conjuncts that "
    "push toward the scan (plans/spatial_dispatch.try_spatial_filter_"
    "pushdown), UDF retained only as exact refine for the non-rectangular "
    "literal",
    oracle="""
WITH points AS (
  SELECT event_id AS point_id,
         CAST(event_id % 89 AS DOUBLE) AS px, CAST(user_id % 43 AS DOUBLE) AS py
  FROM events
)
SELECT count(*) AS n_inside, CAST(sum(point_id) AS BIGINT) AS id_sum
FROM points
WHERE px >= 10 AND py >= 5 AND px <= 70 AND py <= 40
  AND (px - 10) * 35 + (py - 5) * 60 <= 2100
""",
)
def g17_sql_region_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Points inside the triangle (10,5)-(70,5)-(10,40): the dispatcher
    ANDs envelope conjuncts (px/py BETWEEN bounds) in front of the
    ST_Within UDF; the oracle spells the same triangle as half-plane
    arithmetic."""
    from dataclod_spark.operators.spatial_join import point_wkb
    from dataclod_spark.session import EngineSession

    sess = EngineSession(spark)
    e = load(spark, sf_dir, "events")
    (
        e.select(
            F.col("event_id").alias("point_id"),
            (F.col("event_id") % 89).cast("double").alias("px"),
            (F.col("user_id") % 43).cast("double").alias("py"),
        )
        .select("point_id", "px", "py", point_wkb(F.col("px"), F.col("py")).alias("geom"))
        .createOrReplaceTempView("g17_points")
    )
    sess.register_bbox("g17_points", "geom", "px", "py", "px", "py", exact=True)
    return sess.sql(
        """
        SELECT count(*) AS n_inside, sum(point_id) AS id_sum
        FROM g17_points t
        WHERE ST_CoveredBy(t.geom, ST_GeomFromText('POLYGON((10 5,70 5,10 40,10 5))'))
        """
    )


@query(
    "g18_sql_chain_spatial_second",
    doc="Spatial join at position 2 of an inner-join chain (dim equi-join "
    "first): the chain dispatcher (plans/spatial_dispatch."
    "try_chain_spatial_join) rewrites only the spatial segment wherever it "
    "sits, mirroring optimizer.rs matching the Join node anywhere in the "
    "plan",
    oracle="""
WITH boxes AS (
  SELECT event_id AS box_id,
         CAST(event_id % 97 AS DOUBLE) AS bx, CAST(user_id % 41 AS DOUBLE) AS by,
         CAST(3 + event_id % 5 AS DOUBLE) AS w, CAST(2 + user_id % 3 AS DOUBLE) AS h
  FROM events WHERE event_id % 50 = 0
), points AS (
  SELECT event_id AS point_id,
         CAST(event_id % 89 AS DOUBLE) AS px, CAST(user_id % 43 AS DOUBLE) AS py
  FROM events WHERE event_id % 4 = 0
)
SELECT r.r_name AS r_name, count(*) AS n_pairs
FROM region r
JOIN points p ON p.point_id % 5 = r.r_regionkey
JOIN boxes b ON p.px BETWEEN b.bx AND b.bx + b.w AND p.py BETWEEN b.by AND b.by + b.h
GROUP BY r.r_name
ORDER BY r.r_name
""",
)
def g18_sql_chain_spatial_second(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataclod_spark.operators.spatial_join import envelope_wkb, point_wkb
    from dataclod_spark.session import EngineSession

    sess = EngineSession(spark)
    e = load(spark, sf_dir, "events")
    load(spark, sf_dir, "region").createOrReplaceTempView("g18_region")
    (
        e.filter(F.col("event_id") % 50 == 0)
        .select(
            F.col("event_id").alias("box_id"),
            (F.col("event_id") % 97).cast("double").alias("bx"),
            (F.col("user_id") % 41).cast("double").alias("by"),
            (3 + F.col("event_id") % 5).cast("double").alias("w"),
            (2 + F.col("user_id") % 3).cast("double").alias("h"),
        )
        .select(
            "box_id", "bx", "by", "w", "h",
            envelope_wkb(
                F.col("bx"), F.col("by"), F.col("bx") + F.col("w"), F.col("by") + F.col("h")
            ).alias("geom"),
        )
        .createOrReplaceTempView("g18_boxes")
    )
    (
        e.filter(F.col("event_id") % 4 == 0)
        .select(
            F.col("event_id").alias("point_id"),
            (F.col("event_id") % 89).cast("double").alias("px"),
            (F.col("user_id") % 43).cast("double").alias("py"),
        )
        .select("point_id", "px", "py", point_wkb(F.col("px"), F.col("py")).alias("geom"))
        .createOrReplaceTempView("g18_points")
    )
    sess.register_bbox("g18_points", "geom", "px", "py", "px", "py", exact=True)
    sess.register_bbox("g18_boxes", "geom", "bx", "by", "bx + w", "by + h", exact=True)
    return sess.sql(
        """
        SELECT r.r_name AS r_name, count(*) AS n_pairs
        FROM g18_region r
        JOIN g18_points p ON p.point_id % 5 = r.r_regionkey
        JOIN g18_boxes b ON ST_Intersects(p.geom, b.geom)
        GROUP BY r.r_name
        ORDER BY r.r_name
        """
    )


def _dist_views(spark: SparkSession, sf_dir: str, sess, prefix: str) -> None:
    """Two derived point sets for the SQL distance-join gates (same
    derivation as g7's DataFrame twin)."""
    from dataclod_spark.operators.spatial_join import point_wkb

    e = load(spark, sf_dir, "events")
    (
        e.filter(F.col("event_id") % 25 == 0)
        .select(
            F.col("event_id").alias("a_id"),
            (F.col("event_id") % 89).cast("double").alias("ax"),
            (F.col("user_id") % 43).cast("double").alias("ay"),
        )
        .select("a_id", "ax", "ay", point_wkb(F.col("ax"), F.col("ay")).alias("geom"))
        .createOrReplaceTempView(f"{prefix}_a")
    )
    (
        e.filter(F.col("event_id") % 40 == 0)
        .select(
            F.col("event_id").alias("b_id"),
            (F.col("event_id") % 97).cast("double").alias("bx"),
            (F.col("user_id") % 41).cast("double").alias("by"),
        )
        .select("b_id", "bx", "by", point_wkb(F.col("bx"), F.col("by")).alias("geom"))
        .createOrReplaceTempView(f"{prefix}_b")
    )
    sess.register_bbox(f"{prefix}_a", "geom", "ax", "ay", "ax", "ay", exact=True)
    sess.register_bbox(f"{prefix}_b", "geom", "bx", "by", "bx", "by", exact=True)


@query(
    "g19_sql_dwithin_join",
    doc="SQL-path distance join: JOIN ON ST_DWithin(a, b, d) dispatched to "
    "the expanded-cell grid equi-join (spatial_expr_utils.rs:29-36 "
    "st_dwithin recognition); bbox-exact point operands keep the verdict "
    "pure JVM",
    oracle="""
WITH a AS (
  SELECT event_id AS a_id,
         CAST(event_id % 89 AS DOUBLE) AS ax, CAST(user_id % 43 AS DOUBLE) AS ay
  FROM events WHERE event_id % 25 = 0
), b AS (
  SELECT event_id AS b_id,
         CAST(event_id % 97 AS DOUBLE) AS bx, CAST(user_id % 41 AS DOUBLE) AS by
  FROM events WHERE event_id % 40 = 0
)
SELECT count(*) AS n_pairs, CAST(sum(a_id + b_id) AS BIGINT) AS id_sum
FROM a JOIN b ON (ax - bx) * (ax - bx) + (ay - by) * (ay - by) <= 25.0
""",
)
def g19_sql_dwithin_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataclod_spark.session import EngineSession

    sess = EngineSession(spark)
    _dist_views(spark, sf_dir, sess, "g19")
    return sess.sql(
        """
        SELECT count(*) AS n_pairs, sum(a.a_id + b.b_id) AS id_sum
        FROM g19_a a JOIN g19_b b ON ST_DWithin(a.geom, b.geom, 5.0)
        """
    )


@query(
    "g20_sql_distance_lt_join",
    doc="SQL-path ST_Distance(a, b) < d join predicate — the comparison "
    "form the reference's optimizer also recognizes as a distance join "
    "(spatial_expr_utils.rs:63-70); strict < (vs ST_DWithin's <=)",
    oracle="""
WITH a AS (
  SELECT event_id AS a_id,
         CAST(event_id % 89 AS DOUBLE) AS ax, CAST(user_id % 43 AS DOUBLE) AS ay
  FROM events WHERE event_id % 25 = 0
), b AS (
  SELECT event_id AS b_id,
         CAST(event_id % 97 AS DOUBLE) AS bx, CAST(user_id % 41 AS DOUBLE) AS by
  FROM events WHERE event_id % 40 = 0
)
SELECT count(*) AS n_pairs, CAST(sum(a_id + b_id) AS BIGINT) AS id_sum
FROM a JOIN b ON (ax - bx) * (ax - bx) + (ay - by) * (ay - by) < 25.0
""",
)
def g20_sql_distance_lt_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataclod_spark.session import EngineSession

    sess = EngineSession(spark)
    _dist_views(spark, sf_dir, sess, "g20")
    return sess.sql(
        """
        SELECT count(*) AS n_pairs, sum(a.a_id + b.b_id) AS id_sum
        FROM g20_a a JOIN g20_b b ON ST_Distance(a.geom, b.geom) < 5.0
        """
    )


def _zorder_sql(bits: int = 16) -> str:
    """DuckDB spelling of the Morton interleave over px/py with the same
    quantization as operators.layout.zorder_key (bounds 0..100 / 0..50)."""
    cells = (1 << bits) - 1
    qx = (
        f"least({cells}, greatest(0, CAST(floor((px - 0.0) / 100.0 * {cells + 1}) AS BIGINT)))"
    )
    qy = (
        f"least({cells}, greatest(0, CAST(floor((py - 0.0) / 50.0 * {cells + 1}) AS BIGINT)))"
    )
    terms = []
    for i in range(bits):
        terms.append(f"((({qx} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({qy} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@query(
    "g21_zorder_layout",
    doc="Z-order (Morton) layout key: space-filling-curve clustering stats "
    "per coarse tile (operators/layout.py — the OPTIMIZE ZORDER BY lever "
    "for row-group pruning at 100 TB)",
    oracle=f"""
WITH pts AS (
  SELECT CAST(event_id % 100 AS DOUBLE) AS px, CAST(user_id % 50 AS DOUBLE) AS py
  FROM events
), keyed AS (
  SELECT px, py, ({_zorder_sql()}) AS zkey FROM pts
)
SELECT zkey >> 22 AS tile,
       count(*) AS n_points,
       round(max(px) - min(px), 4) AS x_extent,
       round(max(py) - min(py), 4) AS y_extent
FROM keyed
GROUP BY tile
ORDER BY tile
""",
)
def g21_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows sorted by this key give every parquet row group a tight
    bounding box (min/max stats prune most of the table for any window
    query).  The per-tile extents in the output ARE the locality
    evidence: each 1024-key tile covers a tiny x/y box compared to the
    89x43 domain.  Pure codegen bit arithmetic, zero Python, zero extra
    shuffle for the key."""
    from dataclod_spark.operators.layout import zorder_key

    p = _pts(spark, sf_dir, spread=False)
    keyed = p.select(
        "px", "py", zorder_key(F.col("px"), F.col("py"), (0.0, 0.0, 100.0, 50.0)).alias("zkey")
    )
    return (
        keyed.groupBy(F.shiftright(F.col("zkey"), 22).alias("tile"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(F.max("px") - F.min("px"), 4).alias("x_extent"),
            F.round(F.max("py") - F.min("py"), 4).alias("y_extent"),
        )
        .orderBy("tile")
    )


@query(
    "g22_tile_heatmap",
    doc="slippy-tile heatmap: lon/lat-shaped point cloud bucketed to "
    "WebMercator z8 tiles with per-tile counts and value sums — the "
    "map-serving aggregation layer over a point corpus, pure codegen "
    "arithmetic (no UDF, no geometry objects)",
    oracle="""
WITH pts AS (
  SELECT CAST(event_id % 360 AS DOUBLE) - 180.0 + 0.5 AS lon,
         CAST(user_id % 160 AS DOUBLE) / 2.0 - 40.0 + 0.25 AS lat,
         value
  FROM events
), t AS (
  SELECT
    CAST(floor((lon + 180.0) / 360.0 * 256) AS BIGINT) AS tx,
    CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi())
               / 2.0 * 256) AS BIGINT) AS ty,
    value
  FROM pts
)
SELECT tx, ty, count(*) AS n_points,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_value
FROM t
GROUP BY tx, ty
ORDER BY tx, ty
""",
)
def g22_tile_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tile-pyramid aggregation a map service precomputes: WebMercator
    tile indices at zoom 8 (2^8 tiles per axis) as plain trigonometric
    expressions — whole-stage codegen end to end, one partial-aggregated
    shuffle on (tx, ty).  Latitudes stay within ±40° so the Mercator
    transform is well-conditioned and floor() never lands on a tile
    boundary tie (offsets 0.5/0.25 keep inputs off exact edges)."""
    e = load(spark, sf_dir, "events")
    lon = (F.col("event_id") % 360).cast("double") - 180.0 + 0.5
    lat = (F.col("user_id") % 160).cast("double") / 2.0 - 40.0 + 0.25
    n = 256  # 2^zoom
    latr = F.radians(lat)
    tx = F.floor((lon + 180.0) / 360.0 * n).cast("bigint")
    ty = F.floor(
        (1.0 - F.log(F.tan(latr) + 1.0 / F.cos(latr)) / 3.141592653589793) / 2.0 * n
    ).cast("bigint")
    return (
        e.select(tx.alias("tx"), ty.alias("ty"), "value")
        .groupBy("tx", "ty")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2
            ).alias("total_value"),
        )
        .orderBy("tx", "ty")
    )


@query(
    "g23_dbscan_clusters",
    doc="density-based spatial clustering (PostGIS ST_ClusterDBSCAN "
    "semantics): eps-neighbor pairs via the grid dwithin self-join, "
    "core/border classification, clusters as connected components of the "
    "core graph (operators/spatial_join.dbscan_clusters)",
    oracle="""
-- POSITION-SPACE form (round 11).  The point-space original walked
-- reachable (id,label) pairs over ~33k points: Sum |C|^2 blew up at
-- sf0.1 (audit-tooling limitation, r10).  Coordinates derive from
-- id % 89 / id % 43, so there are <= 89*43 = 3827 DISTINCT positions,
-- core-ness depends only on position (neighbor counts are position
-- sums), points at one position are mutually distance-0, and the core
-- graph's components equal the core-POSITION graph's components — the
-- same walk over positions is bounded by 3827^2 pairs at ANY scale.
-- Verified row-identical to the point-space form at sf0.001/sf0.01.
WITH RECURSIVE pts AS (
  SELECT event_id AS pid,
         CAST(event_id % 89 AS DOUBLE) AS px, CAST(user_id % 43 AS DOUBLE) AS py
  FROM events WHERE event_id % 3 = 0
), pos AS (
  SELECT px, py, count(*) AS cnt, min(pid) AS min_pid, sum(pid) AS sum_pid
  FROM pts GROUP BY px, py
), padj AS (
  SELECT a.px AS ax, a.py AS ay, b.px AS bx, b.py AS by, b.cnt AS bcnt
  FROM pos a JOIN pos b
    ON (a.px - b.px) * (a.px - b.px) + (a.py - b.py) * (a.py - b.py) <= 1.0
), ncount AS (
  SELECT ax AS px, ay AS py, sum(bcnt) AS n FROM padj GROUP BY ax, ay
), core_pos AS (
  SELECT p.px, p.py, p.cnt, p.min_pid, p.sum_pid
  FROM pos p JOIN ncount n ON n.px = p.px AND n.py = p.py
  WHERE n.n >= 6
), cpe AS (
  SELECT a.px AS ax, a.py AS ay, b.px AS bx, b.py AS by
  FROM core_pos a JOIN core_pos b
    ON (a.px - b.px) * (a.px - b.px) + (a.py - b.py) * (a.py - b.py) <= 1.0
), walk(x, y, lbl) AS (
  SELECT px, py, min_pid FROM core_pos
  UNION
  SELECT e.bx, e.by, walk.lbl FROM walk JOIN cpe e ON e.ax = walk.x AND e.ay = walk.y
), comp AS (
  SELECT x, y, min(lbl) AS cluster FROM walk GROUP BY x, y
), border AS (
  SELECT p.ax AS px, p.ay AS py, min(c.cluster) AS cluster
  FROM padj p
  JOIN comp c ON c.x = p.bx AND c.y = p.by
  WHERE NOT EXISTS (SELECT 1 FROM core_pos cp WHERE cp.px = p.ax AND cp.py = p.ay)
  GROUP BY p.ax, p.ay
), allp AS (
  SELECT c.cluster, cp.cnt AS n_core_c, 0 AS n_border_c, cp.sum_pid AS id_s
  FROM core_pos cp JOIN comp c ON c.x = cp.px AND c.y = cp.py
  UNION ALL
  SELECT b.cluster, 0, p.cnt, p.sum_pid
  FROM border b JOIN pos p ON p.px = b.px AND p.py = b.py
)
SELECT cluster,
       CAST(sum(n_core_c) AS BIGINT) AS n_core,
       CAST(sum(n_border_c) AS BIGINT) AS n_border,
       CAST(sum(id_s) AS BIGINT) AS id_sum
FROM allp GROUP BY cluster ORDER BY cluster
""",
)
def g23_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN (eps=1, minPts=6, neighbors counted with self) over the
    integer-derived point cloud; border ties break to the minimum
    adjacent core cluster — the determinism PostGIS leaves unspecified."""
    from dataclod_spark.operators.spatial_join import dbscan_clusters

    e = load(spark, sf_dir, "events")
    pts = e.filter(F.col("event_id") % 3 == 0).select(
        F.col("event_id").alias("pid"),
        (F.col("event_id") % 89).cast("double").alias("px"),
        (F.col("user_id") % 43).cast("double").alias("py"),
    )
    cl = dbscan_clusters(pts, "pid", "px", "py", eps=1.0, min_pts=6)
    return (
        cl.groupBy("cluster")
        .agg(
            F.sum(F.col("is_core").cast("int")).cast("bigint").alias("n_core"),
            F.sum((~F.col("is_core")).cast("int")).cast("bigint").alias("n_border"),
            F.sum("id").cast("bigint").alias("id_sum"),
        )
        .orderBy("cluster")
    )
