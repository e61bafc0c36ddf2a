"""The ``bi_wire`` traffic mix: statement templates and the seeded pool.

A run sends the pool in rounds.  Each round deals every pool statement
once across the clients, so every round holds the same kinds in the same
shares and per-kind medians compare across seeds.  The cold round sends 18
statements: 8 lookups, 3 catalog introspections, 4 reports, 2 spatial
joins and 1 COPY (44/17/22/11/6%); later rounds leave out the
information_schema listing (47/12/24/12/6% of 17).  The seed picks the
bound keys.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

# psql / BI-tool introspection, sent over the simple protocol like psql does
CATALOG = (
    "SELECT oid, typname, typcategory FROM pg_catalog.pg_type ORDER BY oid",
    "SELECT version() AS v, format_type(23, -1) AS int4, format_type(1043, 36) AS vc",
    "SELECT table_schema, table_name, table_type FROM information_schema.tables "
    "ORDER BY table_schema, table_name",
)
LOOKUPS = (
    ("orders", "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate "
               "FROM orders WHERE o_orderkey = $1"),
    ("customer", "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
                 "FROM customer WHERE c_custkey = $1"),
)
REPORTS = (
    "q3_top_orders", "q5_local_supplier", "q13_customer_distribution",
    "q18_large_volume_customer",
)
SPATIAL = (
    # g9-shaped: exact bboxes on both sides, dispatched to a JVM-only grid join
    "SELECT b.box_id AS box_id, count(*) AS n_points FROM bw_points p "
    "JOIN bw_boxes b ON ST_Intersects(p.geom, b.geom) GROUP BY b.box_id ORDER BY b.box_id",
    # non-exact buffered circles: the grid join refines in Python workers
    "SELECT c.circle_id AS circle_id, count(*) AS n_points FROM bw_cpoints p "
    "JOIN bw_circles c ON ST_Intersects(p.geom, c.geom) GROUP BY c.circle_id "
    "ORDER BY c.circle_id",
)
# psql's server-side COPY of the exactly-deduplicated corpus; ``{path}`` is
# filled in per statement by the client
WRITE = (
    "COPY (SELECT doc_id, text FROM documents WHERE doc_id IN "
    "(SELECT min(doc_id) FROM documents GROUP BY text)) TO '{path}' (FORMAT parquet)"
)


@dataclass(frozen=True)
class Statement:
    """One pool entry.  ``protocol`` is ``simple`` or ``extended``."""

    key: str
    kind: str
    sql: str
    params: tuple = ()
    protocol: str = "extended"
    cost_hint: float = 1.0  # rough seconds (sf0.01, 4 cores), for dealing rounds
    every_round: bool = True


def pool(seed: int, n_orders: int, n_customers: int, report_sql: dict[str, str]) -> list[Statement]:
    """The distinct statements of one run: 4 bound keys per lookup
    template, then every catalog, report, spatial and write statement."""
    rng = random.Random(seed)
    out = []
    for table, sql in LOOKUPS:
        upper = n_orders if table == "orders" else n_customers
        for key in rng.sample(range(upper), 4):
            out.append(Statement(f"lookup.{table}.{key}", "lookup", sql, (key,), cost_hint=0.5))
    # a BI tool lists the tables when it connects, not on every refresh:
    # information_schema runs in the cold round only
    out += [Statement(f"catalog.{i}", "catalog", sql, protocol="simple",
                      cost_hint=7.0 if "information_schema" in sql else 1.0,
                      every_round="information_schema" not in sql)
            for i, sql in enumerate(CATALOG)]
    # q18 lists every large order (tens of thousands of rows at sf0.1); a
    # BI report shows the top of it
    out += [Statement(f"report.{name}", "report",
                      report_sql[name].strip() + (" LIMIT 100" if name.startswith("q18") else ""),
                      cost_hint=2.0)
            for name in REPORTS]
    out += [Statement(f"spatial.{i}", "spatial", sql, cost_hint=3.0)
            for i, sql in enumerate(SPATIAL)]
    out.append(Statement("write.copy", "write", WRITE, protocol="simple", cost_hint=1.5))
    return out


def create_views(engine) -> None:
    """Register the spatial views the mix joins (server side, at set-up).

    ``bw_points``/``bw_boxes`` are g9's shapes over ``events``;
    ``bw_cpoints``/``bw_circles`` are 2,000 points and 200 buffered circles
    whose bboxes are registered as non-exact, so the join keeps its refine.
    """
    from pyspark.sql import functions as F

    from dataclod_spark.operators.spatial_join import envelope_wkb, point_wkb

    e = engine.spark.table("events")
    boxes = e.filter(F.col("event_id") % 50 == 0).select(
        F.col("event_id").alias("box_id"),
        (F.col("event_id") % 97).cast("double").alias("bx"),
        (F.col("user_id") % 41).cast("double").alias("by"),
        (3 + F.col("event_id") % 5).cast("double").alias("w"),
        (2 + F.col("user_id") % 3).cast("double").alias("h"),
    )
    boxes.select(
        "*", envelope_wkb(F.col("bx"), F.col("by"), F.col("bx") + F.col("w"),
                          F.col("by") + F.col("h")).alias("geom"),
    ).createOrReplaceTempView("bw_boxes")
    e.select(
        F.col("event_id").alias("point_id"),
        (F.col("event_id") % 89).cast("double").alias("px"),
        (F.col("user_id") % 43).cast("double").alias("py"),
    ).select("*", point_wkb(F.col("px"), F.col("py")).alias("geom")).createOrReplaceTempView(
        "bw_points")
    engine.register_bbox("bw_points", "geom", "px", "py", "px", "py", exact=True)
    engine.register_bbox("bw_boxes", "geom", "bx", "by", "bx + w", "by + h", exact=True)

    engine.sql(
        "CREATE OR REPLACE TEMP VIEW bw_cpoints AS SELECT event_id AS point_id, "
        "CAST(event_id % 101 AS DOUBLE) AS px, CAST(user_id % 47 AS DOUBLE) AS py, "
        "ST_MakePoint(CAST(event_id % 101 AS DOUBLE), CAST(user_id % 47 AS DOUBLE)) AS geom "
        "FROM events WHERE event_id < 2000"
    )
    engine.sql(
        "CREATE OR REPLACE TEMP VIEW bw_circles AS SELECT event_id AS circle_id, "
        "CAST(event_id % 97 AS DOUBLE) AS cx, CAST(user_id % 43 AS DOUBLE) AS cy, "
        "1.5 + (event_id % 3) AS r, "
        "ST_Buffer(ST_MakePoint(CAST(event_id % 97 AS DOUBLE), CAST(user_id % 43 AS DOUBLE)), "
        "1.5 + (event_id % 3)) AS geom FROM events WHERE event_id % 500 = 7"
    )
    engine.register_bbox("bw_cpoints", "geom", "px", "py", "px", "py", exact=True)
    engine.register_bbox("bw_circles", "geom", "cx - r", "cy - r", "cx + r", "cy + r")
