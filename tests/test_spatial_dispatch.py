"""SQL-path spatial join dispatch: correctness vs brute force + plan shape.

The reference's only user interface is SQL, and its optimizer rewrites
``JOIN ... ON ST_pred(...)`` into SpatialJoinExec
(``spatial/src/join/planner/optimizer.rs:33-113``).  These tests pin the
Spark-side parity: the same SQL text must (a) produce brute-force-exact
results and (b) plan as a cell equi-join — never a BroadcastNestedLoopJoin
evaluating the predicate UDF over the cross product.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import types as T

from dataclod_spark.geo import core as GC
from dataclod_spark.geo import predicates as GP
from dataclod_spark.geo.algos import make_envelope, make_point

_SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("geom", T.BinaryType())]
)


@pytest.fixture(scope="module")
def sdata(engine):
    rnd = random.Random(3)
    boxes = []
    for i in range(40):
        x, y = rnd.uniform(0, 90), rnd.uniform(0, 90)
        boxes.append((i, make_envelope(x, y, x + rnd.uniform(1, 10), y + rnd.uniform(1, 10))))
    points = [(i, make_point(rnd.uniform(-5, 105), rnd.uniform(-5, 105))) for i in range(200)]
    spark = engine.spark
    spark.createDataFrame(
        [(i, GC.wkb_write(g)) for i, g in points], _SCHEMA
    ).withColumnRenamed("id", "pid").createOrReplaceTempView("disp_pts")
    spark.createDataFrame(
        [(i, GC.wkb_write(g)) for i, g in boxes], _SCHEMA
    ).withColumnRenamed("id", "bid").createOrReplaceTempView("disp_boxes")
    return boxes, points


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_intersects_sql_dispatch(engine, sdata):
    boxes, points = sdata
    df = engine.sql(
        "SELECT p.pid, b.bid FROM disp_pts p JOIN disp_boxes b "
        "ON ST_Intersects(p.geom, b.geom)"
    )
    got = {(r.pid, r.bid) for r in df.collect()}
    want = {(pi, bi) for pi, pg in points for bi, bg in boxes if GP.intersects(pg, bg)}
    assert got == want and got
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "__cell" in plan  # the grid equi-join key is the join key


def test_distance_comparison_dispatch(engine, sdata):
    boxes, points = sdata
    df = engine.sql(
        "SELECT p.pid, b.bid FROM disp_pts p JOIN disp_boxes b "
        "ON ST_Distance(p.geom, b.geom) <= 4.0"
    )
    got = {(r.pid, r.bid) for r in df.collect()}
    want = {(pi, bi) for pi, pg in points for bi, bg in boxes if GP.dwithin(pg, bg, 4.0)}
    assert got == want
    assert "BroadcastNestedLoopJoin" not in _plan(df)


def test_dwithin_extra_conjunct_dispatch(engine, sdata):
    boxes, points = sdata
    df = engine.sql(
        "SELECT p.pid, b.bid FROM disp_pts p JOIN disp_boxes b "
        "ON ST_DWithin(p.geom, b.geom, 4.0) AND p.pid % 2 = 0"
    )
    got = {(r.pid, r.bid) for r in df.collect()}
    want = {
        (pi, bi)
        for pi, pg in points
        for bi, bg in boxes
        if pi % 2 == 0 and GP.dwithin(pg, bg, 4.0)
    }
    assert got == want
    assert "BroadcastNestedLoopJoin" not in _plan(df)


def test_asymmetric_reversed_args_dispatch(engine, sdata):
    boxes, points = sdata
    df = engine.sql(
        "SELECT p.pid, b.bid FROM disp_pts p JOIN disp_boxes b "
        "ON ST_Contains(b.geom, p.geom)"
    )
    got = {(r.pid, r.bid) for r in df.collect()}
    want = {(pi, bi) for pi, pg in points for bi, bg in boxes if GP.contains(bg, pg)}
    assert got == want
    assert "BroadcastNestedLoopJoin" not in _plan(df)


def test_non_spatial_join_untouched(engine, sdata):
    df = engine.sql(
        "SELECT count(*) AS n FROM disp_pts p JOIN disp_boxes b ON p.pid = b.bid"
    )
    assert df.collect()[0].n == 40
    assert "__cell" not in _plan(df)


def test_group_by_tail_preserved(engine, sdata):
    boxes, points = sdata
    df = engine.sql(
        "SELECT b.bid AS bid, count(*) AS n FROM disp_pts p JOIN disp_boxes b "
        "ON ST_Intersects(p.geom, b.geom) GROUP BY b.bid ORDER BY b.bid"
    )
    want: dict[int, int] = {}
    for pi, pg in points:
        for bi, bg in boxes:
            if GP.intersects(pg, bg):
                want[bi] = want.get(bi, 0) + 1
    got = {r.bid: r.n for r in df.collect()}
    assert got == want


def test_left_outer_sql_dispatch(engine, sdata):
    boxes, points = sdata
    df = engine.sql(
        "SELECT p.pid, b.bid FROM disp_pts p LEFT JOIN disp_boxes b "
        "ON ST_Intersects(p.geom, b.geom)"
    )
    got = {(r.pid, r.bid) for r in df.collect()}
    matched = {(pi, bi) for pi, pg in points for bi, bg in boxes if GP.intersects(pg, bg)}
    matched_pids = {p for p, _ in matched}
    want = matched | {(pi, None) for pi, _ in points if pi not in matched_pids}
    assert got == want
    assert "BroadcastNestedLoopJoin" not in _plan(df)


def test_full_outer_sql_dispatch(engine, sdata):
    boxes, points = sdata
    df = engine.sql(
        "SELECT p.pid, b.bid FROM disp_pts p FULL OUTER JOIN disp_boxes b "
        "ON ST_Contains(b.geom, p.geom)"
    )
    got = {(r.pid, r.bid) for r in df.collect()}
    matched = {(pi, bi) for pi, pg in points for bi, bg in boxes if GP.contains(bg, pg)}
    mp = {p for p, _ in matched}
    mb = {b for _, b in matched}
    want = (
        matched
        | {(pi, None) for pi, _ in points if pi not in mp}
        | {(None, bi) for bi, _ in boxes if bi not in mb}
    )
    assert got == want
    assert "BroadcastNestedLoopJoin" not in _plan(df)


def test_cte_sql_dispatch(engine, sdata):
    boxes, points = sdata
    df = engine.sql(
        "WITH even_boxes AS (SELECT * FROM disp_boxes WHERE bid % 2 = 0) "
        "SELECT p.pid, b.bid FROM disp_pts p JOIN even_boxes b "
        "ON ST_Intersects(p.geom, b.geom)"
    )
    got = {(r.pid, r.bid) for r in df.collect()}
    want = {
        (pi, bi)
        for pi, pg in points
        for bi, bg in boxes
        if bi % 2 == 0 and GP.intersects(pg, bg)
    }
    assert got == want and got
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "__cell" in plan


def test_bbox_metadata_dispatch_prunes_python(engine, sdata):
    """register_bbox covering columns: the dispatched join must carry no
    Python stage at all (bbox + verdict fully codegen)."""
    from pyspark.sql import functions as F

    from dataclod_spark.operators.spatial_join import envelope_wkb, point_wkb

    spark = engine.spark
    pts = spark.table("disp_pts").selectExpr("pid", "geom")
    # rebuild coordinate columns alongside the WKB so metadata can cover them
    import random as _r

    rnd = _r.Random(3)
    boxes_rows = []
    for i in range(40):
        x, y = rnd.uniform(0, 90), rnd.uniform(0, 90)
        boxes_rows.append((i, x, y, x + rnd.uniform(1, 10), y + rnd.uniform(1, 10)))
    bdf = spark.createDataFrame(boxes_rows, "bid long, x0 double, y0 double, x1 double, y1 double")
    bdf.select(
        "bid", "x0", "y0", "x1", "y1",
        envelope_wkb(F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1")).alias("geom"),
    ).createOrReplaceTempView("meta_boxes")
    pts_rows = [(i, rnd.uniform(-5, 105), rnd.uniform(-5, 105)) for i in range(200)]
    pdf = spark.createDataFrame(pts_rows, "pid long, px double, py double")
    pdf.select("pid", "px", "py", point_wkb(F.col("px"), F.col("py")).alias("geom")) \
        .createOrReplaceTempView("meta_pts")
    engine.register_bbox("meta_pts", "geom", "px", "py", "px", "py", exact=True)
    engine.register_bbox("meta_boxes", "geom", "x0", "y0", "x1", "y1", exact=True)
    df = engine.sql(
        "SELECT p.pid, b.bid FROM meta_pts p JOIN meta_boxes b "
        "ON ST_Intersects(p.geom, b.geom)"
    )
    got = {(r.pid, r.bid) for r in df.collect()}
    want = {
        (pi, bi)
        for pi, px, py in pts_rows
        for bi, x0, y0, x1, y1 in boxes_rows
        if x0 <= px <= x1 and y0 <= py <= y1
    }
    assert got == want and got
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan  # fully JVM: no bbox UDF, no refine


def test_multi_join_spatial_first_dispatch(engine, sdata):
    """Spatial join followed by an ordinary equi-join: only the spatial
    segment is rewritten; the dimension join rides along verbatim."""
    boxes, points = sdata
    spark = engine.spark
    spark.createDataFrame(
        [(i, f"cat{i % 3}") for i in range(40)], "bid long, category string"
    ).createOrReplaceTempView("disp_dim")
    df = engine.sql(
        "SELECT p.pid, b.bid, d.category FROM disp_pts p "
        "JOIN disp_boxes b ON ST_Intersects(p.geom, b.geom) "
        "JOIN disp_dim d ON b.bid = d.bid "
        "WHERE p.pid % 2 = 0"
    )
    got = {(r.pid, r.bid, r.category) for r in df.collect()}
    want = {
        (pi, bi, f"cat{bi % 3}")
        for pi, pg in points
        for bi, bg in boxes
        if pi % 2 == 0 and GP.intersects(pg, bg)
    }
    assert got == want and got
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "__cell" in plan


def test_exists_semi_sql_dispatch(engine, sdata):
    """Correlated spatial EXISTS → grid left-semi join (reference
    exec.rs:47-131 semi join type; optimizer.rs rewrites decorrelated
    ExistenceJoins too)."""
    boxes, points = sdata
    df = engine.sql(
        "SELECT p.pid FROM disp_pts p WHERE EXISTS "
        "(SELECT 1 FROM disp_boxes b WHERE ST_Intersects(p.geom, b.geom))"
    )
    got = {r.pid for r in df.collect()}
    want = {pi for pi, pg in points if any(GP.intersects(pg, bg) for _, bg in boxes)}
    assert got == want and got
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "__cell" in plan


def test_not_exists_anti_sql_dispatch(engine, sdata):
    boxes, points = sdata
    df = engine.sql(
        "SELECT p.pid FROM disp_pts p WHERE NOT EXISTS "
        "(SELECT 1 FROM disp_boxes b WHERE ST_Contains(b.geom, p.geom))"
    )
    got = {r.pid for r in df.collect()}
    want = {pi for pi, pg in points if not any(GP.contains(bg, pg) for _, bg in boxes)}
    assert got == want and got
    assert "BroadcastNestedLoopJoin" not in _plan(df)


def test_exists_right_filter_and_outer_tail(engine, sdata):
    """Inner-only conjuncts pre-filter the inner side; an AND after the
    EXISTS stays a post-filter on the outer side; GROUP BY tail survives."""
    boxes, points = sdata
    df = engine.sql(
        "SELECT p.pid % 2 AS par, count(*) AS n FROM disp_pts p WHERE EXISTS "
        "(SELECT 1 FROM disp_boxes b WHERE ST_Intersects(p.geom, b.geom) "
        "AND b.bid % 2 = 0) AND p.pid < 150 "
        "GROUP BY p.pid % 2 ORDER BY par"
    )
    got = {(r.par, r.n) for r in df.collect()}
    want_pids = {
        pi
        for pi, pg in points
        if pi < 150 and any(bi % 2 == 0 and GP.intersects(pg, bg) for bi, bg in boxes)
    }
    want: dict[int, int] = {}
    for pi in want_pids:
        want[pi % 2] = want.get(pi % 2, 0) + 1
    assert got == set(want.items()) and got
    assert "BroadcastNestedLoopJoin" not in _plan(df)


def test_exists_correlated_extra_dispatch(engine, sdata):
    """A non-spatial conjunct correlating the outer alias joins the
    semi-join condition: inner grid join + post-filter + row-id semi.
    (Spark cannot plan this at all — PYTHON_UDF_IN_ON_CLAUSE — so dispatch
    is the only path.)"""
    boxes, points = sdata
    df = engine.sql(
        "SELECT p.pid FROM disp_pts p WHERE EXISTS "
        "(SELECT 1 FROM disp_boxes b WHERE ST_Intersects(p.geom, b.geom) "
        "AND b.bid < p.pid)"
    )
    got = {r.pid for r in df.collect()}
    want = {
        pi
        for pi, pg in points
        if any(bi < pi and GP.intersects(pg, bg) for bi, bg in boxes)
    }
    assert got == want and got
    assert "BroadcastNestedLoopJoin" not in _plan(df)


def test_not_exists_correlated_extra_dispatch(engine, sdata):
    boxes, points = sdata
    df = engine.sql(
        "SELECT p.pid FROM disp_pts p WHERE NOT EXISTS "
        "(SELECT 1 FROM disp_boxes b WHERE ST_Intersects(p.geom, b.geom) "
        "AND b.bid < p.pid)"
    )
    got = {r.pid for r in df.collect()}
    want = {
        pi
        for pi, pg in points
        if not any(bi < pi and GP.intersects(pg, bg) for bi, bg in boxes)
    }
    assert got == want and got
    assert "BroadcastNestedLoopJoin" not in _plan(df)


def test_literal_filter_pushdown(engine, sdata):
    """Region query vs a WKT literal: with bbox covering columns the
    rewrite injects pure-column conjuncts that reach the parquet/file scan
    as pushable filters; results stay brute-force exact."""
    from pyspark.sql import functions as F

    from dataclod_spark.operators.spatial_join import point_wkb

    spark = engine.spark
    import random as _r

    rnd = _r.Random(7)
    pts_rows = [(i, rnd.uniform(0, 100), rnd.uniform(0, 100)) for i in range(300)]
    pdf = spark.createDataFrame(pts_rows, "pid long, px double, py double")
    pdf.select("pid", "px", "py", point_wkb(F.col("px"), F.col("py")).alias("geom")) \
        .createOrReplaceTempView("push_pts")
    engine.register_bbox("push_pts", "geom", "px", "py", "px", "py", exact=True)

    # non-rectangular literal: bbox conjuncts prefilter, UDF refines
    df = engine.sql(
        "SELECT pid FROM push_pts t WHERE "
        "ST_Intersects(t.geom, ST_GeomFromText('POLYGON((10 10,60 10,10 60,10 10))'))"
    )
    got = {r.pid for r in df.collect()}
    want = {
        pid
        for pid, x, y in pts_rows
        if x >= 10 and y >= 10 and (x - 10) + (y - 10) <= 50 and x <= 60 and y <= 60
    }
    assert got == want and got
    plan = _plan(df)
    assert "Filter" in plan

    # axis-rectangle literal + exact covering: UDF eliminated entirely
    df2 = engine.sql(
        "SELECT pid FROM push_pts t WHERE "
        "ST_Within(t.geom, ST_GeomFromText('POLYGON((20 20,70 20,70 80,20 80,20 20))'))"
    )
    got2 = {r.pid for r in df2.collect()}
    want2 = {pid for pid, x, y in pts_rows if 20 <= x <= 70 and 20 <= y <= 80}
    assert got2 == want2 and got2
    plan2 = _plan(df2)
    assert "EvalPython" not in plan2  # zero Python: conjuncts ARE the predicate


def test_literal_filter_pushdown_reversed_and_dwithin(engine, sdata):
    """Literal-first argument order swaps the predicate direction; DWithin
    expands the envelope but keeps the exact refine."""
    from pyspark.sql import functions as F  # noqa: F401

    spark = engine.spark
    pts_rows = [(r.pid, r.px, r.py) for r in spark.table("push_pts").collect()]
    df = engine.sql(
        "SELECT pid FROM push_pts t WHERE "
        "ST_Contains(ST_GeomFromText('POLYGON((0 0,50 0,50 50,0 50,0 0))'), t.geom)"
    )
    got = {r.pid for r in df.collect()}
    want = {pid for pid, x, y in pts_rows if 0 <= x <= 50 and 0 <= y <= 50}
    assert got == want and got

    df2 = engine.sql(
        "SELECT pid FROM push_pts t WHERE "
        "ST_DWithin(t.geom, ST_GeomFromText('POINT(50 50)'), 10.0)"
    )
    got2 = {r.pid for r in df2.collect()}
    want2 = {
        pid for pid, x, y in pts_rows if ((x - 50) ** 2 + (y - 50) ** 2) ** 0.5 <= 10.0
    }
    assert got2 == want2 and got2


def test_literal_filter_no_metadata_untouched(engine, sdata):
    """Without registered bbox columns the query falls back to the plain
    UDF filter and stays correct."""
    boxes, points = sdata
    df = engine.sql(
        "SELECT pid FROM disp_pts t WHERE "
        "ST_Intersects(t.geom, ST_GeomFromText('POLYGON((0 0,50 0,50 50,0 50,0 0))'))"
    )
    from dataclod_spark.geo import predicates as GP2
    from dataclod_spark.geo.core import wkt_parse

    lit = wkt_parse("POLYGON((0 0,50 0,50 50,0 50,0 0))")
    got = {r.pid for r in df.collect()}
    want = {pi for pi, pg in points if GP2.intersects(pg, lit)}
    assert got == want and got


def test_spatial_join_second_in_chain_dispatch(engine, sdata):
    """Spatial join NOT first in the FROM chain: a dim equi-join precedes
    it.  The chain dispatcher swaps both spatial relations for their
    exploded forms and rewrites only that ON; multiplicities through the
    dim join are unchanged."""
    boxes, points = sdata
    spark = engine.spark
    spark.createDataFrame(
        [(i, f"grp{i % 4}") for i in range(200)], "pid long, grp string"
    ).createOrReplaceTempView("chain_dim")
    df = engine.sql(
        "SELECT d.grp, count(*) AS n FROM chain_dim d "
        "JOIN disp_pts p ON d.pid = p.pid "
        "JOIN disp_boxes b ON ST_Intersects(p.geom, b.geom) "
        "GROUP BY d.grp ORDER BY d.grp"
    )
    want: dict[str, int] = {}
    for pi, pg in points:
        for bi, bg in boxes:
            if GP.intersects(pg, bg):
                g = f"grp{pi % 4}"
                want[g] = want.get(g, 0) + 1
    got = {(r.grp, r.n) for r in df.collect()}
    assert got == set(want.items()) and got
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "__cell" in plan


def test_spatial_join_second_in_chain_reversed_pred(engine, sdata):
    boxes, points = sdata
    df = engine.sql(
        "SELECT p.pid, b.bid FROM chain_dim d "
        "JOIN disp_pts p ON d.pid = p.pid "
        "JOIN disp_boxes b ON ST_Contains(b.geom, p.geom) "
        "WHERE d.grp = 'grp1'"
    )
    got = {(r.pid, r.bid) for r in df.collect()}
    want = {
        (pi, bi)
        for pi, pg in points
        for bi, bg in boxes
        if pi % 4 == 1 and GP.contains(bg, pg)
    }
    assert got == want and got
    assert "BroadcastNestedLoopJoin" not in _plan(df)


@pytest.mark.parametrize(
    "variant",
    [
        "select pid, bid from disp_pts p join disp_boxes b on st_intersects(p.geom, b.geom)",
        "SELECT pid, bid\nFROM disp_pts p\n  JOIN disp_boxes b\n    ON ST_Intersects(p.geom, b.geom)",
        "SELECT pid, bid FROM disp_pts p JOIN disp_boxes b ON ST_Intersects(p.geom, b.geom);",
        "-- pairs\nSELECT pid, bid FROM disp_pts p JOIN disp_boxes b ON ST_Intersects(p.geom, b.geom)",
        "SELECT pid, bid FROM disp_pts AS p INNER JOIN disp_boxes AS b ON ST_Intersects(p.geom, b.geom)",
    ],
    ids=["lowercase", "newlines", "trailing_semicolon", "leading_comment", "inner_as"],
)
def test_dispatch_robust_to_sql_formatting(engine, sdata, variant):
    """Formatting noise (case, newlines, comments, a trailing semicolon,
    INNER/AS keywords) must not silently drop the query back to the
    nested-loop fallback."""
    df = engine.sql(variant)
    assert "BroadcastNestedLoopJoin" not in _plan(df)
    assert df.count() > 0


def test_select_star_expansion_dispatch(engine, sdata):
    """Outer ``SELECT *`` over a dispatched spatial join must expand to the
    ORIGINAL columns of both sides — the grid rewrite's internal
    ``__cell``/``__bb`` columns may never leak into the result schema."""
    boxes, points = sdata
    df = engine.sql(
        "SELECT * FROM disp_pts p JOIN disp_boxes b ON ST_Intersects(p.geom, b.geom)"
    )
    assert df.columns == ["pid", "geom", "bid", "geom"]
    got = {(r[0], r[2]) for r in df.collect()}
    want = {(pi, bi) for pi, pg in points for bi, bg in boxes if GP.intersects(pg, bg)}
    assert got == want and got
    assert "BroadcastNestedLoopJoin" not in _plan(df)


def test_alias_star_expansion_dispatch(engine, sdata):
    """``p.*`` of a rewritten side expands; other items pass through."""
    boxes, points = sdata
    df = engine.sql(
        "SELECT p.*, b.bid AS boxid FROM disp_pts p JOIN disp_boxes b "
        "ON ST_Intersects(p.geom, b.geom)"
    )
    assert df.columns == ["pid", "geom", "boxid"]
    got = {(r.pid, r.boxid) for r in df.collect()}
    want = {(pi, bi) for pi, pg in points for bi, bg in boxes if GP.intersects(pg, bg)}
    assert got == want and got


def test_or_conjunct_precedence_dispatch(engine, sdata):
    """A parenthesized OR conjunct alongside the spatial predicate must be
    re-wrapped when spliced into the AND-joined rewritten ON clause —
    bare splicing would flip precedence and return extra rows."""
    boxes, points = sdata
    df = engine.sql(
        "SELECT p.pid, b.bid FROM disp_pts p JOIN disp_boxes b "
        "ON ST_Intersects(p.geom, b.geom) AND (p.pid % 7 = 0 OR b.bid % 5 = 0)"
    )
    got = {(r.pid, r.bid) for r in df.collect()}
    want = {
        (pi, bi)
        for pi, pg in points
        for bi, bg in boxes
        if GP.intersects(pg, bg) and (pi % 7 == 0 or bi % 5 == 0)
    }
    assert got == want and got
    assert "BroadcastNestedLoopJoin" not in _plan(df)


def test_on_clause_string_literal_robust(engine, sdata):
    """String literals inside the ON clause containing parens / clause
    keywords must not corrupt the paren-balanced clause scan."""
    boxes, points = sdata
    df = engine.sql(
        "SELECT p.pid, b.bid FROM disp_pts p JOIN disp_boxes b "
        "ON ST_Intersects(p.geom, b.geom) AND 'x(WHERE' = 'x(WHERE' "
        "WHERE p.pid % 2 = 0"
    )
    got = {(r.pid, r.bid) for r in df.collect()}
    want = {
        (pi, bi)
        for pi, pg in points
        for bi, bg in boxes
        if pi % 2 == 0 and GP.intersects(pg, bg)
    }
    assert got == want and got


def test_pushdown_skips_subquery_predicate(engine, sdata):
    """A literal spatial predicate INSIDE a subquery scans a different
    relation — attaching the outer table's covering columns to it would
    break analysis (or silently filter on the wrong table).  The rewrite
    must only touch predicates outside every (SELECT ...) span."""
    from pyspark.sql import functions as F

    from dataclod_spark.operators.spatial_join import point_wkb

    spark = engine.spark
    import random as _r

    rnd = _r.Random(11)
    pts_rows = [(i, rnd.uniform(0, 100), rnd.uniform(0, 100)) for i in range(300)]
    spark.createDataFrame(pts_rows, "pid long, px double, py double").select(
        "pid", "px", "py", point_wkb(F.col("px"), F.col("py")).alias("geom")
    ).createOrReplaceTempView("subq_pts")
    engine.register_bbox("subq_pts", "geom", "px", "py", "px", "py", exact=True)
    boxes, points = sdata
    df = engine.sql(
        "SELECT pid FROM subq_pts t WHERE "
        "ST_Within(t.geom, ST_GeomFromText('POLYGON((20 20,70 20,70 80,20 80,20 20))')) "
        "AND pid IN (SELECT pid FROM disp_pts WHERE "
        "ST_Intersects(geom, ST_GeomFromText('POLYGON((0 0,80 0,80 80,0 80,0 0))')))"
    )
    from dataclod_spark.geo.core import wkt_parse

    inner_lit = wkt_parse("POLYGON((0 0,80 0,80 80,0 80,0 0))")
    inner_ok = {pi for pi, pg in points if GP.intersects(pg, inner_lit)}
    outer_lit = wkt_parse("POLYGON((20 20,70 20,70 80,20 80,20 20))")
    got = {r.pid for r in df.collect()}
    from dataclod_spark.geo.algos import make_point

    want = {
        pid
        for pid, x, y in pts_rows
        if GP.within(make_point(x, y), outer_lit) and pid in inner_ok
    }
    assert got == want and got


def test_exact_elimination_boundary_semantics(engine, sdata):
    """Exact covering + axis-rect literal: the eliminated-UDF path must
    keep OPEN-interval semantics for ST_Within of a boundary point (the
    closed-interval covering conjuncts alone would wrongly include it)."""
    from pyspark.sql import functions as F

    from dataclod_spark.operators.spatial_join import point_wkb

    spark = engine.spark
    rows = [
        (0, 20.0, 50.0),   # on left edge -> NOT within, intersects
        (1, 45.0, 80.0),   # on top edge -> NOT within, intersects
        (2, 20.0, 20.0),   # corner -> NOT within, intersects
        (3, 30.0, 30.0),   # interior -> within
        (4, 10.0, 10.0),   # outside
    ]
    spark.createDataFrame(rows, "pid long, px double, py double").select(
        "pid", "px", "py", point_wkb(F.col("px"), F.col("py")).alias("geom")
    ).createOrReplaceTempView("edge_pts")
    engine.register_bbox("edge_pts", "geom", "px", "py", "px", "py", exact=True)
    rect = "ST_GeomFromText('POLYGON((20 20,70 20,70 80,20 80,20 20))')"
    dfw = engine.sql(f"SELECT pid FROM edge_pts t WHERE ST_Within(t.geom, {rect})")
    assert {r.pid for r in dfw.collect()} == {3}
    assert "EvalPython" not in _plan(dfw)
    dfi = engine.sql(f"SELECT pid FROM edge_pts t WHERE ST_Intersects(t.geom, {rect})")
    assert {r.pid for r in dfi.collect()} == {0, 1, 2, 3}
    assert "EvalPython" not in _plan(dfi)


def test_bare_star_with_ride_along_join_keeps_schema(engine, sdata):
    """`SELECT *` with a dim join AFTER the spatial ON: [left, right]
    expansion would drop the dim columns — the dispatch must decline the
    bare star (or include every relation), never narrow the schema."""
    boxes, points = sdata
    spark = engine.spark
    spark.createDataFrame(
        [(i, f"cat{i % 3}") for i in range(40)], "bid long, category string"
    ).createOrReplaceTempView("star_dim")
    df = engine.sql(
        "SELECT * FROM disp_pts p "
        "JOIN disp_boxes b ON ST_Intersects(p.geom, b.geom) "
        "JOIN star_dim d ON b.bid = d.bid"
    )
    assert df.columns == ["pid", "geom", "bid", "geom", "bid", "category"]
    got = {(r[0], r[2], r[5]) for r in df.collect()}
    want = {
        (pi, bi, f"cat{bi % 3}")
        for pi, pg in points
        for bi, bg in boxes
        if GP.intersects(pg, bg)
    }
    assert got == want and got


def test_pushdown_declines_setop_arms(engine, sdata):
    """UNION arms scan different tables: the single-relation pushdown must
    not attach the first arm's covering metadata to the second arm."""
    from pyspark.sql import functions as F

    from dataclod_spark.operators.spatial_join import point_wkb

    spark = engine.spark
    rows_a = [(i, float(i), float(i)) for i in range(50)]
    rows_b = [(100 + i, float(i), float(i)) for i in range(50)]
    for name, rows in (("setop_a", rows_a), ("setop_b", rows_b)):
        spark.createDataFrame(rows, "pid long, px double, py double").select(
            "pid", "px", "py", point_wkb(F.col("px"), F.col("py")).alias("geom")
        ).createOrReplaceTempView(name)
    engine.register_bbox("setop_a", "geom", "px", "py", "px", "py", exact=True)
    rect = "ST_GeomFromText('POLYGON((10 10,20 10,20 20,10 20,10 10))')"
    df = engine.sql(
        f"SELECT pid FROM setop_a WHERE ST_Within(geom, {rect}) "
        f"UNION ALL SELECT pid FROM setop_b WHERE ST_Within(geom, {rect})"
    )
    got = sorted(r.pid for r in df.collect())
    want = sorted(
        [i for i in range(50) if 10 < i < 20]
        + [100 + i for i in range(50) if 10 < i < 20]
    )
    assert got == want and got


def test_derived_table_inner_star_no_internal_columns(engine, sdata):
    """A spatial join inside a derived table with an inner `SELECT *`:
    the INNER star owns the rewritten FROM and must expand — internal
    __cell/__bb columns leaking through it would change the outer schema."""
    boxes, points = sdata
    df = engine.sql(
        "SELECT * FROM (SELECT * FROM disp_pts p "
        "JOIN disp_boxes b ON ST_Intersects(p.geom, b.geom) "
        "WHERE p.pid > 0) q"
    )
    assert df.columns == ["pid", "geom", "bid", "geom"]
    got = {(r[0], r[2]) for r in df.collect()}
    want = {
        (pi, bi)
        for pi, pg in points
        for bi, bg in boxes
        if pi > 0 and GP.intersects(pg, bg)
    }
    assert got == want and got


def test_select_list_trailing_line_comment(engine, sdata):
    """A line comment ending the select list must not swallow the
    generated FROM clause when the rewrite rebuilds the prefix."""
    boxes, points = sdata
    df = engine.sql(
        "SELECT p.pid, b.bid -- selected pair\n"
        "FROM disp_pts p JOIN disp_boxes b ON ST_Intersects(p.geom, b.geom)"
    )
    got = {(r.pid, r.bid) for r in df.collect()}
    want = {(pi, bi) for pi, pg in points for bi, bg in boxes if GP.intersects(pg, bg)}
    assert got == want and got


def test_star_with_trailing_comment_still_expands(engine, sdata):
    """`* -- note` is still a bare star after comment stripping; leaving
    it unexpanded would leak the rewrite's internal columns."""
    boxes, points = sdata
    df = engine.sql(
        "SELECT * -- all columns\n"
        "FROM disp_pts p JOIN disp_boxes b ON ST_Intersects(p.geom, b.geom)"
    )
    assert df.columns == ["pid", "geom", "bid", "geom"]
    assert df.count() > 0


def test_from_inside_string_literal_ignored(engine, sdata):
    """A 'FROM x' inside a string literal must not anchor the pushdown
    against the wrong relation."""
    from pyspark.sql import functions as F

    from dataclod_spark.operators.spatial_join import point_wkb

    spark = engine.spark
    rows = [(i, float(i % 30), float(i % 30)) for i in range(60)]
    spark.createDataFrame(rows, "pid long, px double, py double").select(
        "pid", "px", "py", point_wkb(F.col("px"), F.col("py")).alias("geom")
    ).createOrReplaceTempView("lit_pts")
    engine.register_bbox("lit_pts", "geom", "px", "py", "px", "py", exact=True)
    df = engine.sql(
        "SELECT 'report FROM disp_pts' AS lbl, pid FROM lit_pts t WHERE "
        "ST_Within(t.geom, ST_GeomFromText('POLYGON((5 5,15 5,15 15,5 15,5 5))'))"
    )
    got = sorted(r.pid for r in df.collect())
    want = sorted(i for i in range(60) if 5 < (i % 30) < 15)
    assert got == want and got
    assert all(r.lbl == "report FROM disp_pts" for r in df.collect())


def test_outer_join_extra_conjunct_dispatch(engine, sdata):
    """LEFT/FULL spatial joins with extra ON conjuncts: without dispatch
    these are UNPLANNABLE (Spark rejects a Python UDF in an outer join
    condition), so the rewrite must route the conjunct through the
    operator's candidate-pair filter — ON semantics, not a post-WHERE."""
    boxes, points = sdata
    df = engine.sql(
        "SELECT p.pid, b.bid FROM disp_pts p LEFT JOIN disp_boxes b "
        "ON ST_Intersects(p.geom, b.geom) AND b.bid % 2 = 0 AND p.pid < 150"
    )
    got = {(r.pid, r.bid) for r in df.collect()}
    matched = {
        (pi, bi)
        for pi, pg in points
        for bi, bg in boxes
        if bi % 2 == 0 and pi < 150 and GP.intersects(pg, bg)
    }
    mp = {p for p, _ in matched}
    want = matched | {(pi, None) for pi, _ in points if pi not in mp}
    assert got == want and got

    df2 = engine.sql(
        "SELECT p.pid, b.bid FROM disp_pts p FULL OUTER JOIN disp_boxes b "
        "ON ST_Contains(b.geom, p.geom) AND (b.bid < 10 OR b.bid > 30)"
    )
    got2 = {(r.pid, r.bid) for r in df2.collect()}
    matched2 = {
        (pi, bi)
        for pi, pg in points
        for bi, bg in boxes
        if (bi < 10 or bi > 30) and GP.contains(bg, pg)
    }
    mp2 = {p for p, _ in matched2}
    mb2 = {b for _, b in matched2}
    want2 = (
        matched2
        | {(pi, None) for pi, _ in points if pi not in mp2}
        | {(None, bi) for bi, _ in boxes if bi not in mb2}
    )
    assert got2 == want2 and got2


def test_outer_decline_leaks_no_view_or_work(engine, sdata):
    """Round-5 review find: the outer dispatch used to build the eager
    grid join AND register its temp view BEFORE the star-discipline
    check could decline — every retry of an undispatchable query burned
    sampling jobs and leaked one more __spatial_outer_join_N view."""
    spark = engine.spark
    before = {v.name for v in spark.catalog.listTables() if v.name.startswith("__spatial_outer_join")}
    # bare * with a trailing join → _expand_select_stars declines
    df = engine.sql(
        "SELECT * FROM disp_pts p LEFT JOIN disp_boxes b "
        "ON ST_Intersects(p.geom, b.geom) JOIN disp_boxes c ON b.bid = c.bid"
    )
    assert df.count() >= 0  # falls back to default planning and still runs
    after = {v.name for v in spark.catalog.listTables() if v.name.startswith("__spatial_outer_join")}
    assert after == before, f"leaked temp views: {after - before}"


def test_outer_backticked_unqualified_conjunct_declines(engine, sdata):
    """Round-5 review find: `ON ST_pred(..) AND \\`bid\\` = 1` — an
    unqualified BACKTICKED identifier must not bypass the conservative
    whitelist (it is an identifier, not a literal)."""
    from dataclod_spark.plans.spatial_dispatch import _map_outer_conjunct

    assert _map_outer_conjunct("`bid` = 1", "p", "b", {"pid"}, {"bid"}) is None
    # the qualified forms still map
    assert _map_outer_conjunct("b.`bid` = 1", "p", "b", {"pid"}, {"bid"}) == "`bid` = 1"
    assert _map_outer_conjunct("b.bid = 1", "p", "b", {"pid"}, {"bid"}) == "`bid` = 1"


def test_star_inside_expression_declines_dispatch(engine, sdata):
    """Round-5 review find: struct(b.*) nested in an expression is not a
    whole-item star — passing it through used to leak the grid rewrite's
    internal __cell/__bb columns into the struct.  The dispatch must
    decline (result computed by default planning stays correct)."""
    from dataclod_spark.plans.spatial_dispatch import _expand_select_stars

    exp = {"b": "`bid`"}
    assert _expand_select_stars("SELECT struct(b.*) AS s ", exp, ["`x`"]) is None
    assert _expand_select_stars("SELECT xxhash64(*) AS h ", exp, ["`x`"]) is None
    # count(*) is exempt; multiplication is never argument-position
    assert (
        _expand_select_stars("SELECT count(*) AS n ", exp, ["`x`"])
        == "SELECT count(*) AS n "
    )
    assert (
        _expand_select_stars("SELECT (a * b) AS m ", exp, ["`x`"])
        == "SELECT (a * b) AS m "
    )


def test_backticked_alias_star_and_literal_blindness(engine, sdata):
    """Second-pass review finds: `b`.* must expand/decline like b.* (the
    quoted form used to bypass both star regexes), while a string
    LITERAL containing '(*)' or 'b.*' is data and must NOT decline."""
    from dataclod_spark.plans.spatial_dispatch import (
        _expand_select_stars,
        _star_leaks_into_expression,
    )

    exp = {"b": "`bid`"}
    # quoted whole-item star expands
    assert _expand_select_stars("SELECT `b`.* ", exp, ["`x`"]) == "SELECT `bid` "
    # quoted star nested in an expression declines
    assert _expand_select_stars("SELECT struct(`b`.*) AS s ", exp, ["`x`"]) is None
    # literals are blind
    assert not _star_leaks_into_expression("instr(p.name, '(*)')", exp)
    assert not _star_leaks_into_expression("regexp_extract(p.name, 'b.*', 0)", exp)
    # third-pass find: a real multiplication of two LITERALS must not be
    # bridged into an argument-position star by the blinding placeholder
    assert not _star_leaks_into_expression("('2' * '3')", exp)
    assert _star_leaks_into_expression("struct(`b`.*)", exp)
    # end-to-end: an outer spatial join with a '(*)' literal in the select
    # list still dispatches (declining would make it unplannable)
    df = engine.sql(
        "SELECT p.pid, b.bid, instr('x(*)y', '(*)') AS k FROM disp_pts p "
        "LEFT JOIN disp_boxes b ON ST_Intersects(p.geom, b.geom)"
    )
    assert df.count() > 0
    assert "BroadcastNestedLoopJoin" not in _plan(df)


# --- one grid join: the operator and the dispatch agree ----------------


def _wkb_rows(df, key: str) -> dict:
    return {r[key]: GC.wkb_parse(bytes(r.geom)) for r in df.select(key, "geom").collect()}


@pytest.fixture(scope="module")
def circles(engine):
    """Buffered circles (bbox registered NOT exact) and points at their
    centres and at bbox corners just outside the circles."""
    from pyspark.sql import functions as F

    from dataclod_spark.operators.spatial_join import point_wkb

    spark = engine.spark
    circ = [(i, 10.0 * i, 5.0, 1.0 + i % 2) for i in range(6)]
    spark.createDataFrame(circ, "cid long, cx double, cy double, r double") \
        .createOrReplaceTempView("circ_src")
    engine.sql(
        "CREATE OR REPLACE TEMP VIEW circ_circles AS SELECT cid, cx, cy, r, "
        "ST_Buffer(ST_MakePoint(cx, cy), r) AS geom FROM circ_src"
    )
    engine.register_bbox("circ_circles", "geom", "cx - r", "cy - r", "cx + r", "cy + r")
    pts = [(i, cx, cy) for i, cx, cy, _ in circ] + [
        (100 + i, cx + 0.9 * r, cy + 0.9 * r) for i, cx, cy, r in circ
    ]
    spark.createDataFrame(pts, "pid long, px double, py double").select(
        "pid", "px", "py", point_wkb(F.col("px"), F.col("py")).alias("geom")
    ).createOrReplaceTempView("circ_pts")
    engine.register_bbox("circ_pts", "geom", "px", "py", "px", "py", exact=True)
    points = _wkb_rows(spark.table("circ_pts"), "pid")
    discs = _wkb_rows(spark.table("circ_circles"), "cid")
    return points, discs


def test_outer_and_exists_dispatch_refine_non_exact_bbox(engine, circles):
    """A bbox registered ``exact=False`` must keep the exact refine on the
    outer and EXISTS dispatch paths: a point in a circle's bbox corner is
    not in the circle."""
    points, discs = circles
    matched = {
        (p, c) for p, pg in points.items() for c, cg in discs.items()
        if GP.intersects(pg, cg)
    }
    assert len({p for p, _ in matched}) == 6  # the centres only
    on = "ON ST_Intersects(p.geom, c.geom)"
    left = engine.sql(f"SELECT p.pid, c.cid FROM circ_pts p LEFT JOIN circ_circles c {on}")
    full = engine.sql(f"SELECT p.pid, c.cid FROM circ_pts p FULL JOIN circ_circles c {on}")
    mp = {p for p, _ in matched}
    mc = {c for _, c in matched}
    want_left = matched | {(p, None) for p in points if p not in mp}
    assert {(r.pid, r.cid) for r in left.collect()} == want_left
    assert {(r.pid, r.cid) for r in full.collect()} == want_left | {
        (None, c) for c in discs if c not in mc
    }
    sub = "(SELECT 1 FROM circ_circles c WHERE ST_Intersects(p.geom, c.geom))"
    ex = engine.sql(f"SELECT p.pid FROM circ_pts p WHERE EXISTS {sub}")
    nex = engine.sql(f"SELECT p.pid FROM circ_pts p WHERE NOT EXISTS {sub}")
    assert {r.pid for r in ex.collect()} == mp
    assert {r.pid for r in nex.collect()} == set(points) - mp
    for df in (left, full, ex, nex):
        assert "BroadcastNestedLoopJoin" not in _plan(df)


def test_infinite_grid_bound_both_paths(engine):
    """60% of the build bboxes reach xmax = +inf, so with 64 cells a grid
    quantile bound is infinite; both the operator and the dispatch must
    write it as a valid literal and stay exact."""
    from dataclod_spark.operators.spatial_join import envelope_wkb, point_wkb, spatial_join

    spark = engine.spark
    rnd = random.Random(5)
    boxes = []
    for i in range(50):
        x, y = rnd.uniform(0, 50), rnd.uniform(0, 50)
        boxes.append((i, x, y, float("inf") if i % 5 < 3 else x + 5, y + 5))
    pts = [(i, rnd.uniform(0, 60), rnd.uniform(0, 60)) for i in range(150)]
    want = {
        (p, b) for p, px, py in pts for b, x0, y0, x1, y1 in boxes
        if x0 <= px <= x1 and y0 <= py <= y1
    }
    bdf = spark.createDataFrame(boxes, "bid long, x0 double, y0 double, x1 double, y1 double")
    bdf = bdf.select("*", envelope_wkb("x0", "y0", "x1", "y1").alias("geom"))
    pdf = spark.createDataFrame(pts, "pid long, px double, py double")
    pdf = pdf.select("*", point_wkb("px", "py").alias("geom"))

    got = spatial_join(
        pdf, bdf, left_bbox=("px", "py", "px", "py"),
        right_bbox=("x0", "y0", "x1", "y1"), cell_target=64, refine="none",
    )
    assert {(r.pid, r.bid) for r in got.collect()} == want and want

    bdf.createOrReplaceTempView("inf_boxes")
    pdf.createOrReplaceTempView("inf_pts")
    engine.register_bbox("inf_boxes", "geom", "x0", "y0", "x1", "y1", exact=True)
    engine.register_bbox("inf_pts", "geom", "px", "py", "px", "py", exact=True)
    cells = engine.spatial_join_cells
    engine.spatial_join_cells = 64
    try:
        df = engine.sql(
            "SELECT p.pid, b.bid FROM inf_pts p JOIN inf_boxes b "
            "ON ST_Intersects(p.geom, b.geom)"
        )
        assert {(r.pid, r.bid) for r in df.collect()} == want
        assert "__cell" in _plan(df)
    finally:
        engine.spatial_join_cells = cells


def test_outer_self_join_over_registered_bbox(engine):
    """Outer self-join over a bbox-registered view: the bbox expressions
    resolve against the right side's own names, not the renamed
    ``*_right`` output columns."""
    from pyspark.sql import functions as F

    from dataclod_spark.operators.spatial_join import point_wkb

    rnd = random.Random(9)
    rows = [(i, rnd.uniform(0, 10), rnd.uniform(0, 10)) for i in range(60)]
    engine.spark.createDataFrame(rows, "pid long, px double, py double").select(
        "pid", "px", "py", point_wkb(F.col("px"), F.col("py")).alias("geom")
    ).createOrReplaceTempView("selfj_pts")
    engine.register_bbox("selfj_pts", "geom", "px", "py", "px", "py", exact=True)
    df = engine.sql(
        "SELECT a.pid AS apid, b.pid AS bpid FROM selfj_pts a LEFT JOIN selfj_pts b "
        "ON ST_DWithin(a.geom, b.geom, 1.0) AND a.pid < b.pid"
    )
    geoms = {i: make_point(x, y) for i, x, y in rows}
    matched = {
        (a, b) for a in geoms for b in geoms
        if a < b and GP.dwithin(geoms[a], geoms[b], 1.0)
    }
    ma = {a for a, _ in matched}
    want = matched | {(a, None) for a in geoms if a not in ma}
    assert {(r.apid, r.bpid) for r in df.collect()} == want and matched
    assert "BroadcastNestedLoopJoin" not in _plan(df)


# points and axis rectangles whose pairs sit on every boundary case of the
# bbox-exact verdict table: a point on an edge, on a corner, inside and
# outside a rectangle; equal points; equal rectangles; nested rectangles
# sharing an edge and strictly nested; rectangles touching at an edge and
# at a corner; overlapping and disjoint rectangles; and a point exactly
# the dwithin distance from a rectangle
_BOUNDARY_BOXES = [
    (0, 0.0, 2.0, 0.0, 2.0),    # on the left edge of rect 10
    (1, 0.0, 0.0, 0.0, 0.0),    # on its corner
    (2, 2.0, 2.0, 2.0, 2.0),    # interior
    (3, 2.0, 2.0, 2.0, 2.0),    # equal to point 2
    (4, 9.0, 9.0, 9.0, 9.0),    # outside
    (5, 5.0, 2.0, 5.0, 2.0),    # exactly 1.0 from rect 10
    (10, 0.0, 0.0, 4.0, 4.0),
    (11, 0.0, 0.0, 4.0, 4.0),   # equal to rect 10
    (12, 0.0, 1.0, 2.0, 3.0),   # nested, shares the left edge
    (13, 1.0, 1.0, 3.0, 3.0),   # strictly nested
    (14, 4.0, 0.0, 6.0, 4.0),   # touches rect 10 along an edge
    (15, 4.0, 4.0, 6.0, 6.0),   # touches rect 10 at a corner
    (16, 2.0, 2.0, 6.0, 6.0),   # overlaps rect 10
    (17, 10.0, 10.0, 12.0, 12.0),  # disjoint
]
_BOUNDARY_SQL = {
    "intersects": "ST_Intersects(a.geom, b.geom)",
    "contains": "ST_Contains(a.geom, b.geom)",
    "within": "ST_Within(a.geom, b.geom)",
    "covers": "ST_Covers(a.geom, b.geom)",
    "covered_by": "ST_CoveredBy(a.geom, b.geom)",
    "touches": "ST_Touches(a.geom, b.geom)",
    "overlaps": "ST_Overlaps(a.geom, b.geom)",
    "equals": "ST_Equals(a.geom, b.geom)",
    "crosses": "ST_Crosses(a.geom, b.geom)",
    "dwithin": "ST_DWithin(a.geom, b.geom, 1.0)",
}


_BOUNDARY_TRUTH = {
    "intersects": GP.intersects,
    "contains": GP.contains,
    "within": GP.within,
    "covers": GP.covers,
    "covered_by": GP.covered_by,
    "touches": GP.touches,
    "overlaps": GP.overlaps,
    "equals": GP.equals,
    "crosses": GP.crosses,
    "dwithin": lambda a, b: GP.dwithin(a, b, 1.0),
}


@pytest.fixture(scope="module")
def boundary_views(engine):
    from pyspark.sql import functions as F

    from dataclod_spark.operators.spatial_join import envelope_wkb, point_wkb

    geoms = {
        i: make_point(x0, y0) if (x0, y0) == (x1, y1) else make_envelope(x0, y0, x1, y1)
        for i, x0, y0, x1, y1 in _BOUNDARY_BOXES
    }
    df = engine.spark.createDataFrame(
        _BOUNDARY_BOXES, "gid long, x0 double, y0 double, x1 double, y1 double"
    ).select(
        "*",
        F.when((F.col("x0") == F.col("x1")) & (F.col("y0") == F.col("y1")),
               point_wkb("x0", "y0"))
        .otherwise(envelope_wkb("x0", "y0", "x1", "y1")).alias("geom"),
    )
    for v in ("bnd_a", "bnd_b"):
        df.createOrReplaceTempView(v)
        engine.register_bbox(v, "geom", "x0", "y0", "x1", "y1", exact=True)
    return df, geoms


@pytest.mark.parametrize("predicate", sorted(_BOUNDARY_SQL))
def test_verdict_table_boundaries_both_paths(engine, boundary_views, predicate):
    """The bbox-exact verdict table against geo.predicates on boundary
    pairs, through the operator (refine="none") and the dispatch (both
    sides registered exact) — neither path runs a Python refine."""
    from dataclod_spark.operators.spatial_join import spatial_join

    df, geoms = boundary_views
    fn = _BOUNDARY_TRUTH[predicate]
    want = {(a, b) for a in geoms for b in geoms if fn(geoms[a], geoms[b])}
    bbox = ("x0", "y0", "x1", "y1")
    op = spatial_join(
        df, df, predicate, left_bbox=bbox, right_bbox=bbox, refine="none",
        distance=1.0 if predicate == "dwithin" else None,
    )
    assert {(r.gid, r.gid_right) for r in op.collect()} == want, "operator"
    sql = engine.sql(
        f"SELECT a.gid AS ga, b.gid AS gb FROM bnd_a a JOIN bnd_b b ON {_BOUNDARY_SQL[predicate]}"
    )
    assert {(r.ga, r.gb) for r in sql.collect()} == want, "dispatch"
    plan = _plan(sql)  # crosses folds to an empty relation
    assert "EvalPython" not in plan and "BroadcastNestedLoopJoin" not in plan



# --- one lexer: literals never steer the dispatch ---------------------------


@pytest.fixture(scope="module")
def lexer_views(engine):
    """Six points inside one box; odd ids carry the paren literal '(' as
    their tag, so a scanner that counts parens inside literals misreads
    any statement that names the tag."""
    spark = engine.spark
    schema = "id long, tag string, geom binary"
    spark.createDataFrame(
        [(i, "(" if i % 2 else "x", GC.wkb_write(make_point(i + 0.5, i + 0.5))) for i in range(6)],
        schema,
    ).createOrReplaceTempView("lx_pts")
    spark.createDataFrame(
        [(0, "b.q", GC.wkb_write(make_envelope(0.0, 0.0, 10.0, 10.0)))],
        "bid long, tag string, geom binary",
    ).createOrReplaceTempView("lx_boxes")


def _spatial_views(spark) -> set[str]:
    return {r.tableName for r in spark.sql("SHOW TABLES").collect()
            if r.tableName.startswith("__spatial_")}


def test_outer_dispatch_leaves_select_literal_alone(engine, lexer_views):
    """An alias-qualified text inside a select-list literal is data: the
    outer dispatch's alias substitution must not turn 'p.id' into 'id'."""
    rows = engine.sql(
        "SELECT p.id, 'p.id' AS lbl, b.bid FROM lx_pts p "
        "LEFT JOIN lx_boxes b ON ST_Intersects(p.geom, b.geom)"
    ).collect()
    assert sorted((r.id, r.lbl, r.bid) for r in rows) == [(i, "p.id", 0) for i in range(6)]


def test_exists_dispatch_leaves_literals_alone(engine, lexer_views):
    """The same for EXISTS: the select-list literal keeps its text, and so
    does a right-side filter literal ('b.q', which is no column ref)."""
    want = [(i, "p.id") for i in range(6)]
    for cond in ("", " AND b.tag = 'b.q'"):
        df = engine.sql(
            "SELECT id, 'p.id' AS lbl FROM lx_pts p WHERE EXISTS (SELECT 1 FROM lx_boxes b "
            f"WHERE ST_Intersects(p.geom, b.geom){cond})"
        )
        assert sorted((r.id, r.lbl) for r in df.collect()) == want, cond
        assert "BroadcastNestedLoopJoin" not in _plan(df)


def test_paren_literal_in_cte_body_shadows_view(engine, lexer_views):
    """A CTE whose body holds a '(' literal still shadows the catalog view
    of the same name: the dispatch joins the filtered CTE (3 rows), not
    the unfiltered view (6)."""
    rows = engine.sql(
        "WITH lx_pts AS (SELECT * FROM lx_pts WHERE tag <> '(') "
        "SELECT p.id, b.bid FROM lx_pts p LEFT JOIN lx_boxes b ON ST_Intersects(p.geom, b.geom)"
    ).collect()
    assert sorted((r.id, r.bid) for r in rows) == [(0, 0), (2, 0), (4, 0)]


def test_paren_literal_in_exists_body_dispatches(engine, lexer_views):
    """A ')' literal inside the EXISTS body must not end the body scan:
    the statement dispatches (default planning cannot plan a Python UDF
    in the decorrelated join condition)."""
    df = engine.sql(
        "SELECT id FROM lx_pts p WHERE EXISTS (SELECT 1 FROM lx_boxes b "
        "WHERE ST_Intersects(p.geom, b.geom) AND b.tag <> ')')"
    )
    assert sorted(r.id for r in df.collect()) == list(range(6))


def test_exists_backticked_bare_column_declines(engine, lexer_views):
    """An unqualified backticked column in a correlated EXISTS conjunct
    names the inner relation's column (``b.tag`` here, so no row matches).
    On the join output it would read the outer side's ``tag``, so every
    row would match: the dispatch must decline, as it does unquoted."""
    from dataclod_spark.plans.spatial_dispatch import try_exists_spatial_join

    for col in ("`tag`", "tag"):
        sql = ("SELECT id FROM lx_pts p WHERE EXISTS (SELECT 1 FROM lx_boxes b "
               f"WHERE ST_Intersects(p.geom, b.geom) AND p.tag = {col})")
        assert try_exists_spatial_join(engine, sql) is None, col
    assert _spatial_views(engine.spark) == set()


def test_dispatch_views_do_not_outlive_their_statement(engine, lexer_views):
    """Outer and EXISTS dispatch read a temp view of the operator's result;
    the session drops it once the statement is analyzed, and the frame
    still runs (collect and a limited local iterator) after the drop."""
    before = _spatial_views(engine.spark)
    outer = engine.sql(
        "SELECT p.id, b.bid FROM lx_pts p LEFT JOIN lx_boxes b ON ST_Intersects(p.geom, b.geom)"
    )
    semi = engine.sql(
        "SELECT id FROM lx_pts p WHERE NOT EXISTS (SELECT 1 FROM lx_boxes b "
        "WHERE ST_Intersects(p.geom, b.geom))"
    )
    assert _spatial_views(engine.spark) == before == set()
    assert sorted((r.id, r.bid) for r in outer.collect()) == [(i, 0) for i in range(6)]
    assert len(list(outer.limit(2).toLocalIterator())) == 2
    assert semi.collect() == []


def test_dispatch_over_parquet_views_runs_only_the_grid_sample(engine, tmp_path):
    """A dispatched join over registered parquet views plans with one Spark
    job, the grid sample, on a cold grid cache and none on a warm one: no
    partition-count probe and no sampling shuffle."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dataclod_spark.operators.spatial_join import clear_bbox_sample_cache
    from dataclod_spark.registry import read_parquet
    from dataclod_spark.testing import count_jobs

    rnd = random.Random(17)
    points = [(i, make_point(rnd.uniform(0, 100), rnd.uniform(0, 100))) for i in range(300)]
    boxes = []
    for i in range(30):
        x, y = rnd.uniform(0, 90), rnd.uniform(0, 90)
        boxes.append((i, make_envelope(x, y, x + rnd.uniform(1, 10), y + rnd.uniform(1, 10))))
    for name, rows in (("pq_pts", points), ("pq_boxes", boxes)):
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table({"id": [i for i, _ in rows],
                                 "geom": [GC.wkb_write(g) for _, g in rows]}), path)
        read_parquet(engine.spark, path).createOrReplaceTempView(name)
    sql = ("SELECT p.id AS pid, b.id AS bid FROM pq_pts p JOIN pq_boxes b "
           "ON ST_Intersects(p.geom, b.geom)")
    clear_bbox_sample_cache()
    engine.clear_spatial_grid_cache()
    frames = []
    assert count_jobs(engine.spark, lambda: frames.append(engine.sql(sql))) == 1
    assert count_jobs(engine.spark, lambda: frames.append(engine.sql(sql))) == 0
    want = {(pi, bi) for pi, pg in points for bi, bg in boxes if GP.intersects(pg, bg)}
    for df in frames:
        assert "__cell" in _plan(df)
        assert {(r.pid, r.bid) for r in df.collect()} == want and want
    clear_bbox_sample_cache()
    engine.clear_spatial_grid_cache()
