"""Differential fuzz for the SQL spatial dispatch layer.

Every rewrite in ``plans/spatial_dispatch.py`` claims semantic
transparency.  This file generates seeded random queries over the
dispatcher's whole surface — stars, aliases, CTEs, derived tables, all
join types, extra conjuncts, comments, string literals, set ops, EXISTS,
literal-geometry filters — and asserts row-multiset + column-name parity
between ``engine.sql`` (dispatched) and an INDEPENDENT pure-SQL oracle:
the same query text with the spatial call replaced by the equivalent
coordinate arithmetic (the fixture's geometries are points and axis
rectangles whose coordinates are real columns, so every predicate has an
exact JVM-expression form — and, unlike the registered UDFs, plain Spark
can plan it under ANY join type, outer joins included, where a Python
UDF join condition is unsupported).

The reference trusts DataFusion's optimizer for the same guarantee (its
rewrite is a logical-plan pass, structurally incapable of text-level
slips); a text-level dispatcher needs this adversarial net instead.
"""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

# ~18 s/case (dispatch sampling jobs dominate): 20 by default to keep the
# suite's wall-clock in budget; raise for a deeper sweep, e.g.
# SPARK_GRAFT_FUZZ_N=200 for a pre-round audit (0..39 verified green when
# this landed; 0..99 re-verified green at round-5 end AFTER the grammar
# gained the backtick-star / literal-star / multiplication shapes)
N_QUERIES = int(os.environ.get("SPARK_GRAFT_FUZZ_N", "20"))
SEED = 20260815


@pytest.fixture(scope="module")
def fdata(engine):
    """Point/axis-rectangle tables whose coordinates are real columns
    (the oracle's raw material); small enough that even the worst plans
    stay cheap (60 x 18 pairs)."""
    from dataclod_spark.operators.spatial_join import envelope_wkb, point_wkb

    spark = engine.spark
    rnd = random.Random(5)
    pts = [(i, round(rnd.uniform(-5, 55), 3), round(rnd.uniform(-5, 55), 3))
           for i in range(60)]
    boxes = []
    for i in range(18):
        x, y = rnd.uniform(0, 45), rnd.uniform(0, 45)
        boxes.append((i, round(x, 3), round(y, 3),
                      round(x + rnd.uniform(1, 12), 3),
                      round(y + rnd.uniform(1, 12), 3)))
    spark.createDataFrame(pts, "pid long, px double, py double").select(
        "pid", "px", "py", point_wkb(F.col("px"), F.col("py")).alias("geom")
    ).createOrReplaceTempView("fz_pts")
    spark.createDataFrame(
        boxes, "bid long, x0 double, y0 double, x1 double, y1 double"
    ).select(
        "bid", "x0", "y0", "x1", "y1",
        envelope_wkb(F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1")).alias("geom"),
    ).createOrReplaceTempView("fz_boxes")
    # one covered table (exercises the metadata/pushdown paths), one not
    engine.register_bbox("fz_pts", "geom", "px", "py", "px", "py", exact=True)
    return pts, boxes


def _pred_pair(rnd: random.Random, p: str, b: str) -> tuple[str, str]:
    """(spatial call, equivalent plain-SQL expression) for point alias
    ``p`` vs axis-rectangle alias ``b``.  Closed vs open interval choices
    match the geo predicate semantics (point-on-boundary intersects but
    is not within/contained); the random doubles never actually land on a
    boundary, so the oracle is exact either way."""
    closed = (
        f"({p}.px >= {b}.x0 AND {p}.px <= {b}.x1 "
        f"AND {p}.py >= {b}.y0 AND {p}.py <= {b}.y1)"
    )
    open_ = (
        f"({p}.px > {b}.x0 AND {p}.px < {b}.x1 "
        f"AND {p}.py > {b}.y0 AND {p}.py < {b}.y1)"
    )

    def dist_le(d: str) -> str:
        return (
            f"(sqrt(pow(greatest({b}.x0 - {p}.px, {p}.px - {b}.x1, 0d), 2) + "
            f"pow(greatest({b}.y0 - {p}.py, {p}.py - {b}.y1, 0d), 2)) <= {d})"
        )

    return rnd.choice([
        (f"ST_Intersects({p}.geom, {b}.geom)", closed),
        (f"ST_Contains({b}.geom, {p}.geom)", open_),
        (f"ST_Within({p}.geom, {b}.geom)", open_),
        (f"ST_DWithin({p}.geom, {b}.geom, 6.0)", dist_le("6.0")),
        (f"ST_Distance({p}.geom, {b}.geom) <= 5.0", dist_le("5.0")),
    ])


def _gen_queries(rnd: random.Random) -> tuple[str, str]:
    """(dispatched SQL, plain-SQL oracle) over the dispatcher's grammar."""
    pred, plain = _pred_pair(rnd, "p", "b")
    join_kw = rnd.choice(["JOIN", "INNER JOIN", "LEFT JOIN", "FULL OUTER JOIN"])
    outer = join_kw not in ("JOIN", "INNER JOIN")
    # extra ON conjuncts: join filters for inner joins; for outer joins
    # they are genuine ON-clause semantics routed through the operator's
    # extra_condition (candidate-pair filter before outer completion)
    conj = ""
    if rnd.random() < 0.5:
        conj = rnd.choice([
            " AND p.pid % 2 = 0",
            " AND (p.pid % 7 = 0 OR b.bid % 5 = 0)",
            " AND 'x(WHERE' = 'x(WHERE'",
            " AND b.bid > 2",
            " AND b.`bid` >= 0",  # qualified backticked ref (round-5 guard)
        ])
    sel = rnd.choice([
        "p.pid, b.bid",
        "p.pid AS a, b.bid AS z",
        "*",
        "p.*, b.bid",
        "b.*",
        "`b`.*",  # backticked alias star (round-5 guard)
        "p.pid + 1 AS inc, b.bid",
        "p.pid * 2 AS dbl, b.bid",  # depth-0 multiplication star lookalike
        "p.pid, instr('x(*)y', '(*)') AS k",  # '(*)' as string DATA
        "p.pid, b.bid -- trailing comment\n",
        "p.pid, 'b.bid' AS lit",  # alias-qualified text as string DATA
    ])
    tail = rnd.choice([
        "",
        " WHERE p.pid > 5",
        " WHERE b.bid IS NULL OR b.bid < 90",
    ])

    def core(on: str) -> str:
        return f"SELECT {sel} FROM fz_pts p {join_kw} fz_boxes b ON {on}{conj}{tail}"

    shape = rnd.random()
    if shape < 0.15:
        if rnd.random() < 0.5:
            cte = "WITH even_b AS (SELECT * FROM fz_boxes WHERE bid % 2 = 0) "
            return (
                cte + core(pred).replace("fz_boxes b", "even_b b"),
                cte + core(plain).replace("fz_boxes b", "even_b b"),
            )
        # a CTE that shadows the view it reads, with a paren literal in
        # its body: the dispatch must join the CTE, not the catalog view
        cte = "WITH fz_boxes AS (SELECT * FROM fz_boxes WHERE bid % 3 <> 0 AND ')' <> '(') "
        return cte + core(pred), cte + core(plain)
    if shape < 0.3:
        outer_sel = rnd.choice(["*", "q.*", "count(*) AS n"])
        return (
            f"SELECT {outer_sel} FROM ({core(pred)}) q",
            f"SELECT {outer_sel} FROM ({core(plain)}) q",
        )
    if shape < 0.4 and not outer:
        ride = " JOIN fz_boxes d ON b.bid = d.bid"
        base = f"SELECT * FROM fz_pts p JOIN fz_boxes b ON "
        return base + pred + ride, base + plain + ride
    if shape < 0.5:
        # set-op of two arms; line comments can't survive single-line
        # splicing, so strip that select variant's comment
        def arm(on: str) -> str:
            return core(on).replace("-- trailing comment\n", " ")

        return (
            f"{arm(pred)} UNION ALL {arm(pred)}",
            f"{arm(plain)} UNION ALL {arm(plain)}",
        )
    if shape < 0.6 and not outer:
        kw = rnd.choice(["EXISTS", "NOT EXISTS"])
        p2, plain2 = _pred_pair(rnd, "fz_pts", "b2")
        # literals holding parens and alias-qualified text in the select
        # list and in the EXISTS body are data
        esel = rnd.choice(["pid", "pid, 'fz_pts.pid' AS lit"])
        ebody = rnd.choice(["", " AND concat(b2.bid, ')') <> '('"])
        return (
            f"SELECT {esel} FROM fz_pts WHERE {kw} "
            f"(SELECT 1 FROM fz_boxes b2 WHERE {p2}{ebody})",
            f"SELECT {esel} FROM fz_pts WHERE {kw} "
            f"(SELECT 1 FROM fz_boxes b2 WHERE {plain2}{ebody})",
        )
    if shape < 0.72:
        # literal-geometry filter (pushdown path; fz_pts has exact meta).
        # Axis-rect/point literals get a coordinate oracle; the triangle
        # keeps the UDF filter as oracle (UDFs in WHERE plan fine).
        x0, y0, x1, y1 = 10.0, 10.0, 30.0, 30.0
        lit_kind = rnd.random()
        if lit_kind < 0.4:
            lit = f"POLYGON(({x0} {y0},{x1} {y0},{x1} {y1},{x0} {y1},{x0} {y0}))"
            fn = rnd.choice(["ST_Intersects", "ST_Within"])
            call = f"{fn}(t.geom, ST_GeomFromText('{lit}'))"
            cmp_ = ">= " if fn == "ST_Intersects" else "> "
            cmp2 = "<= " if fn == "ST_Intersects" else "< "
            plain_f = (
                f"(t.px {cmp_}{x0} AND t.px {cmp2}{x1} "
                f"AND t.py {cmp_}{y0} AND t.py {cmp2}{y1})"
            )
        elif lit_kind < 0.7:
            lit = "POINT(20 20)"
            call = f"ST_DWithin(t.geom, ST_GeomFromText('{lit}'), 9.0)"
            plain_f = (
                "(sqrt(pow(t.px - 20, 2) + pow(t.py - 20, 2)) <= 9.0)"
            )
        else:
            lit = "POLYGON((0 0,40 0,0 40,0 0))"
            call = f"ST_Intersects(t.geom, ST_GeomFromText('{lit}'))"
            plain_f = call  # UDF in a plain filter is plannable; exercises
            # the non-rectangular refine path against default planning
        extra = " AND pid % 2 = 0" if rnd.random() < 0.5 else ""
        return (
            f"SELECT pid FROM fz_pts t WHERE {call}{extra}",
            f"SELECT pid FROM fz_pts t WHERE {plain_f}{extra}",
        )
    return core(pred), core(plain)


def _key(df):
    cols = df.columns
    rows = sorted(
        (
            tuple(
                None if v is None
                else (round(v, 9) if isinstance(v, float) else
                      bytes(v) if isinstance(v, (bytes, bytearray)) else v)
                for v in row
            )
            for row in df.collect()
        ),
        # NULL cells: None is unorderable vs concrete values — sort with a
        # None-first textual key (equality below still compares raw tuples)
        key=lambda t: tuple((v is None, repr(v)) for v in t),
    )
    return [c.lower() for c in cols], rows


@pytest.mark.parametrize("case", range(N_QUERIES))
def test_dispatch_differential(engine, fdata, case):
    rnd = random.Random(SEED + case)
    sql_d, sql_o = _gen_queries(rnd)
    dcols, drows = _key(engine.sql(sql_d))
    ocols, orows = _key(engine.spark.sql(sql_o))
    assert dcols == ocols, f"columns diverged\n{sql_d}\n{sql_o}"
    assert drows == orows, f"rows diverged\n{sql_d}\n{sql_o}"
