"""Regression tests for round-1 ADVICE findings (predicate + rewrite bugs).

1. overlaps() must be False for two LineStrings crossing at a single point
   (OGC: interior∩interior must be 1-dimensional for dim-1 pairs — a point
   crossing is ST_Crosses, not ST_Overlaps).
2. _covers_impl must node the covered geometry's segments at interaction
   points: a gap in a covering MULTILINESTRING that avoids segment midpoints
   must still be detected.
3. rewrite_values_tables must not capture a following parenthesized clause
   (e.g. ``AND (x > 1)``) as a VALUES table alias.
"""

from dataclod_spark.geo import predicates as P
from dataclod_spark.geo.core import wkt_parse as W
from dataclod_spark.plans.rewrites import rewrite_values_tables


class TestLinealOverlaps:
    def test_point_crossing_is_not_overlaps(self):
        a = W("LINESTRING(0 0,2 2)")
        b = W("LINESTRING(0 2,2 0)")
        assert P.overlaps(a, b) is False
        # but it IS an interior-interior intersection: not touches, intersects
        assert P.intersects(a, b) is True
        assert P.touches(a, b) is False

    def test_collinear_partial_overlap_is_overlaps(self):
        a = W("LINESTRING(0 0,2 0)")
        b = W("LINESTRING(1 0,3 0)")
        assert P.overlaps(a, b) is True

    def test_endpoint_touch_is_not_overlaps(self):
        a = W("LINESTRING(0 0,1 0)")
        b = W("LINESTRING(1 0,2 0)")
        assert P.overlaps(a, b) is False
        assert P.touches(a, b) is True

    def test_contained_line_is_not_overlaps(self):
        a = W("LINESTRING(0 0,3 0)")
        b = W("LINESTRING(1 0,2 0)")
        assert P.overlaps(a, b) is False  # a covers b

    def test_polygon_overlap_unchanged(self):
        a = W("POLYGON((0 0,2 0,2 2,0 2,0 0))")
        b = W("POLYGON((1 1,3 1,3 3,1 3,1 1))")
        assert P.overlaps(a, b) is True


class TestCoversNoding:
    def test_gap_in_covering_multiline(self):
        m = W("MULTILINESTRING((0 0,0.2 0),(0.3 0,1 0))")
        l = W("LINESTRING(0 0,1 0)")
        assert P.covers(m, l) is False
        assert P.covers(l, m) is True

    def test_gap_at_midpoint_still_detected(self):
        # gap centered exactly at the midpoint (the old sample point)
        m = W("MULTILINESTRING((0 0,0.45 0),(0.55 0,1 0))")
        l = W("LINESTRING(0 0,1 0)")
        assert P.covers(m, l) is False

    def test_exact_cover_multiline(self):
        m = W("MULTILINESTRING((0 0,0.5 0),(0.5 0,1 0))")
        l = W("LINESTRING(0 0,1 0)")
        assert P.covers(m, l) is True
        assert P.equals(m, l) is True

    def test_polygon_covers_line_unchanged(self):
        pg = W("POLYGON((0 0,4 0,4 4,0 4,0 0))")
        assert P.covers(pg, W("LINESTRING(1 1,3 3)")) is True
        assert P.covers(pg, W("LINESTRING(1 1,5 5)")) is False

    def test_line_on_polygon_boundary_covered(self):
        pg = W("POLYGON((0 0,4 0,4 4,0 4,0 0))")
        assert P.covers(pg, W("LINESTRING(0 0,4 0)")) is True
        assert P.contains(pg, W("LINESTRING(0 0,4 0)")) is False


class TestValuesRewrite:
    def test_following_and_clause_not_an_alias(self):
        s = "SELECT 1 WHERE 2 IN (VALUES (ST_X(p))) AND (x > 1)"
        assert rewrite_values_tables(s) == (
            "SELECT 1 WHERE 2 IN (SELECT ST_X(p)) AND (x > 1)"
        )

    def test_real_alias_with_columns_still_consumed(self):
        s = "SELECT * FROM (VALUES (ST_X(p), 2)) AS t(a, b)"
        assert rewrite_values_tables(s) == (
            "SELECT * FROM (SELECT ST_X(p) AS a, 2 AS b) t"
        )

    def test_bare_alias_word(self):
        s = "SELECT * FROM (VALUES (ST_X(p))) t WHERE x > 1"
        out = rewrite_values_tables(s)
        assert "SELECT ST_X(p)" in out and ") t " in out and "WHERE x > 1" in out

    def test_reserved_word_after_values_not_alias(self):
        s = "SELECT * FROM (VALUES (ST_X(p))) CROSS JOIN q"
        out = rewrite_values_tables(s)
        assert "CROSS JOIN q" in out
        assert "AS cross" not in out.lower()


class TestCrosses:
    """OGC ST_Crosses (reference join planner: spatial_expr_utils.rs:51)."""

    CASES = [
        ("LINESTRING(0 0,2 2)", "LINESTRING(0 2,2 0)", True),
        ("LINESTRING(0 0,2 0)", "LINESTRING(1 0,3 0)", False),  # overlaps, not crosses
        ("LINESTRING(0 0,1 1)", "LINESTRING(1 1,2 0)", False),  # endpoint touch
        ("LINESTRING(-1 5, 11 5)", "POLYGON((0 0,10 0,10 10,0 10,0 0))", True),
        ("POLYGON((0 0,10 0,10 10,0 10,0 0))", "LINESTRING(-1 5, 11 5)", True),
        ("LINESTRING(2 2,8 8)", "POLYGON((0 0,10 0,10 10,0 10,0 0))", False),
        ("LINESTRING(0 0,10 0)", "POLYGON((0 0,10 0,10 10,0 10,0 0))", False),
        ("MULTIPOINT((1 1),(5 9))", "LINESTRING(0 0,2 2)", True),
        ("POINT(1 1)", "LINESTRING(0 0,2 2)", False),
        ("POLYGON((0 0,4 0,4 4,0 4,0 0))", "POLYGON((2 2,6 2,6 6,2 6,2 2))", False),
        ("POINT(5 5)", "POLYGON((0 0,10 0,10 10,0 10,0 0))", False),
        ("MULTIPOINT((5 5),(20 20))", "POLYGON((0 0,10 0,10 10,0 10,0 0))", True),
    ]

    def test_truth_table(self):
        from dataclod_spark.geo import core as GC
        from dataclod_spark.geo.predicates import crosses

        for a, b, want in self.CASES:
            got = crosses(GC.wkt_parse(a), GC.wkt_parse(b))
            assert got == want, f"crosses({a}, {b}) = {got}, want {want}"

    def test_sql_registration(self, engine):
        row = engine.sql(
            "SELECT ST_Crosses(ST_GeomFromText('LINESTRING(0 0,2 2)'), "
            "ST_GeomFromText('LINESTRING(0 2,2 0)')) AS c, "
            "ST_Crosses(ST_GeomFromText('LINESTRING(0 0,2 0)'), "
            "ST_GeomFromText('LINESTRING(1 0,3 0)')) AS o"
        ).collect()[0]
        assert row.c is True and row.o is False


class TestCrossingRobustness:
    """Hypothesis-found round-3 regressions: crossing existence must come
    from the exact orientation tests, never from relocating the FP
    crossing coordinates (frame-dependent) or ε-probing around them
    (rounding granularity differs between coordinate magnitudes)."""

    def test_intersects_symmetric_for_irrational_crossing(self):
        # crossing at (5/7, 0) — not FP-representable; relocating the
        # computed point onto the operand whose frame didn't produce it
        # used to fail, making intersects order-dependent
        a = W("LINESTRING(0 0,1 0)")
        b = W("LINESTRING(0 -1,5 6)")
        assert P.intersects(a, b) is True
        assert P.intersects(b, a) is True

    def test_touches_translation_invariant_line_through_polygon(self):
        # the line passes through the square's interior (not touches);
        # translating by (0,3) changed the ε-probe's FP granularity and
        # flipped the interior-interior verdict
        a0 = W("LINESTRING(0 0,2 2)")
        b0 = W("POLYGON((1 0,1 2,2 2,2 0,1 0))")
        a1 = W("LINESTRING(0 3,2 5)")
        b1 = W("POLYGON((1 3,1 5,2 5,2 3,1 3))")
        for a, b in ((a0, b0), (a1, b1)):
            assert P.touches(a, b) is False
            assert P.intersects(a, b) is True

    def test_equals_reflexive_on_self_crossing_multiline(self):
        # the parts cross at (1/3, 2/3) — not FP-representable; midpoint
        # relocation used to break covers(a, a), hence equals(a, a)
        a = W("MULTILINESTRING((0 1,1 0),(0 0,1 2))")
        assert P.equals(a, a) is True
        assert P.covers(a, a) is True

    def test_covers_line_through_lineal_crossing(self):
        # g1's own parts cross transversally; covering one branch must not
        # be rejected because of the crossing (a crossing point belongs to
        # the lineal g1's point set — it is not an escape)
        plus = W("MULTILINESTRING((0 0,1 1),(1 0,-1 1))")
        branch = W("LINESTRING(0 0,1 1)")
        assert P.covers(plus, branch) is True
        assert P.contains(plus, branch) is True

    def test_lineal_gap_still_not_covered(self):
        # the interval-coverage rewrite must keep catching off-midpoint gaps
        gappy = W("MULTILINESTRING((0 0,2 0),(3 0,10 0))")
        whole = W("LINESTRING(0 0,10 0)")
        assert P.covers(gappy, whole) is False


def test_seg_intersect_collinear_touch_cases():
    """Regression around the r3-removed dead branch in
    _seg_intersect_proper_or_touch: collinear and endpoint-touch cases
    must keep their truth values."""
    from dataclod_spark.geo.algos import _seg_intersect_proper_or_touch as hit

    # proper crossing
    assert hit((0, 0), (2, 2), (0, 2), (2, 0))
    # T-touch: endpoint of b lies in the interior of a
    assert hit((0, 0), (4, 0), (2, 0), (2, 3))
    # collinear, overlapping interval
    assert hit((0, 0), (3, 0), (2, 0), (5, 0))
    # collinear, sharing exactly one endpoint
    assert hit((0, 0), (2, 0), (2, 0), (5, 0))
    # collinear, disjoint with a gap
    assert not hit((0, 0), (1, 0), (2, 0), (3, 0))
    # parallel, never touching
    assert not hit((0, 0), (3, 0), (0, 1), (3, 1))
    # endpoint of a touches endpoint of b, non-collinear
    assert hit((0, 0), (1, 1), (1, 1), (2, 0))
    # near-miss: a1 collinear with b's line but outside b, segments apart
    assert not hit((5, 0), (6, 2), (0, 0), (2, 0))


class TestAxisRectangleRings:
    """A bowtie or a spike ring spans the four corners of its bbox but is
    not that box.  Marking it bbox-exact let the JVM verdict (a plain box
    test) decide its pairs: the operator and the exact-covering pushdown
    returned every point of the box.  Each path must return the scalar
    predicate's rows."""

    POLYS = {
        "bowtie": "POLYGON((0 0,1 1,0 1,1 0,0 0))",
        "spike": "POLYGON((0 0,1 0,1 1,1 0,0 0))",
    }
    POINTS = [(1, 0.1, 0.5), (2, 0.5, 0.5), (3, 0.5, 0.1), (4, 0.5, 0.0)]

    def test_every_path_matches_scalar(self, engine):
        from pyspark.sql import functions as F

        from dataclod_spark.operators.spatial_join import point_wkb, spatial_join

        spark = engine.spark
        pts = spark.createDataFrame(self.POINTS, "pid long, px double, py double").select(
            "pid", "px", "py", point_wkb(F.col("px"), F.col("py")).alias("geom")
        )
        pts.createOrReplaceTempView("rect_ring_pts")
        engine.register_bbox("rect_ring_pts", "geom", "px", "py", "px", "py", exact=True)
        try:
            for name, wkt in self.POLYS.items():
                poly = W(wkt)
                want = sorted(
                    pid for pid, x, y in self.POINTS
                    if P.intersects(W(f"POINT({x} {y})"), poly)
                )
                polys = spark.sql(f"SELECT 1 AS rid, ST_GeomFromText('{wkt}') AS geom")
                polys.createOrReplaceTempView("rect_ring_polys")
                region = (
                    "SELECT pid FROM rect_ring_pts t WHERE "
                    f"ST_Intersects(t.geom, ST_GeomFromText('{wkt}'))"
                )
                got = {
                    "operator": spatial_join(pts, polys, "intersects"),
                    "pushdown": engine.sql(region),
                    "plain": spark.sql(region),
                    "dispatch": engine.sql(
                        "SELECT p.pid FROM rect_ring_pts p JOIN rect_ring_polys b "
                        "ON ST_Intersects(p.geom, b.geom)"
                    ),
                }
                for path, df in got.items():
                    assert sorted(r.pid for r in df.collect()) == want, (name, path)
            assert want == [4]  # the spike holds only the point on its edge
        finally:
            engine._bbox_meta.pop("rect_ring_pts", None)
            spark.catalog.dropTempView("rect_ring_pts")
            spark.catalog.dropTempView("rect_ring_polys")
