"""ST_ConcaveHull: engine-independent properties of the hull.

For every input cloud, ratio and hole setting the hull must cover every
input point, and each of its rings must be valid and simple (closed, non-
degenerate, no self-intersection or touching between non-adjacent edges).
"""

from __future__ import annotations

import random

import pytest

from dataclod_spark.geo import predicates as GP
from dataclod_spark.geo.algos import _ring_valid, is_valid, make_point
from dataclod_spark.geo.concave import concave_hull
from dataclod_spark.geo.core import wkt_parse

_POLY = "POLYGON((0 0,10 0,10 5,0 -5,0 0))"


def _clouds():
    out = [("polygon_vertices", wkt_parse(_POLY).points())]
    for seed in range(4):
        rnd = random.Random(seed)
        out.append(
            (f"random{seed}", [(float(rnd.randint(0, 100)), float(rnd.randint(0, 100)))
                               for _ in range(40)])
        )
    # a ring of points around an empty middle: holes=True may keep a hole
    out.append(
        ("annulus", [(float(x), float(y)) for x in range(0, 21, 2) for y in range(0, 21, 2)
                     if not (6 <= x <= 14 and 6 <= y <= 14)])
    )
    return out


@pytest.mark.parametrize("name,pts", _clouds(), ids=[c[0] for c in _clouds()])
@pytest.mark.parametrize("ratio", [0.05, 0.1, 0.3, 1.0])
@pytest.mark.parametrize("holes", [False, True])
def test_hull_covers_points_and_rings_are_simple(name, pts, ratio, holes):
    hull = concave_hull(pts, ratio, holes)
    assert hull is not None and hull.kind == "Polygon"
    assert all(_ring_valid(ring) for ring in hull.data), hull.data
    assert is_valid(hull)
    missed = [p for p in pts if not GP.covers(hull, make_point(*p))]
    assert not missed, missed[:5]


def test_concave_hull_ratio_one_is_convex():
    pts = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (5.0, 5.0), (9.0, 5.0)]
    hull = concave_hull(pts, 1.0, False)
    # ratio 1 → nothing erodes → convex hull of the square corners
    assert set(hull.data[0]) == {(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)}
