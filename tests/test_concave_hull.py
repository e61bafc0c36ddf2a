"""ST_ConcaveHull: cycle-level parity with the reference's slt goldens.

The hull ring must contain exactly the golden's vertices in the same cyclic
order and direction; only the starting rotation (GEOS-internal) may differ.
The goldens come from the reference's corpus; without it the module skips
(engine-independent hull properties: test_concave_hull_properties.py).
"""

from __future__ import annotations

import re

# the SLT harness skips at module level when its corpus is absent; importing
# it carries that skip (and its reason, the missing path) to this module
from test_spatial_slt import SLT_PATH

from dataclod_spark.geo.concave import concave_hull
from dataclod_spark.geo.core import wkt_parse

SLT = SLT_PATH.read_text()


def _cycle_offset(expected, got):
    """Rotation offset if `got` equals `expected` as a directed cycle."""
    a, b = expected[:-1], got[:-1]
    if len(a) != len(b):
        return None
    for k in range(len(a)):
        if a == b[k:] + b[:k]:
            return k
    return None


def _case(pattern: str):
    m = re.search(pattern, SLT, re.DOTALL)
    assert m, "slt golden not found"
    return m.group(1), wkt_parse(m.group(2).strip())


def test_concave_hull_cycle_parity():
    inp, exp = _case(
        r"SELECT ST_AsText\(ST_ConcaveHull\(ST_GeomFromText\('(MULTIPOINT \(\(10 72\).*?)'\), 0\.1\)\)\n----\n(.*?)\n\n"
    )
    got = concave_hull(wkt_parse(inp).points(), 0.1, False)
    assert got.kind == "Polygon" and len(got.data) == 1
    assert _cycle_offset(exp.data[0], got.data[0]) is not None


def test_concave_hull_with_holes_cycle_parity():
    inp, exp = _case(
        r"SELECT ST_AsText\( ST_ConcaveHull\(ST_GeomFromText\('(MULTIPOINT \(\(132 64\).*?)'\), 0\.15, true\)\)\n----\n(.*?)\n\n"
    )
    got = concave_hull(wkt_parse(inp).points(), 0.15, True)
    assert len(got.data) == 2  # shell + one hole
    assert _cycle_offset(exp.data[0], got.data[0]) is not None
    assert _cycle_offset(exp.data[1], got.data[1]) is not None


def test_concave_hull_polygon_vertices():
    inp, exp = _case(
        r"SELECT ST_AsText\(ST_ConcaveHull\(ST_GeomFromText\('(POLYGON\(\(0 0,10 0,10 5,0 -5,0 0\)\))'\), 0\.1\)\)\n----\n(.*?)\n\n"
    )
    got = concave_hull(wkt_parse(inp).points(), 0.1, False)
    assert _cycle_offset(exp.data[0], got.data[0]) is not None
