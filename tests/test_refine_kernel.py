"""The binary-predicate batch kernel (``spatial_udfs.refine_batch``) against
the scalar SQL body it replaces.

Every registered ``ST_*`` predicate, the SQL dispatch's masked refine and the
spatial join operator evaluate the one kernel.  Row for row it must equal
the per-row scalar body wrapped by ``_batchify`` (NULL in → NULL out, any
parse or evaluation failure → NULL) over random and edge inputs: NULLs,
malformed bytes, empty geometries, inputs a predicate raises on, EWKB with an SRID, points on rectangle
edges and corners, bowtie and spike rings, homogeneous 21-byte point
batches (the vectorized path) and NULL/NaN distances.  No Spark, except the
last test.
"""

from __future__ import annotations

import math
import random
import struct

import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from dataclod_spark.functions.spatial_udfs import (
    _BOOL,
    PREDICATES,
    _batchify,
    _g,
    predicate_udf,
    refine_batch,
)
from dataclod_spark.geo import core as GC
from dataclod_spark.geo.algos import axis_rect

W = GC.wkt_parse


def _wkb(wkt: str, srid: int = 0) -> bytes:
    g = W(wkt)
    return GC.wkb_write(g.with_srid(srid) if srid else g)


RECT = "POLYGON((0 0,4 0,4 3,0 3,0 0))"
BOWTIE = "POLYGON((0 0,1 1,0 1,1 0,0 0))"
SPIKE = "POLYGON((0 0,1 0,1 1,1 0,0 0))"

SHAPES = [
    _wkb(RECT),
    _wkb("POLYGON((4 3,0 3,0 0,4 0,4 3))"),  # the same box, clockwise
    _wkb(RECT, srid=4326),
    _wkb(BOWTIE),
    _wkb(SPIKE),
    _wkb("POLYGON((0 0,4 0,0 3,0 0))"),
    _wkb("POLYGON((-1 -1,5 -1,5 5,-1 5,-1 -1),(1 1,2 1,2 2,1 2,1 1))"),
    _wkb("LINESTRING(0 0,4 3)"),
    _wkb("LINESTRING(-1 1,5 1)"),
    _wkb("MULTIPOINT((0 0),(2 2))"),
    _wkb("POLYGON EMPTY"),
    _wkb("LINESTRING EMPTY"),
    # one-vertex line and ring: they parse, but ST_DWithin raises on them
    b"\x01\x02\x00\x00\x00\x01\x00\x00\x00" + struct.pack("<2d", 0, 0),
    b"\x01\x03\x00\x00\x00\x01\x00\x00\x00\x01\x00\x00\x00" + struct.pack("<2d", 0, 0),
]

POINTS = [
    _wkb(f"POINT({x} {y})")
    for x, y in [
        (0, 0), (4, 3), (0, 3), (2, 0), (4, 1.5), (2, 1.5), (5, 1), (-1, -1),
        (0.1, 0.5), (0.5, 0.5), (0.5, 0.1), (1, 0.5), (0.5, 0),
    ]
] + [
    _wkb("POINT(2 2)", srid=4326),
    _wkb("POINT EMPTY"),
    NAN_X := b"\x01\x01\x00\x00\x00" + struct.pack("<2d", math.nan, 1.0),
]

BAD = [b"\x00", b"\x01\x03\x00\x00\x00\x01", bytes(21), b"garbage"]

POOL = SHAPES + POINTS + BAD + [None]


def _scalar_udf_body(name: str):
    """The per-row SQL body the registered predicate had before the kernel:
    ``_batchify`` over ``_nullsafe(fn(_g(a), _g(b)[, float(d)]))``."""
    fn = PREDICATES[name]
    if name == "ST_DWithin":
        return _batchify(lambda a, b, d: fn(_g(a), _g(b), float(d)), _BOOL).func
    return _batchify(lambda a, b: fn(_g(a), _g(b)), _BOOL).func


def _check(name: str, left: list, right: list, dist: list | None = None) -> None:
    cols = [pd.Series(left, dtype=object), pd.Series(right, dtype=object)]
    if dist is not None:
        cols.append(pd.Series(dist, dtype="float64"))
    got = refine_batch(name, *cols).tolist()
    want = _scalar_udf_body(name)(*cols).tolist()
    assert all(v is None or type(v) is bool for v in got), got
    for row, (g, w) in enumerate(zip(got, want)):
        assert g == w, (name, row, left[row], right[row], g, w)


_NAMES = sorted(PREDICATES)


@settings(max_examples=120, deadline=None)
@given(
    st.sampled_from(_NAMES),
    st.lists(
        st.tuples(
            st.sampled_from(POOL),
            st.sampled_from(POOL),
            st.sampled_from([0.0, 0.5, 1.0, 2.5, None, math.nan]),
        ),
        min_size=1,
        max_size=40,
    ),
)
# the same blob on both sides: ST_Contains(p, p) is false for a NaN
# coordinate unless both sides share one parsed object
@example("ST_Contains", [(NAN_X, NAN_X, None)])
def test_kernel_equals_scalar_body(name, rows):
    left, right, dist = (list(c) for c in zip(*rows))
    _check(name, left, right, dist if name == "ST_DWithin" else None)


def test_kernel_homogeneous_point_batch():
    """Every probe a plain 21-byte point: intersects takes the vectorized
    point × axis-rectangle path; bowtie, spike and other shapes fall back
    per row.  The other predicates see the same batch."""
    rnd = random.Random(5)
    pts = [p for p in POINTS if len(p) == 21]
    pts += [_wkb(f"POINT({rnd.randint(-1, 5)} {rnd.randint(-1, 4)})") for _ in range(60)]
    shapes = SHAPES + [None]
    left = [rnd.choice(pts) for _ in range(300)]
    right = [rnd.choice(shapes) for _ in range(300)]
    for name in _NAMES:
        dist = [rnd.choice([0.0, 1.0, None, math.nan]) for _ in left]
        _check(name, left, right, dist if name == "ST_DWithin" else None)


def test_kernel_all_null_batch():
    out = refine_batch("ST_Intersects", pd.Series([None] * 3), pd.Series([None] * 3))
    assert out.tolist() == [None, None, None]


def test_axis_rect_rejects_bowtie_and_spike():
    assert axis_rect(W(RECT)) == (0.0, 0.0, 4.0, 3.0)
    assert axis_rect(W("POLYGON((4 3,0 3,0 0,4 0,4 3))")) == (0.0, 0.0, 4.0, 3.0)
    for wkt in (
        BOWTIE,
        SPIKE,
        "POLYGON((0 0,1 0,2 0,3 0,0 0))",
        "POLYGON((0 0,4 0,0 3,0 0))",
        "POLYGON((0 0,4 0,4 3,0 3,0 0),(1 1,2 1,2 2,1 2,1 1))",
        "POLYGON EMPTY",
        "POINT(1 1)",
    ):
        assert axis_rect(W(wkt)) is None, wkt


def test_one_udf_object_per_predicate():
    assert predicate_udf("st_coveredby") is predicate_udf("ST_CoveredBy")
    assert {predicate_udf(n).func.__name__ for n in PREDICATES} == set(PREDICATES)


def test_sql_predicate_null_and_malformed_give_null(engine):
    row = engine.sql(
        "SELECT ST_Intersects(NULL, g) AS n, ST_Intersects(X'00', g) AS bad, "
        "ST_Intersects(ST_GeomFromText('POINT(1 1)'), g) AS hit "
        "FROM (SELECT ST_GeomFromText('POLYGON((0 0,4 0,4 3,0 3,0 0))') AS g)"
    ).collect()[0]
    assert row.n is None and row.bad is None and row.hit is True
