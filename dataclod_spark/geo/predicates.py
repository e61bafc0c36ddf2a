"""Binary spatial predicates (simplified DE-9IM over the 2D geometry model).

Covers the reference's predicate set (``udfs.rs:168-246,373``): Intersects,
Contains, Within, Equals, Covers, CoveredBy, Touches, Overlaps,
BBox_Intersects, DWithin.  Semantics follow GEOS/OGC: Contains requires an
interior-interior intersection (a polygon does not "contain" a point on its
own boundary), Covers does not; Touches means intersecting without any
interior-interior intersection; Overlaps requires same dimension, interior
overlap, and neither side containing the other.

Multi-geometries and collections are handled by decomposing into simple
components; interior/boundary classification is computed per component pair
and combined (a point on the shared endpoint of two segments of the same
LineString is interior to it — handled by tracking boundary points of the
whole geometry, not per segment).
"""

from __future__ import annotations

import math
from typing import Optional

from dataclod_spark.geo.algos import (
    _on_segment,
    _orient,
    _segments,
    bounds,
    distance,
)
from dataclod_spark.geo.core import (
    GEOMETRYCOLLECTION,
    LINESTRING,
    MULTILINESTRING,
    MULTIPOINT,
    MULTIPOLYGON,
    POINT,
    POLYGON,
    Coord,
    Geometry,
)

# interior/boundary/exterior codes for point-in-geometry location
EXTERIOR, BOUNDARY, INTERIOR = 0, 1, 2


def bbox_intersects(g1: Geometry, g2: Geometry) -> Optional[bool]:
    b1, b2 = bounds(g1), bounds(g2)
    if b1 is None or b2 is None:
        return False
    return not (
        b1[2] < b2[0] or b2[2] < b1[0] or b1[3] < b2[1] or b2[3] < b1[1]
    )


# --------------------------------------------------------------------------
# point location
# --------------------------------------------------------------------------


def _point_in_ring(p: Coord, ring: list[Coord]) -> int:
    """0 outside, 1 on boundary, 2 inside (ray casting with boundary check)."""
    x, y = p
    inside = False
    for a, b in _segments(ring):
        if _orient(a, b, p) == 0 and _on_segment(a, b, p):
            return BOUNDARY
        (x1, y1), (x2, y2) = a, b
        if (y1 > y) != (y2 > y):
            xin = (x2 - x1) * (y - y1) / (y2 - y1) + x1
            if x < xin:
                inside = not inside
    return INTERIOR if inside else EXTERIOR


def _point_in_polygon(p: Coord, rings: list[list[Coord]]) -> int:
    """Location of p relative to a polygon with holes."""
    if not rings:
        return EXTERIOR
    loc = _point_in_ring(p, rings[0])
    if loc != INTERIOR:
        return loc
    for hole in rings[1:]:
        hloc = _point_in_ring(p, hole)
        if hloc == INTERIOR:
            return EXTERIOR
        if hloc == BOUNDARY:
            return BOUNDARY
    return INTERIOR


def _line_boundary_points(g: Geometry) -> set[Coord]:
    """Mod-2 boundary of a (multi)linestring."""
    lines = [g.data] if g.kind == LINESTRING else g.data
    deg: dict[Coord, int] = {}
    for l in lines:
        if len(l) >= 2:
            for p in (l[0], l[-1]):
                deg[p] = deg.get(p, 0) + 1
    return {p for p, d in deg.items() if d % 2 == 1}


def _locate_point(p: Coord, g: Geometry) -> int:
    """Location of point p in geometry g (max over components, with
    line-boundary handled at the whole-geometry level)."""
    if g.kind == POINT:
        return INTERIOR if g.data == p else EXTERIOR
    if g.kind == MULTIPOINT:
        return INTERIOR if p in g.data else EXTERIOR
    if g.kind in (LINESTRING, MULTILINESTRING):
        bpts = _line_boundary_points(g)
        lines = [g.data] if g.kind == LINESTRING else g.data
        on_line = any(
            _orient(a, b, p) == 0 and _on_segment(a, b, p)
            for l in lines
            for a, b in _segments(l)
        )
        if not on_line:
            return EXTERIOR
        return BOUNDARY if p in bpts else INTERIOR
    if g.kind == POLYGON:
        return _point_in_polygon(p, g.data)
    if g.kind == MULTIPOLYGON:
        best = EXTERIOR
        for poly in g.data:
            loc = _point_in_polygon(p, poly)
            if loc == INTERIOR:
                return INTERIOR
            best = max(best, loc)
        return best
    best = EXTERIOR
    for sub in g.data:
        best = max(best, _locate_point(p, sub))
        if best == INTERIOR:
            return INTERIOR
    return best


# --------------------------------------------------------------------------
# segment-level helpers
# --------------------------------------------------------------------------


def _segs(g: Geometry) -> list[tuple[Coord, Coord]]:
    memo = getattr(g, "_segs_memo", None)
    if memo is not None:
        return memo
    if g.kind == LINESTRING:
        segs = _segments(g.data)
    elif g.kind == MULTILINESTRING:
        segs = [s for l in g.data for s in _segments(l)]
    elif g.kind == POLYGON:
        segs = [s for r in g.data for s in _segments(r)]
    elif g.kind == MULTIPOLYGON:
        segs = [s for poly in g.data for r in poly for s in _segments(r)]
    else:
        segs = []
    if getattr(g, "_prepared", False):
        # prepared geometry (≈ GEOS PreparedGeometry, refine/geo.rs): it
        # keeps its segment list, so a polygon evaluated against many
        # candidate pairs builds it once instead of per pair.  Contents are
        # identical either way; the refine kernel prepares every geometry
        # it caches, which bounds the memos by one batch's distinct blobs
        g._segs_memo = segs
    return segs


def prepare(g: Geometry) -> Geometry:
    """Mark ``g`` prepared: derived structures (segment lists) are memoized
    on first use and reused across predicate evaluations."""
    g._prepared = True
    return g


def _seg_cross_proper(a1, a2, b1, b2) -> Optional[Coord]:
    """Proper crossing point (interiors of both segments), else None."""
    d1 = _orient(b1, b2, a1)
    d2 = _orient(b1, b2, a2)
    d3 = _orient(a1, a2, b1)
    d4 = _orient(a1, a2, b2)
    if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)) and 0 not in (d1, d2, d3, d4):
        denom = (a2[0] - a1[0]) * (b2[1] - b1[1]) - (a2[1] - a1[1]) * (b2[0] - b1[0])
        t = ((b1[0] - a1[0]) * (b2[1] - b1[1]) - (b1[1] - a1[1]) * (b2[0] - b1[0])) / denom
        return (a1[0] + t * (a2[0] - a1[0]), a1[1] + t * (a2[1] - a1[1]))
    return None


def _collinear_overlap_pts(a1, a2, b1, b2) -> Optional[tuple[Coord, Coord]]:
    """Midpoint-representable overlap of collinear segments (lo<hi), else None."""
    if _orient(a1, a2, b1) != 0 or _orient(a1, a2, b2) != 0:
        return None
    from dataclod_spark.geo.algos import _seg_param

    t1, t2 = _seg_param(a1, a2, b1), _seg_param(a1, a2, b2)
    lo, hi = max(min(t1, t2), 0.0), min(max(t1, t2), 1.0)
    if lo < hi:
        return (
            (a1[0] + lo * (a2[0] - a1[0]), a1[1] + lo * (a2[1] - a1[1])),
            (a1[0] + hi * (a2[0] - a1[0]), a1[1] + hi * (a2[1] - a1[1])),
        )
    return None


def _candidate_points(g1: Geometry, g2: Geometry) -> tuple[list[Coord], bool]:
    """(points where the pair's interaction can change, any-proper-crossing).

    Points: vertices of each side, pairwise segment crossings, and
    collinear-overlap midpoints.  The boolean is decided purely by the
    exact orientation tests in ``_seg_cross_proper`` — the FP crossing
    *coordinates* are only sampling hints and may fail to relocate exactly
    onto both operands (they are computed in the first segment's frame),
    so crossing-existence must not be re-derived from them.
    """
    pts: list[Coord] = []
    pts.extend(g1.points())
    pts.extend(g2.points())
    crossed = False
    s1, s2 = _segs(g1), _segs(g2)
    for a1, a2 in s1:
        for b1, b2 in s2:
            p = _seg_cross_proper(a1, a2, b1, b2)
            if p is not None:
                crossed = True
                pts.append(p)
            ov = _collinear_overlap_pts(a1, a2, b1, b2)
            if ov is not None:
                mid = ((ov[0][0] + ov[1][0]) / 2.0, (ov[0][1] + ov[1][1]) / 2.0)
                pts.append(mid)
                pts.extend(ov)
    return pts, crossed


def _interaction_flags(g1: Geometry, g2: Geometry) -> tuple[bool, bool]:
    """(any intersection, interior∩interior nonempty) via candidate points.

    For polygon×polygon this is exact for non-degenerate inputs: if the
    interiors overlap with positive area, either a vertex of one is interior
    to the other or two boundaries cross properly (midpoint of a crossing
    neighborhood is interior to both — approximated by the crossing point
    being interior/boundary of both plus an area probe below).
    """
    pts, crossed = _candidate_points(g1, g2)
    # a proper boundary crossing IS an intersection — decided by exact
    # orientation math, independent of whether the FP crossing coordinates
    # relocate onto both operands (they can miss the operand whose frame
    # did not produce them, which would make the predicate order-dependent)
    any_hit = crossed
    ii = False
    for p in pts:
        l1 = _locate_point(p, g1)
        l2 = _locate_point(p, g2)
        if l1 != EXTERIOR and l2 != EXTERIOR:
            any_hit = True
            if l1 == INTERIOR and l2 == INTERIOR:
                ii = True
                break
    if any_hit and not ii:
        ii = _interior_probe(g1, g2)
    return any_hit, ii


def _interior_probe(g1: Geometry, g2: Geometry) -> bool:
    """Detect interior-interior overlap missed by vertex sampling.

    A proper (transversal) crossing of two segments implies interior
    overlap for EVERY dimension pairing, by the local half-plane/quadrant
    argument on valid geometry: the crossing is strictly inside both
    segments, so a lineal operand's interior passes through it, and an
    areal operand locally fills one side of its boundary edge — the
    crossing line reaches both sides, hence the interior side.  Decided by
    the exact orientation tests alone; ε-offset probes around the crossing
    are NOT equivalent (the FP offset granularity differs between
    coordinate magnitudes, so a probe meant to stay on a 1-D operand
    drifts off it — translation-variance found by hypothesis).
    """
    d1, d2 = g1.dimension(), g2.dimension()
    s1, s2 = _segs(g1), _segs(g2)
    for a1, a2 in s1:
        for b1, b2 in s2:
            if _seg_cross_proper(a1, a2, b1, b2) is not None:
                return True
    # also: collinear boundary overlap between two polygons whose interiors
    # are on the same side — probe midpoints of shared edges
    if d1 == 2 and d2 == 2:
        for a1, a2 in s1:
            for b1, b2 in s2:
                ov = _collinear_overlap_pts(a1, a2, b1, b2)
                if ov is None:
                    continue
                mid = ((ov[0][0] + ov[1][0]) / 2.0, (ov[0][1] + ov[1][1]) / 2.0)
                # normal probes either side of the shared edge
                dx, dy = a2[0] - a1[0], a2[1] - a1[1]
                n = math.hypot(dx, dy) or 1.0
                for s in (1e-9, -1e-9):
                    q = (mid[0] - dy / n * s, mid[1] + dx / n * s)
                    if _locate_point(q, g1) == INTERIOR and _locate_point(q, g2) == INTERIOR:
                        return True
    # strictly-nested shapes (no boundary contact) have no candidate point
    # interior to BOTH: probe interior representatives — segment midpoints
    # of lineal components and shell interior points of areal components
    probes: list[Coord] = []
    for g in (g1, g2):
        for comp in g.flatten():
            if comp.kind == LINESTRING:
                for a, b in _segments(comp.data):
                    probes.append(((a[0] + b[0]) / 2.0, (a[1] + b[1]) / 2.0))
            elif comp.kind == POLYGON and comp.data:
                probes.append(_ring_interior_point(comp.data[0]))
    for p in probes:
        if _locate_point(p, g1) == INTERIOR and _locate_point(p, g2) == INTERIOR:
            return True
    return False


# --------------------------------------------------------------------------
# public predicates
# --------------------------------------------------------------------------


def intersects(g1: Geometry, g2: Geometry) -> bool:
    if g1.is_empty() or g2.is_empty():
        return False
    if not bbox_intersects(g1, g2):
        return False
    any_hit, _ = _interaction_flags(g1, g2)
    return any_hit


def _covers_impl(g1: Geometry, g2: Geometry) -> bool:
    """Every candidate point of g2 is non-exterior to g1, and no part of g2
    escapes (checked via crossings: a proper boundary crossing means escape
    unless g1 is areal and the crossing stays inside)."""
    if g1.is_empty() or g2.is_empty():
        return False
    d1 = g1.dimension()
    d2 = g2.dimension()
    if d2 > d1:
        return False
    if d2 == 0 or d1 == 2:
        # every vertex of g2 inside/boundary of g1 (for lineal×lineal this
        # is subsumed — and made frame-robust — by the interval coverage
        # below)
        for p in g2.points():
            if _locate_point(p, g1) == EXTERIOR:
                return False
    if d2 == 0:
        return True
    from dataclod_spark.geo.algos import _seg_param

    s1 = _segs(g1)
    if d1 == 1:
        # isolated point components of a mixed lineal g2 still need the
        # plain vertex check (they have no segments to cover)
        for comp in g2.flatten():
            if comp.dimension() == 0:
                for p in comp.points():
                    if _locate_point(p, g1) == EXTERIOR:
                        return False
        # Lineal covers lineal ⇔ for every g2 segment, the union of its
        # collinear-overlap parameter intervals with g1's segments covers
        # [0,1].  Pure parameter-space reasoning: relocating sampled
        # midpoint COORDINATES onto g1 is frame-dependent (the midpoint of
        # a segment's own parameterization can round off its line — e.g.
        # (tm, 1−tm) with irrational tm), which broke equals(a, a) on
        # self-crossing multilines.  Isolated crossings have measure zero
        # and cannot cover an interval, so they are correctly ignored;
        # gaps in g1 (the off-midpoint MULTILINESTRING gap case) surface
        # as uncovered intervals exactly.
        for b1, b2 in _segs(g2):
            intervals: list[tuple[float, float]] = []
            for a1, a2 in s1:
                ov = _collinear_overlap_pts(b1, b2, a1, a2)
                if ov is not None:
                    t0, t1 = _seg_param(b1, b2, ov[0]), _seg_param(b1, b2, ov[1])
                    lo, hi = min(t0, t1), max(t0, t1)
                    intervals.append((max(lo, 0.0), min(hi, 1.0)))
            intervals.sort()
            covered_to = 0.0
            for lo, hi in intervals:
                if lo > covered_to + 1e-12:
                    break
                covered_to = max(covered_to, hi)
            if covered_to < 1.0 - 1e-12:
                return False
    else:
        # areal g1: every sub-segment of g2 (noded at all interaction
        # points with g1) must have a non-exterior midpoint.  Noding is
        # required: a bare segment-midpoint sample misses boundary gaps
        # that avoid the midpoint.
        g1_pts = g1.points()
        for b1, b2 in _segs(g2):
            ts = [0.0, 1.0]
            for a1, a2 in s1:
                p = _seg_cross_proper(a1, a2, b1, b2)
                if p is not None:
                    ts.append(_seg_param(b1, b2, p))
                ov = _collinear_overlap_pts(b1, b2, a1, a2)
                if ov is not None:
                    ts.append(_seg_param(b1, b2, ov[0]))
                    ts.append(_seg_param(b1, b2, ov[1]))
            for p in g1_pts:
                if _orient(b1, b2, p) == 0 and _on_segment(b1, b2, p):
                    ts.append(_seg_param(b1, b2, p))
            ts = sorted({min(max(t, 0.0), 1.0) for t in ts})
            for t0, t1 in zip(ts, ts[1:]):
                if t1 - t0 <= 1e-12:
                    continue
                tm = (t0 + t1) / 2.0
                mid = (b1[0] + tm * (b2[0] - b1[0]), b1[1] + tm * (b2[1] - b1[1]))
                if _locate_point(mid, g1) == EXTERIOR:
                    return False
    # Proper crossings of g2 segments with g1's boundary mean escape ONLY
    # for areal g1: a valid polygon's boundary locally separates interior
    # from exterior, so a transversal crossing reaches the exterior side —
    # decided by the exact orientation tests alone (no ε-probe; probe
    # granularity varies with coordinate magnitude).  For lineal g1 a
    # crossing is NOT an escape — the crossing point is part of g1's own
    # point set (e.g. equals(a, a) on a self-crossing multiline, or g2
    # running along one branch of a crossing); genuine lineal escapes are
    # already caught by the noded sub-segment midpoint check above.
    if d1 == 2:
        for b1, b2 in _segs(g2):
            for a1, a2 in s1:
                if _seg_cross_proper(a1, a2, b1, b2) is not None:
                    return False
    # lineal-in-lineal: midpoints already checked; areal-in-areal: also check
    # g1 hole vertices are not interior to g2 (hole poking through)
    if d1 == 2 and d2 == 2:
        holes = []
        for comp in g1.flatten():
            if comp.kind == POLYGON:
                holes.extend(comp.data[1:])
        for hole in holes:
            for p in hole:
                if _locate_point(p, g2) == INTERIOR:
                    return False
            # hole edge midpoints interior to g2 → g2 covers part of a hole
            for a, b in _segments(hole):
                mid = ((a[0] + b[0]) / 2.0, (a[1] + b[1]) / 2.0)
                if _locate_point(mid, g2) == INTERIOR and _locate_point(mid, g1) == EXTERIOR:
                    return False
            # hole interior probe: catches g2 exactly filling the hole
            # (all hole vertices/midpoints then sit on g2's boundary)
            hp = _ring_interior_point(hole)
            if _locate_point(hp, g2) == INTERIOR and _locate_point(hp, g1) == EXTERIOR:
                return False
    return True


def _ring_interior_point(ring: list[Coord]) -> Coord:
    """A point just inside the ring (midpoint of longest edge, nudged)."""
    from dataclod_spark.geo.algos import _ring_area2

    best, best_len = None, -1.0
    for a, b in _segments(ring):
        l = math.dist(a, b)
        if l > best_len:
            best_len, best = l, (a, b)
    (x1, y1), (x2, y2) = best
    mx, my = (x1 + x2) / 2.0, (y1 + y2) / 2.0
    nx, ny = -(y2 - y1), (x2 - x1)
    n = math.hypot(nx, ny) or 1.0
    side = 1.0 if _ring_area2(ring) > 0 else -1.0
    eps = 1e-9 * max(best_len, 1.0)
    return (mx + side * nx / n * eps, my + side * ny / n * eps)


def covers(g1: Geometry, g2: Geometry) -> bool:
    return _covers_impl(g1, g2)


def covered_by(g1: Geometry, g2: Geometry) -> bool:
    return _covers_impl(g2, g1)


def contains(g1: Geometry, g2: Geometry) -> bool:
    """covers + interiors intersect (OGC contains)."""
    if not _covers_impl(g1, g2):
        return False
    _, ii = _interaction_flags(g1, g2)
    return ii


def within(g1: Geometry, g2: Geometry) -> bool:
    return contains(g2, g1)


def equals(g1: Geometry, g2: Geometry) -> bool:
    """Topological equality: mutual covers."""
    if g1.is_empty() and g2.is_empty():
        return True
    if g1.dimension() != g2.dimension():
        return False
    return _covers_impl(g1, g2) and _covers_impl(g2, g1)


def touches(g1: Geometry, g2: Geometry) -> bool:
    if g1.is_empty() or g2.is_empty():
        return False
    any_hit, ii = _interaction_flags(g1, g2)
    return any_hit and not ii


def _lineal_interior_overlap(g1: Geometry, g2: Geometry) -> bool:
    """True iff two lineal geometries share a 1-dimensional interior piece
    (a collinear segment-overlap interval whose midpoint is interior to
    both).  A point-crossing of two lines is 0-dimensional and must NOT
    count for overlaps (OGC: that's ST_Crosses)."""
    for a1, a2 in _segs(g1):
        for b1, b2 in _segs(g2):
            ov = _collinear_overlap_pts(a1, a2, b1, b2)
            if ov is None:
                continue
            mid = ((ov[0][0] + ov[1][0]) / 2.0, (ov[0][1] + ov[1][1]) / 2.0)
            if (
                _locate_point(mid, g1) == INTERIOR
                and _locate_point(mid, g2) == INTERIOR
            ):
                return True
    return False


def overlaps(g1: Geometry, g2: Geometry) -> bool:
    if g1.dimension() != g2.dimension():
        return False
    if g1.is_empty() or g2.is_empty():
        return False
    if g1.dimension() == 1:
        # dim-1 × dim-1: the interior∩interior must itself be 1-dimensional
        # (OGC/GEOS) — a single-point crossing is Crosses, not Overlaps.
        ii = _lineal_interior_overlap(g1, g2)
    else:
        _, ii = _interaction_flags(g1, g2)
    if not ii:
        return False
    return not _covers_impl(g1, g2) and not _covers_impl(g2, g1)


def dwithin(g1: Geometry, g2: Geometry, dist: float) -> Optional[bool]:
    d = distance(g1, g2)
    return None if d is None else d <= dist


def crosses(g1: Geometry, g2: Geometry) -> bool:
    """OGC ST_Crosses: interiors intersect in a dimension lower than the
    max input dimension ("some but not all interior points in common").

    Defined for P×L, P×A, L×A (either argument order) and L×L; false for
    equal non-lineal dimensions (reference join planner recognizes it:
    spatial_expr_utils.rs:51,125).
    """
    if g1.is_empty() or g2.is_empty():
        return False
    d1, d2 = g1.dimension(), g2.dimension()
    if d1 == d2:
        if d1 != 1:
            return False
        # L×L: interiors meet, but only 0-dimensionally
        _, ii = _interaction_flags(g1, g2)
        return ii and not _lineal_interior_overlap(g1, g2)
    lo, hi = (g1, g2) if d1 < d2 else (g2, g1)
    _, ii = _interaction_flags(g1, g2)
    # some interior shared (ii) but not all (lo not covered by hi)
    return ii and not _covers_impl(hi, lo)
