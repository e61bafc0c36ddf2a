"""Measures and constructive operations over the pure-Python geometry model.

Reimplements the behavior of the reference's spatial UDF bodies
(``spatial/src/function/udfs.rs``, GEOS/TG/geo backends) against the golden
corpus ``spatial_udf.slt``.  Functions return ``None`` where the operation is
unsupported in v1 (complex MakeValid node-splitting, ConcaveHull,
BuildArea polygonization, non-point Buffer, arbitrary-CRS Transform) — the
UDF layer maps ``None`` to SQL NULL, matching the reference's Option-chained
NULL-on-failure convention.
"""

from __future__ import annotations

import math
from typing import Optional

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

# --------------------------------------------------------------------------
# bounds / accessors
# --------------------------------------------------------------------------


def bounds(g: Geometry) -> Optional[tuple[float, float, float, float]]:
    pts = g.points()
    if not pts:
        return None
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    return (min(xs), min(ys), max(xs), max(ys))


def axis_rect(g: Geometry) -> Optional[tuple[float, float, float, float]]:
    """(xmin, ymin, xmax, ymax) when ``g`` is a polygon equal to its own
    envelope: one closed ring over the four distinct corners of a
    non-degenerate box, every edge changing exactly one coordinate.  A
    bowtie (diagonal edges) or a spike (a repeated corner) is not one."""
    if g.kind != POLYGON or len(g.data) != 1:
        return None
    ring = g.data[0]
    if len(ring) != 5 or ring[0] != ring[-1] or len(set(ring[:4])) != 4:
        return None
    if any((a[0] != b[0]) == (a[1] != b[1]) for a, b in _segments(ring)):
        return None
    xs = {p[0] for p in ring}
    ys = {p[1] for p in ring}
    if len(xs) != 2 or len(ys) != 2:
        return None
    return (min(xs), min(ys), max(xs), max(ys))


def npoints(g: Geometry) -> int:
    return len(g.points())


def num_points(g: Geometry) -> Optional[int]:
    """ST_NumPoints: vertex count of a LineString (NULL otherwise)."""
    return len(g.data) if g.kind == LINESTRING else None


def point_x(g: Geometry) -> Optional[float]:
    return g.data[0] if g.kind == POINT and g.data else None


def point_y(g: Geometry) -> Optional[float]:
    return g.data[1] if g.kind == POINT and g.data else None


# --------------------------------------------------------------------------
# measures
# --------------------------------------------------------------------------


def _ring_area2(ring: list[Coord]) -> float:
    """Twice the signed area (positive = CCW), shoelace anchored at the
    first vertex: the naive Σ x₁y₂−x₂y₁ form accumulates O(|coord|²)-sized
    terms whose cancellation destroys the result for far-from-origin
    rings (a unit square at (10⁶,10⁶) loses ~8 digits); subtracting the
    anchor keeps every term O(extent²)."""
    if len(ring) < 3:
        return 0.0
    x0, y0 = ring[0]
    s = 0.0
    for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
        s += (x1 - x0) * (y2 - y0) - (x2 - x0) * (y1 - y0)
    return s


def _poly_area(rings: list[list[Coord]]) -> float:
    if not rings:
        return 0.0
    a = abs(_ring_area2(rings[0])) / 2.0
    for hole in rings[1:]:
        a -= abs(_ring_area2(hole)) / 2.0
    return a


def area(g: Geometry) -> float:
    if g.kind == POLYGON:
        return _poly_area(g.data)
    if g.kind == MULTIPOLYGON:
        return sum(_poly_area(p) for p in g.data)
    if g.kind == GEOMETRYCOLLECTION:
        return sum(area(sub) for sub in g.data)
    return 0.0


def _line_length(pts: list[Coord]) -> float:
    return sum(math.dist(a, b) for a, b in zip(pts, pts[1:]))


def length(g: Geometry) -> float:
    """ST_Length: length of linear components (polygons contribute 0,
    matching PostGIS/GEOS)."""
    if g.kind == LINESTRING:
        return _line_length(g.data)
    if g.kind == MULTILINESTRING:
        return sum(_line_length(l) for l in g.data)
    if g.kind == GEOMETRYCOLLECTION:
        return sum(length(sub) for sub in g.data)
    return 0.0


def centroid(g: Geometry) -> Geometry:
    """Dimension-weighted centroid (GEOS semantics: highest dimension wins)."""
    srid = g.srid
    dim = g.dimension()
    if g.is_empty():
        return Geometry(POINT, None, srid)
    if dim == 2:
        sx = sy = sa = 0.0
        for poly in g.flatten():
            if poly.kind != POLYGON:
                continue
            for ri, ring in enumerate(poly.data):
                a2 = _ring_area2(ring)
                sign = 1.0 if ri == 0 else -1.0
                a2 = abs(a2) * sign
                cx = cy = 0.0
                for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
                    cross = x1 * y2 - x2 * y1
                    cx += (x1 + x2) * cross
                    cy += (y1 + y2) * cross
                # cross terms carry the ring's own orientation; renormalize
                ring_a2 = _ring_area2(ring)
                if ring_a2 != 0:
                    cx = cx / (3.0 * ring_a2) * a2
                    cy = cy / (3.0 * ring_a2) * a2
                sx += cx
                sy += cy
                sa += a2
        if sa != 0:
            return Geometry(POINT, (sx / sa, sy / sa), srid)
        dim = 1  # degenerate area → fall through to length weighting
    if dim == 1:
        sx = sy = sl = 0.0
        for comp in g.flatten():
            if comp.kind != LINESTRING:
                continue
            for a, b in zip(comp.data, comp.data[1:]):
                l = math.dist(a, b)
                sx += (a[0] + b[0]) / 2.0 * l
                sy += (a[1] + b[1]) / 2.0 * l
                sl += l
        if sl != 0:
            return Geometry(POINT, (sx / sl, sy / sl), srid)
        dim = 0
    pts = g.points()
    n = len(pts)
    return Geometry(POINT, (sum(p[0] for p in pts) / n, sum(p[1] for p in pts) / n), srid)


def envelope(g: Geometry) -> Geometry:
    b = bounds(g)
    if b is None:
        return Geometry(POINT, None, g.srid)
    xmin, ymin, xmax, ymax = b
    if xmin == xmax and ymin == ymax:
        return Geometry(POINT, (xmin, ymin), g.srid)
    if xmin == xmax or ymin == ymax:
        return Geometry(LINESTRING, [(xmin, ymin), (xmax, ymax)], g.srid)
    ring = [(xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax), (xmin, ymin)]
    return Geometry(POLYGON, [ring], g.srid)


def boundary(g: Geometry) -> Optional[Geometry]:
    srid = g.srid
    if g.kind in (POINT, MULTIPOINT):
        return Geometry(GEOMETRYCOLLECTION, [], srid)
    if g.kind in (LINESTRING, MULTILINESTRING):
        lines = [g.data] if g.kind == LINESTRING else g.data
        deg: dict[Coord, int] = {}
        for l in lines:
            if len(l) >= 2:
                for p in (l[0], l[-1]):
                    deg[p] = deg.get(p, 0) + 1
        odd = [p for p, d in deg.items() if d % 2 == 1]
        return Geometry(MULTIPOINT, odd, srid)
    if g.kind == POLYGON:
        if len(g.data) == 1:
            return Geometry(LINESTRING, list(g.data[0]), srid)
        return Geometry(MULTILINESTRING, [list(r) for r in g.data], srid)
    if g.kind == MULTIPOLYGON:
        return Geometry(
            MULTILINESTRING, [list(r) for poly in g.data for r in poly], srid
        )
    return None  # boundary of a collection is not defined in GEOS either


def convex_hull(g: Geometry) -> Geometry:
    """Convex hull (monotone chain), emitted CW from the lowest point —
    matching GEOS output ordering (slt ST_ConvexHull golden)."""
    pts = sorted(set(g.points()))
    srid = g.srid
    if not pts:
        return Geometry(GEOMETRYCOLLECTION, [], srid)
    if len(pts) == 1:
        return Geometry(POINT, pts[0], srid)

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lower: list[Coord] = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list[Coord] = []
    for p in reversed(pts):
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    hull = lower[:-1] + upper[:-1]  # CCW
    if len(hull) == 2:
        return Geometry(LINESTRING, hull, srid)
    # rotate to start at lowest point (min y, then min x), then reverse → CW
    start = min(range(len(hull)), key=lambda i: (hull[i][1], hull[i][0]))
    ring = hull[start:] + hull[:start]
    ring = [ring[0]] + list(reversed(ring[1:]))
    ring.append(ring[0])
    return Geometry(POLYGON, [ring], srid)


# --------------------------------------------------------------------------
# validity
# --------------------------------------------------------------------------


def _segments(pts: list[Coord]):
    return list(zip(pts, pts[1:]))


def _seg_intersect_proper_or_touch(a1, a2, b1, b2) -> bool:
    """Do segments share any point?"""
    d1 = _orient(b1, b2, a1)
    d2 = _orient(b1, b2, a2)
    d3 = _orient(a1, a2, b1)
    d4 = _orient(a1, a2, b2)
    if ((d1 > 0) != (d2 > 0) or d1 == 0 or d2 == 0) and (
        (d3 > 0) != (d4 > 0) or d3 == 0 or d4 == 0
    ):
        # conservative: use bounding overlap check for collinear
        if d1 == 0 and d2 == 0 and d3 == 0 and d4 == 0:
            return _bbox_overlap_1d(a1, a2, b1, b2)
        return (
            ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0))
            or (d1 == 0 and _on_segment(b1, b2, a1))
            or (d2 == 0 and _on_segment(b1, b2, a2))
            or (d3 == 0 and _on_segment(a1, a2, b1))
            or (d4 == 0 and _on_segment(a1, a2, b2))
        )
    return False


def _orient(a: Coord, b: Coord, c: Coord) -> float:
    return (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])


def _on_segment(a: Coord, b: Coord, p: Coord) -> bool:
    """p collinear with ab assumed; is p within the segment bbox?"""
    return (
        min(a[0], b[0]) <= p[0] <= max(a[0], b[0])
        and min(a[1], b[1]) <= p[1] <= max(a[1], b[1])
    )


def _bbox_overlap_1d(a1, a2, b1, b2) -> bool:
    return (
        min(a1[0], a2[0]) <= max(b1[0], b2[0])
        and min(b1[0], b2[0]) <= max(a1[0], a2[0])
        and min(a1[1], a2[1]) <= max(b1[1], b2[1])
        and min(b1[1], b2[1]) <= max(a1[1], a2[1])
    )


def _ring_valid(ring: list[Coord]) -> bool:
    if len(ring) < 4 or ring[0] != ring[-1]:
        return False
    if abs(_ring_area2(ring)) == 0:
        return False
    segs = _segments(ring)
    n = len(segs)
    for i in range(n):
        for j in range(i + 1, n):
            adjacent = j == i + 1 or (i == 0 and j == n - 1)
            a1, a2 = segs[i]
            b1, b2 = segs[j]
            if adjacent:
                # adjacent segments may only share their common endpoint; a
                # collinear backtrack (spike) makes the ring invalid.  The
                # far endpoint of the neighbor landing anywhere on this
                # segment (incl. exactly on its start = full reversal) is a
                # spike; straight continuation lands beyond the segment.
                d1, d2 = _orient(a1, a2, b1), _orient(a1, a2, b2)
                if d1 == 0 and d2 == 0:
                    if j == i + 1 and _on_segment(a1, a2, b2):
                        return False
                    if (i == 0 and j == n - 1) and _on_segment(a1, a2, b1):
                        return False
                continue
            if _seg_intersect_proper_or_touch(a1, a2, b1, b2):
                return False
    return True


def is_valid(g: Geometry) -> bool:
    if g.kind in (POINT, MULTIPOINT, LINESTRING, MULTILINESTRING):
        return True
    if g.kind == POLYGON:
        return all(_ring_valid(r) for r in g.data) if g.data else True
    if g.kind == MULTIPOLYGON:
        if not all(all(_ring_valid(r) for r in poly) for poly in g.data):
            return False
        # component interiors must be disjoint (OGC multipolygon validity)
        from dataclod_spark.geo.predicates import _interaction_flags

        polys = [Geometry(POLYGON, p, g.srid) for p in g.data]
        for i in range(len(polys)):
            for j in range(i + 1, len(polys)):
                _, ii = _interaction_flags(polys[i], polys[j])
                if ii:
                    return False
        return True
    return all(is_valid(sub) for sub in g.data)


# --------------------------------------------------------------------------
# transforms / constructive
# --------------------------------------------------------------------------


def _map_coords(g: Geometry, f) -> Geometry:
    if g.kind == POINT:
        return Geometry(POINT, None if g.data is None else f(g.data), g.srid)
    if g.kind in (LINESTRING, MULTIPOINT):
        return Geometry(g.kind, [f(p) for p in g.data], g.srid)
    if g.kind in (POLYGON, MULTILINESTRING):
        return Geometry(g.kind, [[f(p) for p in part] for part in g.data], g.srid)
    if g.kind == MULTIPOLYGON:
        return Geometry(
            g.kind, [[[f(p) for p in ring] for ring in poly] for poly in g.data], g.srid
        )
    return Geometry(g.kind, [_map_coords(sub, f) for sub in g.data], g.srid)


def translate(g: Geometry, dx: float, dy: float) -> Geometry:
    return _map_coords(g, lambda p: (p[0] + dx, p[1] + dy))


def make_point(x: float, y: float) -> Geometry:
    return Geometry(POINT, (x, y))


def make_envelope(xmin: float, ymin: float, xmax: float, ymax: float, srid: int = 0) -> Geometry:
    ring = [(xmin, ymin), (xmin, ymax), (xmax, ymax), (xmax, ymin), (xmin, ymin)]
    return Geometry(POLYGON, [ring], srid)


def simplify_dp(g: Geometry, tol: float, preserve_topology: bool = False) -> Geometry:
    """Douglas–Peucker simplification (applied per linear ring / line)."""

    def dp(pts: list[Coord]) -> list[Coord]:
        if len(pts) < 3:
            return list(pts)
        a, b = pts[0], pts[-1]
        imax, dmax = 0, -1.0
        for i in range(1, len(pts) - 1):
            d = _pt_seg_dist(pts[i], a, b)
            if d > dmax:
                imax, dmax = i, d
        if dmax <= tol:
            return [a, b]
        left = dp(pts[: imax + 1])
        right = dp(pts[imax:])
        return left[:-1] + right

    def simp_ring(ring: list[Coord], min_pts: int) -> list[Coord]:
        out = dp(ring)
        if len(out) < min_pts:
            return list(ring) if preserve_topology else out
        return out

    if g.kind == LINESTRING:
        return Geometry(LINESTRING, dp(g.data), g.srid)
    if g.kind == MULTILINESTRING:
        return Geometry(MULTILINESTRING, [dp(l) for l in g.data], g.srid)
    if g.kind == POLYGON:
        return Geometry(POLYGON, [simp_ring(r, 4) for r in g.data], g.srid)
    if g.kind == MULTIPOLYGON:
        return Geometry(
            MULTIPOLYGON, [[simp_ring(r, 4) for r in poly] for poly in g.data], g.srid
        )
    if g.kind == GEOMETRYCOLLECTION:
        return Geometry(
            GEOMETRYCOLLECTION,
            [simplify_dp(sub, tol, preserve_topology) for sub in g.data],
            g.srid,
        )
    return g


def simplify_vw(g: Geometry, area_tol: float) -> Geometry:
    """Visvalingam–Whyatt simplification (min effective-area elimination)."""

    def vw(pts: list[Coord]) -> list[Coord]:
        pts = list(pts)
        while len(pts) > 2:
            best_i, best_a = -1, math.inf
            for i in range(1, len(pts) - 1):
                a = abs(_orient(pts[i - 1], pts[i], pts[i + 1])) / 2.0
                if a < best_a:
                    best_i, best_a = i, a
            if best_a >= area_tol:
                break
            pts.pop(best_i)
        return pts

    if g.kind == LINESTRING:
        return Geometry(LINESTRING, vw(g.data), g.srid)
    if g.kind == MULTILINESTRING:
        return Geometry(MULTILINESTRING, [vw(l) for l in g.data], g.srid)
    if g.kind in (POLYGON, MULTIPOLYGON):
        return _map_rings(g, vw)
    return g


def _map_rings(g: Geometry, f) -> Geometry:
    if g.kind == POLYGON:
        return Geometry(POLYGON, [f(r) for r in g.data], g.srid)
    if g.kind == MULTIPOLYGON:
        return Geometry(MULTIPOLYGON, [[f(r) for r in poly] for poly in g.data], g.srid)
    return g


def _pt_seg_dist(p: Coord, a: Coord, b: Coord) -> float:
    if a == b:
        return math.dist(p, a)
    ax, ay = a
    bx, by = b
    px, py = p
    t = ((px - ax) * (bx - ax) + (py - ay) * (by - ay)) / ((bx - ax) ** 2 + (by - ay) ** 2)
    t = max(0.0, min(1.0, t))
    return math.dist(p, (ax + t * (bx - ax), ay + t * (by - ay)))


def _seg_seg_dist(a1: Coord, a2: Coord, b1: Coord, b2: Coord) -> float:
    if _seg_intersect_proper_or_touch(a1, a2, b1, b2):
        return 0.0
    return min(
        _pt_seg_dist(a1, b1, b2),
        _pt_seg_dist(a2, b1, b2),
        _pt_seg_dist(b1, a1, a2),
        _pt_seg_dist(b2, a1, a2),
    )


def distance(g1: Geometry, g2: Geometry) -> Optional[float]:
    """Min Euclidean distance between geometries (0 when intersecting)."""
    from dataclod_spark.geo.predicates import intersects

    if g1.is_empty() or g2.is_empty():
        return None
    if intersects(g1, g2):
        return 0.0
    best = math.inf
    for a in g1.flatten():
        for b in g2.flatten():
            best = min(best, _simple_distance(a, b))
    return best


def _simple_distance(a: Geometry, b: Geometry) -> float:
    from dataclod_spark.geo.predicates import _point_in_polygon

    if a.kind == POINT and b.kind == POINT:
        return math.dist(a.data, b.data)
    if a.kind == POINT or b.kind == POINT:
        p, other = (a, b) if a.kind == POINT else (b, a)
        if other.kind == LINESTRING:
            return min(_pt_seg_dist(p.data, s, e) for s, e in _segments(other.data))
        # polygon: inside → 0 else distance to rings
        if _point_in_polygon(p.data, other.data) != 0:
            return 0.0
        return min(
            _pt_seg_dist(p.data, s, e) for ring in other.data for s, e in _segments(ring)
        )
    segs_a = (
        _segments(a.data)
        if a.kind == LINESTRING
        else [s for ring in a.data for s in _segments(ring)]
    )
    segs_b = (
        _segments(b.data)
        if b.kind == LINESTRING
        else [s for ring in b.data for s in _segments(ring)]
    )
    return min(_seg_seg_dist(s1, e1, s2, e2) for s1, e1 in segs_a for s2, e2 in segs_b)


# --------------------------------------------------------------------------
# buffer (point: exact GEOS quadrant-segment arc; others unsupported in v1)
# --------------------------------------------------------------------------


def buffer(g: Geometry, dist: float, quadsegs: int = 8) -> Optional[Geometry]:
    if g.kind == POINT and g.data is not None:
        if dist <= 0:  # GEOS: non-positive buffer of a point is empty
            return Geometry(POLYGON, [], g.srid)
        x, y = g.data
        n = 4 * quadsegs
        ring: list[Coord] = []
        axis = {0: (1.0, 0.0), 1: (0.0, -1.0), 2: (-1.0, 0.0), 3: (0.0, 1.0)}
        for k in range(n):
            if (4 * k) % n == 0:  # exact axis vertices (GEOS emits 100 40 etc.)
                ux, uy = axis[(4 * k) // n]
            else:
                ang = -2.0 * math.pi * k / n
                ux, uy = math.cos(ang), math.sin(ang)
            ring.append((x + dist * ux, y + dist * uy))
        ring.append(ring[0])
        return Geometry(POLYGON, [ring], g.srid)
    if dist == 0:
        # GEOS: zero-distance buffer of a non-areal geometry is empty; of a
        # polygon it is the polygon itself
        if g.kind in (POLYGON, MULTIPOLYGON):
            return g
        return Geometry(POLYGON, [], g.srid)
    if dist < 0:
        # erosion (GEOS negative buffer): for areal input,
        # P ⊖ disk(d) = P \ (∂P ⊕ disk(d)) — the boundary band's inner
        # envelope along straight edges is the exact inward offset, so the
        # morphological identity holds with the same arc discretization
        # GEOS uses on the outer side.  Non-areal input erodes to empty.
        if g.kind not in (POLYGON, MULTIPOLYGON):
            return Geometry(POLYGON, [], g.srid)
        out: Optional[Geometry] = g
        for comp in g.flatten():
            for ring in comp.data:
                for a, b in _segments(ring):
                    cap = _capsule(a, b, -dist, quadsegs)
                    if cap is None:
                        continue
                    out = difference(out, cap)
                    if out is None or out.is_empty():
                        return Geometry(POLYGON, [], g.srid)
        return out.with_srid(g.srid)
    if g.kind in (LINESTRING, MULTILINESTRING, POLYGON, MULTIPOLYGON, MULTIPOINT):
        return _buffer_by_union(g, dist, quadsegs)
    if g.kind == GEOMETRYCOLLECTION:
        return _buffer_by_union(g, dist, quadsegs)
    return None


def _circle(c: Coord, dist: float, quadsegs: int) -> Geometry:
    return buffer(Geometry(POINT, c), dist, quadsegs)


def _capsule(a: Coord, b: Coord, dist: float, quadsegs: int) -> Optional[Geometry]:
    """Stadium shape: segment ab dilated by dist (rounded caps).  One simple
    ring — avoids the rectangle/end-circle tangency degeneracies a union of
    primitive pieces would create."""
    dx, dy = b[0] - a[0], b[1] - a[1]
    n = math.hypot(dx, dy)
    if n == 0:
        return _circle(a, dist, quadsegs)
    ux, uy = dx / n, dy / n
    theta = math.atan2(uy, ux)
    steps = 2 * quadsegs  # half circle

    def unit(ang: float) -> Coord:
        c, s = math.cos(ang), math.sin(ang)
        # snap near-axis components (cos(-3π/2) ≈ -1.8e-16 etc.) so arcs of
        # axis-aligned capsules carry exact vertices — avoids degenerate
        # micro-slivers against axis-aligned edges in the overlay
        if abs(c) < 1e-12:
            c = 0.0
        if abs(s) < 1e-12:
            s = 0.0
        if abs(abs(c) - 1.0) < 1e-15:
            c = math.copysign(1.0, c)
        if abs(abs(s) - 1.0) < 1e-15:
            s = math.copysign(1.0, s)
        return (c, s)

    ring: list[Coord] = []
    # cap around b: from +normal (theta+π/2) sweeping through theta to −normal
    for k in range(steps + 1):
        c, s = unit(theta + math.pi / 2 - math.pi * k / steps)
        ring.append((b[0] + dist * c, b[1] + dist * s))
    # cap around a: from −normal sweeping through theta+π to +normal
    for k in range(steps + 1):
        c, s = unit(theta - math.pi / 2 - math.pi * k / steps)
        ring.append((a[0] + dist * c, a[1] + dist * s))
    if _ring_area2(ring + [ring[0]]) < 0:
        ring = list(reversed(ring))
    ring.append(ring[0])
    return Geometry(POLYGON, [ring], 0)


def _buffer_by_union(g: Geometry, dist: float, quadsegs: int) -> Optional[Geometry]:
    """Line/polygon buffer as the union of per-segment capsules (and, for
    areal inputs, the original polygons).

    Approximation matches GEOS's arc discretization (quadsegs arcs per
    quarter circle) but the union noding differs from GEOS's offset-curve
    construction, so results are semantically correct rather than
    vertex-identical (the reference's golden corpus only pins point buffers).
    """
    from dataclod_spark.geo.overlay import overlay

    pieces: list[Geometry] = []
    for comp in g.flatten():
        if comp.kind == POINT:
            pieces.append(_circle(comp.data, dist, quadsegs))
        elif comp.kind == LINESTRING:
            for a, b in _segments(comp.data):
                cap = _capsule(a, b, dist, quadsegs)
                if cap is not None:
                    pieces.append(cap)
        elif comp.kind == POLYGON:
            pieces.append(comp)
            for ring in comp.data:
                for a, b in _segments(ring):
                    cap = _capsule(a, b, dist, quadsegs)
                    if cap is not None:
                        pieces.append(cap)
    if not pieces:
        return None
    acc = pieces[0]
    for piece in pieces[1:]:
        from dataclod_spark.geo.predicates import covers

        if covers(acc, piece):
            continue
        if covers(piece, acc):
            acc = piece
            continue
        merged = overlay(acc, piece, "union")
        if merged is None or merged.is_empty():
            return None
        acc = merged
    return acc.with_srid(g.srid)


# --------------------------------------------------------------------------
# union / intersection / difference (point & collinear-line cases; polygon
# boolean ops land with the overlay engine in a later round)
# --------------------------------------------------------------------------


def union(g1: Geometry, g2: Geometry) -> Optional[Geometry]:
    from dataclod_spark.geo.predicates import covers

    if g1.kind == POINT and g2.kind == POINT:
        if g1.is_empty():
            return g2
        if g2.is_empty():
            return g1
        if g1.data == g2.data:
            return Geometry(POINT, g1.data, g1.srid)
        return Geometry(MULTIPOINT, [g1.data, g2.data], g1.srid)
    if g1.kind in (POINT, MULTIPOINT) and g2.kind in (POINT, MULTIPOINT):
        pts = []
        for p in g1.points() + g2.points():
            if p not in pts:
                pts.append(p)
        if len(pts) == 1:
            return Geometry(POINT, pts[0], g1.srid)
        return Geometry(MULTIPOINT, pts, g1.srid)
    # degenerate unions where one side covers the other
    if covers(g1, g2):
        return g1
    if covers(g2, g1):
        return g2
    if g1.dimension() == 2 and g2.dimension() == 2:
        from dataclod_spark.geo.overlay import overlay

        return overlay(g1, g2, "union")
    return None


def intersection(g1: Geometry, g2: Geometry) -> Optional[Geometry]:
    from dataclod_spark.geo.predicates import covers, intersects

    if g1.kind == POINT:
        if not g1.is_empty() and intersects(g2, g1):
            return g1
        return Geometry(POINT, None, g1.srid)
    if g2.kind == POINT:
        if not g2.is_empty() and intersects(g1, g2):
            return g2
        return Geometry(POINT, None, g1.srid)
    if g1.kind == LINESTRING and g2.kind == LINESTRING:
        return _line_line_intersection(g1, g2)
    if covers(g2, g1):
        return g1
    if covers(g1, g2):
        return g2
    if g1.dimension() == 2 and g2.dimension() == 2:
        from dataclod_spark.geo.overlay import overlay

        return overlay(g1, g2, "intersection")
    return None


def _seg_param(a: Coord, b: Coord, p: Coord) -> float:
    """Parameter of p along ab (p assumed collinear and on segment)."""
    if abs(b[0] - a[0]) >= abs(b[1] - a[1]):
        return (p[0] - a[0]) / (b[0] - a[0]) if b[0] != a[0] else 0.0
    return (p[1] - a[1]) / (b[1] - a[1])


def _line_line_intersection(g1: Geometry, g2: Geometry) -> Optional[Geometry]:
    pts: list[Coord] = []
    overlaps: list[list[Coord]] = []
    for a1, a2 in _segments(g1.data):
        for b1, b2 in _segments(g2.data):
            d1 = _orient(b1, b2, a1)
            d2 = _orient(b1, b2, a2)
            d3 = _orient(a1, a2, b1)
            d4 = _orient(a1, a2, b2)
            if d1 == 0 and d2 == 0 and d3 == 0 and d4 == 0:
                # collinear: 1D overlap
                lo = max(min(_seg_param(a1, a2, b1), _seg_param(a1, a2, b2)), 0.0)
                hi = min(max(_seg_param(a1, a2, b1), _seg_param(a1, a2, b2)), 1.0)
                if lo < hi:
                    p_lo = (a1[0] + lo * (a2[0] - a1[0]), a1[1] + lo * (a2[1] - a1[1]))
                    p_hi = (a1[0] + hi * (a2[0] - a1[0]), a1[1] + hi * (a2[1] - a1[1]))
                    overlaps.append([p_lo, p_hi])
                elif lo == hi:
                    pts.append((a1[0] + lo * (a2[0] - a1[0]), a1[1] + lo * (a2[1] - a1[1])))
                continue
            p = _seg_seg_point(a1, a2, b1, b2, d1, d2, d3, d4)
            if p is not None:
                pts.append(p)
    if overlaps:
        merged = _merge_collinear(overlaps)
        if len(merged) == 1:
            return Geometry(LINESTRING, merged[0], g1.srid)
        return Geometry(MULTILINESTRING, merged, g1.srid)
    uniq: list[Coord] = []
    for p in pts:
        if p not in uniq:
            uniq.append(p)
    if not uniq:
        return Geometry(LINESTRING, [], g1.srid)
    if len(uniq) == 1:
        return Geometry(POINT, uniq[0], g1.srid)
    return Geometry(MULTIPOINT, uniq, g1.srid)


def _merge_collinear(parts: list[list[Coord]]) -> list[list[Coord]]:
    merged: list[list[Coord]] = []
    for part in parts:
        placed = False
        for m in merged:
            if m[-1] == part[0]:
                m.extend(part[1:])
                placed = True
                break
            if part[-1] == m[0]:
                m[:0] = part[:-1]
                placed = True
                break
        if not placed:
            merged.append(list(part))
    return merged


def _seg_seg_point(a1, a2, b1, b2, d1, d2, d3, d4) -> Optional[Coord]:
    if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)):
        # proper crossing: solve
        denom = (a2[0] - a1[0]) * (b2[1] - b1[1]) - (a2[1] - a1[1]) * (b2[0] - b1[0])
        if denom == 0:
            return None
        t = ((b1[0] - a1[0]) * (b2[1] - b1[1]) - (b1[1] - a1[1]) * (b2[0] - b1[0])) / denom
        return (a1[0] + t * (a2[0] - a1[0]), a1[1] + t * (a2[1] - a1[1]))
    for p, d, (s, e) in ((a1, d1, (b1, b2)), (a2, d2, (b1, b2)), (b1, d3, (a1, a2)), (b2, d4, (a1, a2))):
        if d == 0 and _on_segment(s, e, p):
            return p
    return None


def difference(g1: Geometry, g2: Geometry) -> Optional[Geometry]:
    from dataclod_spark.geo.predicates import covers, intersects

    if not intersects(g1, g2):
        return g1
    if g1.kind == POINT:
        return Geometry(POINT, None, g1.srid) if intersects(g2, g1) else g1
    if g1.kind == MULTIPOINT:
        rem = [p for p in g1.data if not intersects(g2, Geometry(POINT, p))]
        if not rem:
            return Geometry(MULTIPOINT, [], g1.srid)
        if len(rem) == 1:
            return Geometry(POINT, rem[0], g1.srid)
        return Geometry(MULTIPOINT, rem, g1.srid)
    if g1.kind == LINESTRING and g2.kind in (LINESTRING, MULTILINESTRING):
        return _line_difference(g1, g2)
    if covers(g2, g1):
        # fully covered → typed empty
        return Geometry(g1.kind, [] if g1.kind != POINT else None, g1.srid)
    if g1.dimension() == 2 and g2.dimension() == 2:
        from dataclod_spark.geo.overlay import overlay

        return overlay(g1, g2, "difference")
    return None


def _line_difference(g1: Geometry, g2: Geometry) -> Optional[Geometry]:
    """Subtract collinear overlapping parts of g2 from g1 (per segment)."""
    other_segs = (
        _segments(g2.data)
        if g2.kind == LINESTRING
        else [s for l in g2.data for s in _segments(l)]
    )
    out_parts: list[list[Coord]] = []
    for a1, a2 in _segments(g1.data):
        # collect covered intervals of this segment
        intervals: list[tuple[float, float]] = []
        for b1, b2 in other_segs:
            if _orient(a1, a2, b1) == 0 and _orient(a1, a2, b2) == 0:
                t1, t2 = _seg_param(a1, a2, b1), _seg_param(a1, a2, b2)
                lo, hi = max(min(t1, t2), 0.0), min(max(t1, t2), 1.0)
                if lo < hi:
                    intervals.append((lo, hi))
        intervals.sort()
        keep: list[tuple[float, float]] = []
        cur = 0.0
        for lo, hi in intervals:
            if lo > cur:
                keep.append((cur, lo))
            cur = max(cur, hi)
        if cur < 1.0:
            keep.append((cur, 1.0))

        def interp(t: float) -> Coord:
            return (a1[0] + t * (a2[0] - a1[0]), a1[1] + t * (a2[1] - a1[1]))

        for lo, hi in keep:
            out_parts.append([interp(lo), interp(hi)])
    merged = _merge_collinear(out_parts)
    if not merged:
        return Geometry(LINESTRING, [], g1.srid)
    if len(merged) == 1:
        return Geometry(LINESTRING, merged[0], g1.srid)
    return Geometry(MULTILINESTRING, merged, g1.srid)


# --------------------------------------------------------------------------
# split (line by point), make_valid (degenerate cases)
# --------------------------------------------------------------------------


def split(g: Geometry, blade: Geometry) -> Optional[Geometry]:
    if blade.kind != POINT or blade.is_empty():
        return None
    p = blade.data
    lines = (
        [g.data]
        if g.kind == LINESTRING
        else g.data if g.kind == MULTILINESTRING else None
    )
    if lines is None:
        return None
    pieces: list[list[Coord]] = []
    for line in lines:
        cur: list[Coord] = [line[0]]
        for a, b in _segments(line):
            if p != a and p != b and _orient(a, b, p) == 0 and _on_segment(a, b, p):
                cur.append(p)
                pieces.append(cur)
                cur = [p]
            if p == b and b != line[-1]:
                cur.append(b)
                pieces.append(cur)
                cur = [b]
                continue
            cur.append(b)
        pieces.append(cur)
    return Geometry(
        GEOMETRYCOLLECTION,
        [Geometry(LINESTRING, piece, g.srid) for piece in pieces if len(piece) >= 2],
        g.srid,
    )


def make_valid(g: Geometry) -> Optional[Geometry]:
    """ST_MakeValid: degenerate collapses + node-splitting of invalid
    polygonal input via the arrangement engine (even-odd fill rule)."""
    if is_valid(g):
        return g
    if g.kind == LINESTRING:
        uniq = [p for i, p in enumerate(g.data) if i == 0 or p != g.data[i - 1]]
        if len(uniq) == 1:
            return Geometry(POINT, uniq[0], g.srid)
        return Geometry(LINESTRING, uniq, g.srid)
    if g.dimension() == 2:
        from dataclod_spark.geo.overlay import make_valid_structure

        return make_valid_structure(g)
    return None


# degenerate zero-length linestring collapses even though is_valid() is True
def make_valid_entry(g: Geometry) -> Optional[Geometry]:
    if g.kind == LINESTRING and len(set(g.data)) == 1 and g.data:
        return Geometry(POINT, g.data[0], g.srid)
    return make_valid(g)


# --------------------------------------------------------------------------
# build_area: polygonize noded linework (ST_BuildArea)
# --------------------------------------------------------------------------


def trace_faces(edges: list[tuple[Coord, Coord]]) -> list[list[Coord]]:
    """Minimal faces of a planar graph as closed rings (leftmost-turn walk).

    Each directed edge belongs to exactly one face.  At vertex b, arriving
    from a, the walk takes the sharpest right turn (first edge
    counterclockwise from the reverse direction) — the traced face lies on
    the RIGHT of the travel direction, so bounded faces come out CW
    (negative signed area) and the unbounded face's cycles come out CCW.
    Termination is edge-based, so faces that revisit a vertex (degree-4
    crossing points in noded arrangements) are traced correctly.
    """
    directed: list[tuple[Coord, Coord]] = []
    seen_d: set[tuple[Coord, Coord]] = set()
    for a, b in edges:
        for e in ((a, b), (b, a)):
            if e not in seen_d:
                seen_d.add(e)
                directed.append(e)
    out_by_vertex: dict[Coord, list[Coord]] = {}
    for a, b in directed:
        out_by_vertex.setdefault(a, []).append(b)

    def angle(a: Coord, b: Coord) -> float:
        return math.atan2(b[1] - a[1], b[0] - a[0])

    used: set[tuple[Coord, Coord]] = set()
    rings: list[list[Coord]] = []
    for start in directed:
        if start in used:
            continue
        ring = [start[0]]
        cur = start
        while True:
            used.add(cur)
            ring.append(cur[1])
            a, b = cur
            incoming = angle(b, a)
            nxt = min(
                out_by_vertex[b],
                key=lambda c: ((angle(b, c) - incoming) % (2 * math.pi)) or (2 * math.pi),
            )
            cur = (b, nxt)
            if cur == start:
                break
            if cur in used:  # safety: malformed graph
                break
        if len(ring) >= 4 and ring[0] == ring[-1]:
            rings.append(ring)
    return rings


def _simple_cycles(ring: list[Coord]) -> list[list[Coord]]:
    """Decompose a closed walk into simple cycles (stack method): each time
    the walk revisits a vertex on the stack, pop that loop out as one
    cycle.  A simple ring comes back unchanged (as the final cycle)."""
    out: list[list[Coord]] = []
    stack: list[Coord] = []
    pos: dict[Coord, int] = {}
    for v in ring[:-1]:
        if v in pos:
            i = pos[v]
            loop = stack[i:] + [v]
            if len(loop) > 3:
                out.append(loop)
            for w in stack[i:]:
                del pos[w]
            del stack[i:]
        pos[v] = len(stack)
        stack.append(v)
    if len(stack) >= 3:
        out.append(stack + [stack[0]])
    return out


def build_area(g: Geometry) -> Optional[Geometry]:
    """Assemble polygons from noded linework (lwgeom ST_BuildArea semantics:
    even nesting depth → shell, odd → hole).  Input must be noded (segments
    meet only at shared endpoints) — matching the reference's usage."""
    if g.kind == LINESTRING:
        lines = [g.data]
    elif g.kind == MULTILINESTRING:
        lines = g.data
    elif g.kind == GEOMETRYCOLLECTION:
        lines = [c.data for c in g.flatten() if c.kind == LINESTRING]
    else:
        return None
    # directed edge set, insertion-ordered
    edges: list[tuple[Coord, Coord]] = []
    for line in lines:
        for a, b in zip(line, line[1:]):
            if a != b:
                edges.append((a, b))
                edges.append((b, a))
    if not edges:
        return None
    rings = trace_faces(edges)
    # Split non-simple face walks into simple cycles first.  A face whose
    # boundary revisits a vertex is either the unbounded face around
    # point-touching rings (a figure-eight whose composite cycle would
    # poison the even-odd nesting depths below — every real ring lies
    # "inside" it, so everything classifies as a hole) or a walk along a
    # dangling edge (whose back-and-forth sub-cycle has zero area and
    # drops out) — in both cases the simple sub-cycles are the true
    # region boundaries.
    simple_rings: list[list[Coord]] = []
    for ring in rings:
        simple_rings.extend(_simple_cycles(ring))
    # dedupe directed rings into undirected cycles (keep first-seen version)
    cycles: list[list[Coord]] = []
    seen_keys: set[frozenset] = set()
    for ring in simple_rings:
        if abs(_ring_area2(ring)) == 0:
            continue
        key = frozenset(zip(ring, ring[1:]))
        rkey = frozenset((b, a) for a, b in zip(ring, ring[1:]))
        if key in seen_keys or rkey in seen_keys:
            continue
        seen_keys.add(key)
        cycles.append(ring)
    if not cycles:
        return None
    # nesting depth: representative point of each cycle vs every other cycle
    def rep_point(ring: list[Coord]) -> Coord:
        # midpoint of the first edge nudged toward the ring's interior
        (x1, y1), (x2, y2) = ring[0], ring[1]
        mx, my = (x1 + x2) / 2.0, (y1 + y2) / 2.0
        nx, ny = -(y2 - y1), (x2 - x1)
        n = math.hypot(nx, ny) or 1.0
        eps = 1e-9 * max(abs(x1), abs(y1), 1.0)
        side = 1.0 if _ring_area2(ring) > 0 else -1.0
        return (mx + side * nx / n * eps, my + side * ny / n * eps)

    from dataclod_spark.geo.predicates import _point_in_ring, INTERIOR

    depths = []
    for i, c in enumerate(cycles):
        p = rep_point(c)
        d = sum(
            1
            for j, other in enumerate(cycles)
            if j != i and _point_in_ring(p, other) == INTERIOR
        )
        depths.append(d)
    shells = [c for c, d in zip(cycles, depths) if d % 2 == 0]
    holes = [c for c, d in zip(cycles, depths) if d % 2 == 1]
    polys: list[list[list[Coord]]] = []
    for shell in shells:
        shell_ccw = _ring_area2(shell) > 0
        my_holes = []
        for h in holes:
            if _point_in_ring(rep_point(h), shell) != INTERIOR:
                continue
            # hole orientation is opposite to its shell (GEOS output)
            if (_ring_area2(h) > 0) == shell_ccw:
                h = list(reversed(h[:-1])) + [h[-2]]
            my_holes.append(h)
        polys.append([shell] + my_holes)
    if not polys:
        return None
    if len(polys) == 1:
        return Geometry(POLYGON, polys[0], g.srid)
    return Geometry(MULTIPOLYGON, polys, g.srid)


# --------------------------------------------------------------------------
# transform (4326 ↔ 3857 web mercator) / tile envelope
# --------------------------------------------------------------------------

_EARTH_R = 6378137.0
_MERC_MAX = 20037508.342789244
# lwgeom's tile-envelope world bound (6-decimal constant — reproduces the
# reference's ST_TileEnvelope golden output bit-for-bit)
_TILE_MAX = 20037508.342789


def transform(g: Geometry, to_srid: int) -> Optional[Geometry]:
    """Reproject via the embedded proj engine (geo/proj.py) — cached
    per-SRID-pair transformer mirroring the reference's ProjCache
    (``spatial/src/function/st_transform.rs:18-120``); NULL for SRIDs
    outside the embedded EPSG table (reference convention: NULL when
    proj4rs lacks the code)."""
    src = g.srid
    if src == to_srid:
        return g
    from dataclod_spark.geo.proj import get_transformer

    tx = get_transformer(src, to_srid)
    if tx is None:
        return None
    return _map_coords(g, lambda p: tx(p[0], p[1])).with_srid(to_srid)


def tile_envelope(
    z: int,
    x: int,
    y: int,
    bounds: Optional[Geometry] = None,
    margin: float = 0.0,
) -> Optional[Geometry]:
    """XYZ tile bounds with optional custom tiling bounds and margin.

    Follows the PostGIS/liblwgeom ST_TileEnvelope semantics the reference
    delegates to (``udfs.rs:426``: 3–5 arg forms): the bounds geometry's
    bbox defines the tiled extent (default: the web-mercator square,
    SRID 3857); ``margin`` expands the tile by that fraction of a tile per
    side, clipped to the bounds; margin < -0.5 is invalid (would collapse).
    """
    if z < 0 or z > 31 or x < 0 or y < 0 or x >= (1 << z) or y >= (1 << z):
        return None
    if margin < -0.5:
        return None
    if bounds is None:
        bxmin, bymin, bxmax, bymax = -_TILE_MAX, -_TILE_MAX, _TILE_MAX, _TILE_MAX
        srid = 3857
    else:
        # the parameter shadows this module's bounds(); fetch it explicitly
        bb = globals()["bounds"](bounds)
        if bb is None:
            return None
        bxmin, bymin, bxmax, bymax = bb
        if bxmax - bxmin <= 0 or bymax - bymin <= 0:
            return None
        srid = bounds.srid
    n = 1 << z
    tsx = (bxmax - bxmin) / n
    tsy = (bymax - bymin) / n
    if margin * 2 + 1 > n:
        x1, x2 = bxmin, bxmax
    else:
        x1 = max(bxmin, bxmin + tsx * (x - margin))
        x2 = min(bxmax, bxmin + tsx * (x + 1 + margin))
    y1 = max(bymin, bymax - tsy * (y + 1 + margin))
    y2 = min(bymax, bymax - tsy * (y - margin))
    return make_envelope(x1, y1, x2, y2, srid)
