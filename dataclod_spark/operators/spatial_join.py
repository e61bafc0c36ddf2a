"""Partitioned build/probe spatial join — SURVEY.md §2.A.1 / §7 Phase 4.

Re-expresses the reference's out-of-core SpatialJoinExec
(``spatial/src/join/exec.rs:32-131``: build-side R-tree index, grid/KDB
spatial partitioning, candidate refinement, outer-join completion) in
Spark's execution model:

1. **bbox projection** (≈ OperandEvaluator, ``operand_evaluator.rs:23-66``):
   one Arrow-batched pandas UDF adds (xmin,ymin,xmax,ymax) per geometry —
   the only Python touch before refinement.
2. **Equi-depth grid partitioner** (≈ KDB partitioner
   ``partitioning/kdb.rs:378-393``): a seeded 1% bbox sample (10k max /
   1k min, mirroring ``option.rs:60-70``'s reservoir sampler) drives
   per-axis quantile boundaries, so skewed extents still give balanced
   cells (the KDB tree's axis-alternating median splits give the same
   marginal balancing).  Boundaries broadcast as plan literals; cell
   lookup is a pure-JVM count-of-boundaries-≤-coordinate expression.
3. **Cell assignment** (≈ partition contract ``partitioning/mod.rs:42-77``):
   BOTH sides explode to every grid cell their bbox intersects — pure JVM
   ``sequence``/``explode`` arithmetic, no Python.  (The reference assigns
   build-side rows to exactly one partition and handles probe Multi-cells
   with dedup bitmaps; with a shuffle-based engine the symmetric-explode +
   reference-point scheme below is equivalent and needs no shared state.)
4. **Cell equi-join + bbox filter**: the shuffle is on the cell id; Catalyst
   plans a hash join with the bbox range condition applied in codegen.
5. **Reference-point dedup** (replaces the Multi-cell visited bitmaps,
   ``stream.rs:82-86``): a candidate pair is emitted only in the cell that
   contains the top-left corner of the bbox intersection — each pair
   survives exactly once, with no distinct/shuffle.
6. **Exact refinement** (≈ ``refine/{geo,geos,tg}.rs``): the SQL ``ST_*``
   predicate's own pandas UDF evaluates it on candidate WKB pairs.
7. **Outer-join completion** (≈ ``stream.rs`` final emission): unmatched
   rows are recovered with anti-joins on row ids and unioned in.

Scale: the only shuffles are (a) the cell-id hash join and (b) outer-join
anti-joins; skewed cells are split by AQE skew-join handling.  Candidate
refinement is Arrow-batched.  At 100 TB the grid is sized from the sample so
that one cell's build rows fit an executor; heavily skewed data can lower
``cell_target`` (finer grid) without touching the plan shape.
"""

from __future__ import annotations

import math
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from dataclod_spark.functions.spatial_udfs import predicate_udf
from dataclod_spark.geo import core as GC

# mirrors the reference's bbox sampler bounds (option.rs:60-70):
# 1% target rate, bounded to [1k, 10k] samples, deterministic seed
MAX_BBOX_SAMPLES = 10_000
MIN_BBOX_SAMPLES = 1_000
BBOX_SAMPLE_RATE = 0.01
SAMPLE_SEED = 42

# adaptive grid sizing (≈ the reference choosing partition count from
# GeoStatistics during build collection, memory_plan.rs): aim for this
# many build rows per cell, bounded so the grid neither under-parallelizes
# nor explodes large bboxes across cells
TARGET_BUILD_ROWS_PER_CELL = 2048
MIN_AUTO_CELLS = 64
MAX_AUTO_CELLS = 65_536


def auto_cell_target(sample: list[tuple], rows: float) -> int:
    """Pick the grid cell budget from the bbox sample's GeoStatistics.

    Two constraints, both computed from the (≤11k-row) driver-side sample —
    no extra job over the data:

    * **row budget**: ``rows`` (the sampled side's row count, as
      :func:`bbox_sample` estimates it) / TARGET_BUILD_ROWS_PER_CELL,
      clamped to [MIN_AUTO_CELLS, MAX_AUTO_CELLS] — more rows, finer grid;
    * **explode budget**: a cell must not be smaller than the mean bbox,
      or every build row explodes into many cells (the reference's
      partitioner derives leaf extents from the same sampled boxes) —
      cells_x*cells_y is capped at (extent/mean_bbox) per axis, measured
      on the middle 98% of bbox centers so outliers don't inflate it.
    """
    n = len(sample)
    if not n:
        return 1024
    ws = [max(0.0, s[2] - s[0]) for s in sample]
    hs = [max(0.0, s[3] - s[1]) for s in sample]
    cxs = sorted((s[0] + s[2]) / 2.0 for s in sample)
    cys = sorted((s[1] + s[3]) / 2.0 for s in sample)
    lo, hi = int(0.01 * n), max(int(0.99 * n), 1)
    ext_w = max(cxs[hi - 1] - cxs[lo], 0.0)
    ext_h = max(cys[hi - 1] - cys[lo], 0.0)
    mean_w = sum(ws) / n
    mean_h = sum(hs) / n
    shape_cap = (ext_w / mean_w if mean_w > 0 else float("inf")) * (
        ext_h / mean_h if mean_h > 0 else float("inf")
    )
    rows_cells = min(
        max(max(n, rows) / TARGET_BUILD_ROWS_PER_CELL, MIN_AUTO_CELLS), MAX_AUTO_CELLS
    )
    return max(1, int(min(shape_cap, rows_cells)))


_BBOX_SCHEMA = T.StructType(
    [
        T.StructField("xmin", T.DoubleType()),
        T.StructField("ymin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
        # geometry equals its own bbox (point / axis-aligned rectangle):
        # for such pairs the JVM bbox join condition IS the exact intersects
        # predicate and Python refinement can be skipped entirely
        T.StructField("bbox_exact", T.BooleanType()),
    ]
)


@pandas_udf(_BBOX_SCHEMA)
def _bbox_udf_impl(wkb: pd.Series) -> pd.DataFrame:
    import numpy as np

    from dataclod_spark.geo.algos import axis_rect, bounds

    vals = wkb.to_numpy()
    n = len(vals)
    # vectorized fast path: homogeneous little-endian WKB/EWKB points are
    # fixed-width (21 bytes, 25 with the SRID flag) — decode the whole batch
    # with one frombuffer instead of n Python parses.
    if n and all(v is not None and len(v) in (21, 25) for v in vals):
        width = len(vals[0])
        if all(len(v) == width and v[0] == 1 for v in vals):
            buf = b"".join(bytes(v) for v in vals)
            arr = np.frombuffer(buf, dtype=np.uint8).reshape(n, width)
            code = arr[:, 1:5].copy().view("<u4")[:, 0]
            plain = (code == 1).all() if width == 21 else ((code & 0x20000000) != 0).all()
            if plain:
                xy = arr[:, width - 16 :].copy().view("<f8")
                x, y = xy[:, 0], xy[:, 1]
                ok = ~(np.isnan(x) | np.isnan(y))
                return pd.DataFrame(
                    {
                        "xmin": np.where(ok, x, np.nan),
                        "ymin": np.where(ok, y, np.nan),
                        "xmax": np.where(ok, x, np.nan),
                        "ymax": np.where(ok, y, np.nan),
                        "bbox_exact": ok,
                    }
                )
    out = {"xmin": [], "ymin": [], "xmax": [], "ymax": [], "bbox_exact": []}
    cache: dict[bytes, tuple] = {}
    for b in vals:
        bb = None
        exact = False
        if b is not None:
            key = bytes(b)
            if key in cache:
                bb, exact = cache[key]
            else:
                try:
                    g = GC.wkb_parse(key)
                    bb = bounds(g)
                    exact = g.kind == GC.POINT or axis_rect(g) is not None
                except Exception:
                    bb = None
                cache[key] = (bb, exact)
        if bb is None:
            out["xmin"].append(None)
            out["ymin"].append(None)
            out["xmax"].append(None)
            out["ymax"].append(None)
            out["bbox_exact"].append(False)
        else:
            out["xmin"].append(bb[0])
            out["ymin"].append(bb[1])
            out["xmax"].append(bb[2])
            out["ymax"].append(bb[3])
            out["bbox_exact"].append(exact)
    return pd.DataFrame(out)


# The bbox projection IS deterministic, but is declared nondeterministic so
# Catalyst never clones it: InferFiltersFromConstraints otherwise derives
# isnotnull(bbox.xmin) from the join's bbox conjuncts and pushes it below
# the exchange, re-running the whole Python bbox (and any upstream geometry
# constructor) a second time over every input row.  Nondeterministic
# expressions are a pushdown/substitution barrier, so the UDF runs exactly
# once per side.
_bbox_udf = _bbox_udf_impl.asNondeterministic()


@pandas_udf(T.BinaryType())
def point_wkb(x: pd.Series, y: pd.Series) -> pd.Series:
    """Vectorized WKB point constructor (little-endian, 21 bytes/row)."""
    import numpy as np

    n = len(x)
    arr = np.zeros((n, 21), dtype=np.uint8)
    arr[:, 0] = 1
    arr[:, 1:5] = np.frombuffer(np.uint32(1).tobytes() * n, dtype=np.uint8).reshape(n, 4)
    arr[:, 5:13] = x.to_numpy(dtype="<f8").view(np.uint8).reshape(n, 8)
    arr[:, 13:21] = y.to_numpy(dtype="<f8").view(np.uint8).reshape(n, 8)
    return pd.Series(list(arr.tobytes()[i * 21 : (i + 1) * 21] for i in range(n)))


@pandas_udf(T.BinaryType())
def envelope_wkb(x1: pd.Series, y1: pd.Series, x2: pd.Series, y2: pd.Series) -> pd.Series:
    """Vectorized WKB rectangle constructor (ST_MakeEnvelope ring order)."""
    import numpy as np
    import struct

    out = []
    hdr = b"\x01" + struct.pack("<I", 3) + struct.pack("<I", 1) + struct.pack("<I", 5)
    for a, b, c, d in zip(
        x1.to_numpy(dtype="f8"),
        y1.to_numpy(dtype="f8"),
        x2.to_numpy(dtype="f8"),
        y2.to_numpy(dtype="f8"),
    ):
        out.append(
            hdr + struct.pack("<10d", a, b, a, d, c, d, c, b, a, b)
        )
    return pd.Series(out)


def _sql_double(v: float) -> str:
    """``v`` as a SQL DOUBLE literal.  Finite values are spelled by
    ``repr``, which round-trips every double exactly; ±inf and NaN have no
    numeric spelling in the SQL grammar and are cast from their names."""
    v = float(v)
    if math.isfinite(v):
        return f"CAST({v!r} AS DOUBLE)"
    name = "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
    return f"CAST('{name}' AS DOUBLE)"


def _bucket_sql(bounds: list[float], coord: str) -> str:
    """Index of the grid cell containing ``coord`` = #boundaries <= coord.

    A flat sum of CASE terms — a plain expression tree that stays inside
    whole-stage codegen.  (A higher-order ``aggregate`` over a literal
    array computes the same thing but is evaluated interpreted per row,
    ~10x slower in the hot explode/join path.)  Bounds ride into the plan
    as literals — the Spark analogue of the reference broadcasting
    partition boundaries to every probe task."""
    if not bounds:
        return "0"
    return "(" + " + ".join(
        f"(CASE WHEN {coord} >= {_sql_double(b)} THEN 1 ELSE 0 END)" for b in bounds
    ) + ")"


# the bbox operand of a side without precomputed bbox expressions: the
# fields of the ``__bb`` struct the bbox UDF returns
_UDF_BBOX = ("__bb.xmin", "__bb.ymin", "__bb.xmax", "__bb.ymax", "__bb.bbox_exact")


def _flat_bbox_sql(bbox: tuple) -> list[str]:
    """Select items attaching a bbox operand as the flat columns
    ``__bbx0, __bby0, __bbx1, __bby1`` (doubles) and ``__bbe`` (exact).

    ``bbox`` holds SQL expressions over the side's own columns: four
    (xmin, ymin, xmax, ymax) assert the geometries bbox-exact (points /
    axis-aligned rectangles); a fifth is the exactness flag."""
    x0, y0, x1, y1, *exact = bbox
    return [
        f"CAST(({x0}) AS DOUBLE) AS __bbx0",
        f"CAST(({y0}) AS DOUBLE) AS __bby0",
        f"CAST(({x1}) AS DOUBLE) AS __bbx1",
        f"CAST(({y1}) AS DOUBLE) AS __bby1",
        f"{exact[0] if exact else 'true'} AS __bbe",
    ]


def _rowid_sql(cols: list[str]) -> str:
    """Deterministic 128-bit row id: two independent xxhash64 seeds
    (default and 0x9E3779B9) over the natural columns.  Unlike monotonically_increasing_id it survives
    partition recomputation, so the outer/semi completions are exact
    without pinning the inputs in cache (≈ the reference's positional
    visited bitmaps, which are likewise recompute-stable).  Identical rows
    share an id; that is correct here — twins match or miss identically."""
    refs = ", ".join(f"`{c}`" for c in cols)
    return f"named_struct('h1', xxhash64({refs}), 'h2', xxhash64(2654435769, {refs}))"


class _Grid:
    """Equi-depth (quantile) grid from a bbox sample.

    ≈ the KDB partitioner's contract (balanced leaf regions from a bbox
    sample, ``partitioning/kdb.rs:378-393``): per-axis boundaries are
    placed at sample quantiles of the bbox centers, so a skewed extent
    (data clustered in one corner) still yields cells with ~equal row
    counts — the same marginal balancing the KDB tree's axis-alternating
    median splits provide.  Cells are open-ended at the extent borders
    (first/last cell extend to ±inf), so out-of-sample rows always land in
    a cell (partition contract: rows are never dropped —
    ``partitioning/mod.rs:42-77``).

    The grid join is built only from SQL fragments — this class's side
    projection and candidate conjuncts, and the bucket, tightening and
    verdict functions beside it.  The DataFrame operator applies them with
    ``selectExpr``/``F.expr``; the SQL dispatch splices them into text.
    """

    def __init__(self, samples: list[tuple[float, float, float, float]], cell_target: int):
        n = max(1, int(math.sqrt(cell_target)))
        cx = sorted((s[0] + s[2]) / 2.0 for s in samples)
        cy = sorted((s[1] + s[3]) / 2.0 for s in samples)
        self.xb = self._quantile_bounds(cx, n)
        self.yb = self._quantile_bounds(cy, n)
        self.nx = len(self.xb) + 1
        self.ny = len(self.yb) + 1

    @staticmethod
    def _quantile_bounds(sorted_vals: list[float], n: int) -> list[float]:
        if not sorted_vals or n <= 1:
            return []
        m = len(sorted_vals)
        bounds: list[float] = []
        for i in range(1, n):
            v = sorted_vals[min(m - 1, (i * m) // n)]
            if not bounds or v > bounds[-1]:
                bounds.append(v)
        return bounds

    def cells_sql(self, expand: float) -> list[list[str]]:
        """The side projection, as SELECT lists applied in order over a
        relation carrying the flat bbox columns (:func:`_flat_bbox_sql`):
        the (expanded) bbox's min/max cell indices, then one row per grid
        cell it intersects — two plain ``explode(sequence(lo, hi))``
        generators (x then y), ordinary expressions that stay in codegen —
        then ``__cell``.

        The min cell indices ride along as ``__ix0``/``__iy0`` so the
        per-pair reference-point dedup downstream is O(1): the bucket
        function is monotone, hence bucket(max(a, b)) = max(bucket(a),
        bucket(b)) — the O(#boundaries) bucket scan runs once per input row
        here, never per candidate pair."""
        e = _sql_double(expand)
        return [
            [
                "*",
                f"{_bucket_sql(self.xb, f'(__bbx0 - {e})')} AS __ix0",
                f"{_bucket_sql(self.xb, f'(__bbx1 + {e})')} AS __ix1",
                f"{_bucket_sql(self.yb, f'(__bby0 - {e})')} AS __iy0",
                f"{_bucket_sql(self.yb, f'(__bby1 + {e})')} AS __iy1",
            ],
            ["*", "explode(sequence(__ix0, __ix1)) AS __cx"],
            ["*", "explode(sequence(__iy0, __iy1)) AS __cy"],
            ["* EXCEPT (__cx, __cy, __ix1, __iy1)", f"__cx * {self.ny} + __cy AS __cell"],
        ]

    def candidate_sql(self, l: str, r: str, lbox: tuple, rbox: tuple, expand: float) -> list[str]:
        """Candidate-pair conjuncts of the grid equi-join between two
        sides built by :meth:`cells_sql` (``l``/``r`` qualify their
        ``__cell``/``__ix0``/``__iy0``; ``lbox``/``rbox`` spell their
        (xmin, ymin, xmax, ymax)): cell equality, bbox overlap with the left
        side expanded by ``expand``, and the reference-point dedup — a pair
        is kept only in the cell holding the top-left corner of the
        (expanded) bbox intersection, so each pair survives exactly once
        with no distinct/shuffle (replaces the reference's Multi-cell
        visited bitmaps, ``stream.rs:82-86``).  That corner's cell is the
        ``max`` of the two sides' min cell indices (bucket is monotone), a
        constant-work predicate per pair."""
        e = _sql_double(expand)
        lx0, ly0, lx1, ly1 = lbox
        rx0, ry0, rx1, ry1 = rbox
        return [
            f"{l}__cell = {r}__cell",
            f"{lx0} - {e} <= {rx1}",
            f"{rx0} <= {lx1} + {e}",
            f"{ly0} - {e} <= {ry1}",
            f"{ry0} <= {ly1} + {e}",
            f"(greatest({l}__ix0, {r}__ix0) * {self.ny}"
            f" + greatest({l}__iy0, {r}__iy0)) = {l}__cell",
        ]


def _verdict_sql(
    key: str, lf: tuple, rf: tuple, e: float = 0.0, strict: bool = False
) -> str:
    """Exact predicate verdict for pairs where BOTH geometries equal their
    own bbox (point or axis-aligned rectangle — ``bbox_exact``): every join
    predicate is then decidable from the bbox coordinates alone, entirely
    inside whole-stage codegen.  This is the Spark analogue of the
    reference's dedicated point/rect refinement fast paths — for workloads
    of points and axis rectangles no row ever crosses into Python.

    ``lf``/``rf`` are (xmin, ymin, xmax, ymax) SQL expressions in the
    predicate's argument order; ``key`` ``bbox`` is plain overlap; ``e`` is
    the dwithin distance, ``strict`` its ``<`` form.

    OGC semantics notes (interior/boundary handled per dimension pairing):
    a bbox-exact geometry is a POINT iff its bbox is degenerate in both
    axes; otherwise it is a non-degenerate axis rectangle POLYGON.
    """
    lx0, ly0, lx1, ly1 = lf
    rx0, ry0, rx1, ry1 = rf
    lpt = f"({lx0} = {lx1} AND {ly0} = {ly1})"
    rpt = f"({rx0} = {rx1} AND {ry0} = {ry1})"
    overlap = f"({lx0} <= {rx1} AND {rx0} <= {lx1} AND {ly0} <= {ry1} AND {ry0} <= {ly1})"
    eq = f"({lx0} = {rx0} AND {lx1} = {rx1} AND {ly0} = {ry0} AND {ly1} = {ry1})"
    l_in_r = f"({rx0} <= {lx0} AND {lx1} <= {rx1} AND {ry0} <= {ly0} AND {ly1} <= {ry1})"
    r_in_l = f"({lx0} <= {rx0} AND {rx1} <= {lx1} AND {ly0} <= {ry0} AND {ry1} <= {ly1})"
    # strictly inside the other's interior
    l_in_r_open = f"({rx0} < {lx0} AND {lx1} < {rx1} AND {ry0} < {ly0} AND {ly1} < {ry1})"
    r_in_l_open = f"({lx0} < {rx0} AND {rx1} < {lx1} AND {ly0} < {ry0} AND {ry1} < {ly1})"
    if key in ("intersects", "bbox"):
        return overlap
    if key == "equals":
        return eq
    if key == "covered_by":
        return l_in_r
    if key == "covers":
        return r_in_l
    if key == "within":
        # point-on-rect-boundary is NOT within (interior test is strict);
        # rect-in-rect may share boundary (interiors still intersect)
        return (
            f"(CASE WHEN {lpt} AND {rpt} THEN {eq} "
            f"WHEN {lpt} THEN {l_in_r_open} "
            f"WHEN {rpt} THEN false ELSE {l_in_r} END)"
        )
    if key == "contains":
        return (
            f"(CASE WHEN {lpt} AND {rpt} THEN {eq} "
            f"WHEN {rpt} THEN {r_in_l_open} "
            f"WHEN {lpt} THEN false ELSE {r_in_l} END)"
        )
    if key == "touches":
        # boundaries meet, interiors don't
        degen = (
            f"(greatest({lx0}, {rx0}) = least({lx1}, {rx1}) "
            f"OR greatest({ly0}, {ry0}) = least({ly1}, {ry1}))"
        )
        l_on_r = f"({overlap} AND ({lx0} = {rx0} OR {lx0} = {rx1} OR {ly0} = {ry0} OR {ly0} = {ry1}))"
        r_on_l = f"({overlap} AND ({rx0} = {lx0} OR {rx0} = {lx1} OR {ry0} = {ly0} OR {ry0} = {ly1}))"
        return (
            f"(CASE WHEN {lpt} AND {rpt} THEN false "
            f"WHEN {lpt} THEN {l_on_r} WHEN {rpt} THEN {r_on_l} "
            f"ELSE ({overlap} AND {degen}) END)"
        )
    if key == "overlaps":
        # same-dimension proper overlap: 2D interior intersection, neither
        # side contained in the other; any point operand -> false
        proper = (
            f"(greatest({lx0}, {rx0}) < least({lx1}, {rx1}) "
            f"AND greatest({ly0}, {ry0}) < least({ly1}, {ry1}))"
        )
        return (
            f"(CASE WHEN {lpt} OR {rpt} THEN false "
            f"ELSE ({proper} AND NOT {l_in_r} AND NOT {r_in_l}) END)"
        )
    if key == "crosses":
        # bbox-exact operands are points (dim 0) or axis rectangles (dim 2):
        # P×P and R×R have equal non-lineal dims (false); P×R intersecting
        # is always fully covered ("all interior points in common") — false
        return "false"
    if key == "dwithin":
        dx = f"greatest({lx0} - {rx1}, {rx0} - {lx1}, CAST(0.0 AS DOUBLE))"
        dy = f"greatest({ly0} - {ry1}, {ry0} - {ly1}, CAST(0.0 AS DOUBLE))"
        op = "<" if strict else "<="
        return f"(({dx}) * ({dx}) + ({dy}) * ({dy}) {op} {_sql_double(e * e)})"
    raise ValueError(f"unknown predicate {key}")


# predicate -> the closed bbox relation it implies for ANY geometry
_TIGHTENING = {
    "within": "covered_by",
    "covered_by": "covered_by",
    "contains": "covers",
    "covers": "covers",
    "equals": "equals",
}


def _tighten_sql(key: str, lf: tuple, rf: tuple) -> Optional[str]:
    """Necessary bbox condition per predicate — tightens the generic bbox
    overlap before refinement for ANY geometry (≈ the reference evaluating
    the predicate's bbox implication during candidate generation).
    ``within(l, r)`` implies bbox(l) ⊆ bbox(r), ``equals`` implies equal
    bboxes, etc. — exactly the verdict of the closed bbox relation.
    Returns None when plain overlap is already tight."""
    rel = _TIGHTENING.get(key)
    return None if rel is None else _verdict_sql(rel, lf, rf)


# Session-lifetime bbox-sample cache: repeated spatial joins over a
# semantically identical build side (the common interactive / re-run shape)
# skip the sampling job entirely.  Keyed on the *sampled projection's*
# semantic hash, so any change to the plan — source files, filters,
# expressions — changes the key.  Bounded FIFO (each entry ≤11k tuples);
# ≈ the dispatch path's per-EngineSession grid cache, at the operator level.
_SAMPLE_CACHE: dict[int, tuple[list[tuple], float]] = {}
_SAMPLE_CACHE_MAX = 32


def clear_bbox_sample_cache() -> None:
    """Clear the bbox-sample memo (it keys on semanticHash, which does not
    see file rewrites at the same path)."""
    _SAMPLE_CACHE.clear()


def _bbox_rows(df: DataFrame) -> list[tuple]:
    return [(r[0], r[1], r[2], r[3]) for r in df.collect()]


def bbox_sample(
    src: DataFrame, geom_col: str, bbox: Optional[tuple] = None
) -> tuple[list[tuple], float]:
    """Seeded bbox sample of one join side and the side's estimated row
    count (≈ BoundingBoxSampler, ``join/utils/bbox_sampler.rs:61-88`` +
    ``option.rs:60-70``: 1% target, 1k min, 10k max).

    ``bbox`` (SQL expressions over ``src``'s columns, see
    :func:`spatial_join`) makes the sample pure JVM; without it the bbox
    UDF runs over ``geom_col`` of the sampled rows only.

    One Spark job and no shuffle when the side reads local parquet files:
    their footers (:func:`~dataclod_spark.registry.scan_layout`) give the
    row count ``R`` with no job.  ``R`` ≤ 11k collects the whole side
    (in one task, limited to 11k rows); otherwise a Bernoulli sample with fraction
    clamp(1%, 1k/R, 10k/R) is collected with no ``limit`` (a limit's
    collect runs as incremental jobs) and capped at 11k rows on the
    driver.  A side of unknown size (driver-held rows, remote or
    non-parquet files) first takes a head ``limit(1k)``, and a Bernoulli
    sample under 500 rows (a filter above the scan kept few of the
    footers' rows) takes one after it: a head that comes back short is
    the whole side, a full one joins the sample (for an unknown size the
    1% sample, limited to 10k rows).  No shuffle either way.

    The row count is the whole side's size, or the sample size over its
    fraction.  Memoized in ``_SAMPLE_CACHE``.
    """
    if bbox is not None:
        base = src.selectExpr(*_flat_bbox_sql(bbox)[:4]).dropna()

        def to_bbox(df: DataFrame) -> DataFrame:
            return df

    else:
        base = src.select(F.col(geom_col).alias("__g")).dropna()

        def to_bbox(df: DataFrame) -> DataFrame:
            return (
                df.select(_bbox_udf(F.col("__g")).alias("__bb"))
                .selectExpr(*_flat_bbox_sql(_UDF_BBOX)[:4])
                .dropna()
            )

    whole = to_bbox(base)
    try:
        key: Optional[int] = whole.semanticHash()
    except Exception:
        key = None
    if key is not None and key in _SAMPLE_CACHE:
        return _SAMPLE_CACHE[key]
    out = _draw_sample(src, base, whole, to_bbox)
    if key is not None:
        if len(_SAMPLE_CACHE) >= _SAMPLE_CACHE_MAX:
            _SAMPLE_CACHE.pop(next(iter(_SAMPLE_CACHE)))
        _SAMPLE_CACHE[key] = out
    return out


def _draw_sample(
    src: DataFrame, base: DataFrame, whole: DataFrame, to_bbox
) -> tuple[list[tuple], float]:
    """:func:`bbox_sample`'s jobs: ``base`` is the side's sampled column(s),
    ``whole`` its bbox rows and ``to_bbox`` the step between them."""
    from dataclod_spark.registry import scan_layout

    cap = MAX_BBOX_SAMPLES + MIN_BBOX_SAMPLES
    layout = scan_layout(src.sparkSession, src.inputFiles())
    if layout is not None and layout.rows <= cap:
        # one task over every split: a limit over several partitions
        # collects in incremental jobs
        rows = _bbox_rows(whole.coalesce(1).limit(cap))
        return rows, float(len(rows))
    frac = BBOX_SAMPLE_RATE
    head: list[tuple] = []
    if layout is None:
        head = _bbox_rows(whole.limit(MIN_BBOX_SAMPLES))
        if len(head) < MIN_BBOX_SAMPLES:
            return head, float(len(head))
        samp = _bbox_rows(
            to_bbox(base.sample(fraction=frac, seed=SAMPLE_SEED)).limit(MAX_BBOX_SAMPLES)
        )
    else:
        frac = min(max(frac, MIN_BBOX_SAMPLES / layout.rows), MAX_BBOX_SAMPLES / layout.rows)
        samp = _bbox_rows(to_bbox(base.sample(fraction=frac, seed=SAMPLE_SEED)))[:cap]
        if len(samp) < MIN_BBOX_SAMPLES // 2:
            head = _bbox_rows(whole.limit(MIN_BBOX_SAMPLES))
            if len(head) < MIN_BBOX_SAMPLES:
                return head, float(len(head))
    rows = samp + head
    return rows, max(len(rows), len(samp) / frac)


def collect_bbox_sample(src: DataFrame, geom_col: str) -> list[tuple]:
    """:func:`bbox_sample`'s rows for a geometry column."""
    return bbox_sample(src, geom_col)[0]


def collect_bbox_sample_cols(src: DataFrame, bbox: tuple) -> list[tuple]:
    """:func:`bbox_sample`'s rows for a bbox operand, zero Python."""
    return bbox_sample(src, "", bbox)[0]


def _sample_grid(
    build: DataFrame,
    build_geom: str,
    build_bbox: Optional[tuple],
    probe: DataFrame,
    probe_geom: str,
    probe_bbox: Optional[tuple],
    cell_target: Optional[int],
) -> _Grid:
    """Quantile grid from a :func:`bbox_sample` of the build side, falling
    back to the probe side when the build side has no geometries.
    ``cell_target`` None sizes the grid from the sample
    (:func:`auto_cell_target`)."""
    s, rows = bbox_sample(build, build_geom, build_bbox)
    if not s:
        s, rows = bbox_sample(probe, probe_geom, probe_bbox)
    if not s:
        s = [(0.0, 0.0, 1.0, 1.0)]
    return _Grid(s, cell_target or auto_cell_target(s, rows))


def _spread_width(df: DataFrame) -> int:
    """Width of the round-robin exchange a join side takes before its bbox
    and cell projection; 0 for none.  No Spark job: the side's rows and
    scan splits come from its parquet footers
    (:func:`~dataclod_spark.registry.scan_layout`).

    ``width = min(defaultParallelism, rows // arrow.maxRecordsPerBatch)``,
    taken only when it exceeds the scan's splits: no spread task gets less
    than one Arrow batch of rows, or it would pay a Python worker and a
    stage for a partial batch (JVM-only sides cost less per row, so for
    them the rule is conservative).  A single-split table of 10k rows
    keeps its one task; 100k rows spread to 4 on 4 cores; inputs with many
    splits — every input at scale — and sides of unknown layout (no local
    parquet files) are left as they are, as is a batch size of 0 or less
    (Spark's "no limit")."""
    from dataclod_spark.registry import scan_layout

    spark = df.sparkSession
    batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000"))
    layout = scan_layout(spark, df.inputFiles())
    if layout is None or batch <= 0:
        return 0
    width = min(spark.sparkContext.defaultParallelism, layout.rows // batch)
    return width if width > layout.splits else 0


def spatial_join(
    left: DataFrame,
    right: DataFrame,
    predicate: str = "intersects",
    left_geom: str = "geom",
    right_geom: str = "geom",
    how: str = "inner",
    distance: Optional[float] = None,
    cell_target: Optional[int] = None,
    left_bbox: Optional[tuple] = None,
    right_bbox: Optional[tuple] = None,
    refine: str = "auto",
    extra_condition: Optional[str] = None,
) -> DataFrame:
    """Spatial join of two DataFrames with WKB geometry columns.

    predicate: intersects|contains|within|covers|covered_by|touches|
               overlaps|equals|dwithin (dwithin requires ``distance``).
    how: inner|left|right|full|left_semi|left_anti.

    left_bbox/right_bbox: optional tuples of SQL expressions over that
    side's own columns giving each geometry's (xmin, ymin, xmax, ymax) —
    skips the bbox UDF on that side AND makes grid sampling pure JVM (≈ the
    reference's OperandEvaluator consuming a precomputed box operand).  An
    optional 5th expression is the ``bbox_exact`` flag; with 4 the
    geometries are asserted bbox-exact (points / axis-aligned rectangles).

    cell_target: grid cell budget; ``None`` (default) sizes the grid from
    the bbox sample's statistics (:func:`auto_cell_target`) — row count
    drives fineness, mean bbox size caps it so large geometries don't
    explode across cells.

    refine: ``"auto"`` (default) refines non-bbox-exact candidate pairs
    with the exact Python predicate; ``"none"`` asserts every geometry is
    bbox-exact and resolves ALL pairs with the pure-JVM bbox verdict — the
    whole join then runs without a single Python crossing (the right plan
    shape for point/rect workloads at scale; results are exact under the
    assertion, callers with arbitrary polygons must keep "auto").

    The exact refine is the registered ``ST_*`` predicate's own UDF
    (:func:`~dataclod_spark.functions.spatial_udfs.predicate_udf`), so the
    operator and SQL evaluate one kernel.

    extra_condition: optional SQL boolean expression over the OUTPUT
    column names (left columns + overlap-renamed ``*_right`` columns)
    AND-ed into the join condition — evaluated on candidate pairs BEFORE
    outer/semi/anti completion, i.e. genuine ON-clause semantics (the
    reference models this as the join filter on SpatialJoinExec's
    candidate pairs).

    Output: left columns + right columns (both sides' geometry included);
    for semi/anti only left columns.
    """
    if predicate == "dwithin" and distance is None:
        raise ValueError("dwithin requires distance=")
    if refine not in ("auto", "none"):
        raise ValueError(f"refine must be 'auto' or 'none', got {refine!r}")
    expand = float(distance or 0.0)

    lcols = left.columns
    rcols = right.columns
    overlap = set(lcols) & set(rcols)
    rcols_out = [c if c not in overlap else f"{c}_right" for c in rcols]

    # grid sampled from the raw (pre-repartition) build side so the
    # sampling job stays narrow
    grid = _sample_grid(
        right, right_geom, right_bbox, left, left_geom, left_bbox, cell_target
    )

    # A side whose scan has fewer splits than its rows can keep busy
    # (:func:`_spread_width`) is round-robined up to that width — a no-op
    # at scale, where the scan already has many splits.
    lw, rw = _spread_width(left), _spread_width(right)
    if lw:
        left = left.repartition(lw)
    if rw:
        right = right.repartition(rw)

    # Each side gains its flat bbox (the bbox expressions resolve against
    # the side's own column names — overlapping right columns are renamed
    # only in the output) and its row id, then explodes to its grid cells.
    # No explicit null-bbox filter: a null bbox explodes to no cell — an
    # explicit dropna would split the bbox UDF into a second
    # ArrowEvalPython (Catalyst pushes the filter through the projection,
    # duplicating the Python call per side).
    def _side(df: DataFrame, cols: list, bbox: Optional[tuple], geom: str, rid: str) -> DataFrame:
        if bbox is None:
            df, bbox = df.withColumn("__bb", _bbox_udf(F.col(geom))), _UDF_BBOX
        return df.selectExpr(
            *[f"`{c}`" for c in cols], *_flat_bbox_sql(bbox), f"{_rowid_sql(cols)} AS {rid}"
        )

    def _cells(df: DataFrame, e: float, alias: str) -> DataFrame:
        for items in grid.cells_sql(e):
            df = df.selectExpr(*items)
        return df.alias(alias)

    l = _side(left, lcols, left_bbox, left_geom, "__lid")
    r = _side(right, rcols, right_bbox, right_geom, "__rid")
    lb = ("l.__bbx0", "l.__bby0", "l.__bbx1", "l.__bby1")
    rb = ("r.__bbx0", "r.__bby0", "r.__bbx1", "r.__bby1")
    on = grid.candidate_sql("l.", "r.", lb, rb, expand)
    tight = _tighten_sql(predicate, lb, rb)
    if tight is not None:
        on.append(tight)
    cand = _cells(l, expand, "l").join(_cells(r, 0.0, "r"), F.expr(" AND ".join(on)))

    # Pairs where both geometries equal their own bbox (points / axis
    # rectangles) get an exact pure-JVM verdict; only the remaining pairs'
    # geometry bytes cross to Python.  The plan stays single-pass (a
    # fast/slow filter split would execute the join subtree twice): the
    # UDF's inputs are masked to NULL for JVM-decided pairs — the Arrow
    # batch carries no geometry bytes and the UDF short-circuits on them.
    # refine="none" drops the Python stage entirely (caller asserts
    # bbox-exactness; the verdict is then the exact predicate).
    verdict = F.expr(_verdict_sql(predicate, lb, rb, expand))
    if refine == "none":
        matched = cand.filter(verdict)
    else:
        both_exact = F.expr("l.__bbe AND r.__bbe")
        args = [
            F.when(~both_exact, F.col(f"l.`{left_geom}`")),
            F.when(~both_exact, F.col(f"r.`{right_geom}`")),
        ]
        if predicate == "dwithin":
            args.append(F.lit(expand))
        # SQL's name for the predicate: covered_by -> ST_CoveredBy
        refined = predicate_udf("st_" + predicate.replace("_", ""))(*args)
        matched = cand.filter(
            F.when(both_exact, verdict).otherwise(F.coalesce(refined, F.lit(False)))
        )

    pairs = matched.selectExpr(
        *[f"l.`{c}`" for c in lcols],
        *[f"r.`{c}`" + (f" AS `{o}`" if o != c else "") for c, o in zip(rcols, rcols_out)],
        "l.__lid",
        "r.__rid",
    )
    if extra_condition is not None:
        # extra ON conjuncts (SQL expr over the OUTPUT columns: left names
        # + overlap-renamed right names).  Filtering the matched pairs
        # BEFORE outer/semi/anti completion is exactly ON-clause
        # semantics: an outer row is unmatched unless some pair satisfies
        # the WHOLE condition — a post-join WHERE would instead drop the
        # null-completed rows (DataFusion models this the same way: the
        # join *filter* runs on candidate pairs inside the join).
        pairs = pairs.filter(F.expr(extra_condition))

    if how == "inner":
        return pairs.drop("__lid", "__rid")
    if how == "left_semi":
        keep = pairs.select("__lid").distinct()
        return l.join(keep, "__lid", "left_semi").select(*lcols)
    if how == "left_anti":
        keep = pairs.select("__lid").distinct()
        return l.join(keep, "__lid", "left_anti").select(*lcols)

    if how in ("left", "full"):
        unmatched_l = l.join(pairs.select("__lid").distinct(), "__lid", "left_anti")
        null_r = unmatched_l.select(
            *lcols,
            *[F.lit(None).cast(r.schema[c].dataType).alias(o) for c, o in zip(rcols, rcols_out)],
        )
    if how in ("right", "full"):
        unmatched_r = r.join(pairs.select("__rid").distinct(), "__rid", "left_anti")
        null_l = unmatched_r.select(
            *[F.lit(None).cast(l.schema[c].dataType).alias(c) for c in lcols],
            *[F.col(f"`{c}`").alias(o) for c, o in zip(rcols, rcols_out)],
        )
    res = pairs.drop("__lid", "__rid")
    if how == "left":
        return res.unionByName(null_r)
    if how == "right":
        return res.unionByName(null_l)
    if how == "full":
        return res.unionByName(null_r).unionByName(null_l)
    raise ValueError(f"unsupported how={how}")


def dbscan_clusters(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: float,
    min_pts: int,
) -> DataFrame:
    """Density-based clustering of a point set — PostGIS
    ``ST_ClusterDBSCAN`` semantics, Spark-first:

    * **eps-neighbor pairs** via the grid-partitioned dwithin self-join
      (bbox-exact point operands → the whole pair stage is pure JVM);
    * **core points**: >= ``min_pts`` neighbors within eps, self
      included (one partial-aggregated count over the pairs);
    * **clusters**: connected components over core-core edges
      (:func:`operators.dedup.connected_components` — adaptive driver
      union-find for bounded graphs, distributed O(log n)
      large-star/small-star beyond);
    * **border points**: non-core within eps of a core join the MINIMUM
      adjacent core's cluster (the deterministic tie-break PostGIS
      leaves unspecified);
    * noise points are omitted.

    Returns ``(id, cluster, is_core)``; ``cluster`` is the minimum core
    point id of the component.  Every stage is a bounded shuffle: the
    pair join is grid-partitioned (never all-pairs), counts and labels
    partial-aggregate, and the core graph is tiny next to the corpus.
    """
    p = points.select(
        F.col(id_col).cast("long").alias("pid"),
        F.col(x_col).cast("double").alias("px"),
        F.col(y_col).cast("double").alias("py"),
    )
    # POSITION-SPACE evaluation (exact, any input): exactly-coincident
    # points are mutually distance-0, so core-ness depends only on the
    # position (neighbor counts are sums of position multiplicities), all
    # points at one position share a label, and the core graph's
    # components equal the core-POSITION graph's components with each
    # position represented by its minimum point id.  The eps-join,
    # counts, components and border attachment therefore run over
    # DISTINCT POSITIONS — the pair stage is bounded by position pairs,
    # not point pairs, which is what blows up on duplicate-heavy clouds
    # (the Sum |C|^2 trap: 1.4M point pairs vs 19k position pairs on the
    # g23 grid cloud).  Unique-position inputs pay one extra narrow
    # hash-agg + one final attach join.  NULL/NaN coordinates never
    # satisfy the distance predicate (no self-pair either), so those
    # points are noise on both forms.  Verified row-identical to the
    # point-space form by the g23 oracle at sf0.001/0.01/0.1 and the
    # coincident/NULL operator tests.
    pos = (
        p.groupBy("px", "py")
        .agg(F.count(F.lit(1)).alias("__cnt"), F.min("pid").alias("__mpid"))
        .localCheckpoint(eager=True)  # feeds both join sides + label attach
    )
    # eps-pairs via a 3x3 CELL-HASH equi-join instead of the generic grid
    # spatial_join: point-dwithin needs no polygon refinement, and the
    # grid machinery's fixed costs (bbox sample collect + equi-depth grid
    # build — separate Spark jobs) dominate position-sized inputs
    # (measured 1.8 s of 6.2 on g23's 3,827 positions).  Any pair within
    # eps has cell coordinates differing by <= 1 per axis, so exploding
    # one side to its 3x3 cell neighborhood and equi-joining on the cell
    # is a provable superset; the exact squared-distance filter keeps the
    # identical pair set.  (The <=1-cell claim holds in exact arithmetic;
    # for |coord/eps| approaching 2^53 the FP division's rounding could
    # make floors differ by 2 and silently drop a within-eps pair — the
    # cell key is load-bearing for RECALL, unlike the filter.  Domain
    # assumption: coordinate magnitudes stay far below eps*2^52, which
    # every geographic/projected CRS satisfies by ~15 orders of
    # magnitude; the saturation note below is about exactness of the
    # VALUES, this note is about completeness of the CANDIDATES.)  Each b-row owns ONE cell, so a qualifying pair
    # matches in exactly one exploded cell — no dedup pass.  Exactness
    # never depends on the cell key (floor saturates on +-9e18 extremes
    # and maps NaN to 0): the distance filter alone decides membership,
    # so NULL/NaN coordinates drop exactly as before.  Self-pairs are
    # included (distance 0 <= eps), so the neighbor count is DBSCAN's
    # |N_eps(p)| with self.  The pair set feeds three consumers (counts,
    # core edges, border) — materialize it once (SCALE.md pitfall #6).
    a = pos.select(
        F.col("px").alias("ax"), F.col("py").alias("ay"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.floor(F.col("px") / eps) + dx).cast("double").alias("cx"),
                        (F.floor(F.col("py") / eps) + dy).cast("double").alias("cy"),
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        ).alias("__c"),
    ).select("ax", "ay", F.col("__c.cx").alias("cx"), F.col("__c.cy").alias("cy"))
    b = pos.select(
        F.col("px").alias("bx"), F.col("py").alias("by"),
        F.col("__cnt").alias("__bcnt"), F.col("__mpid").alias("__bmpid"),
        F.floor(F.col("px") / eps).cast("double").alias("cx"),
        F.floor(F.col("py") / eps).cast("double").alias("cy"),
    )
    dist2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    pairs = (
        a.join(b, ["cx", "cy"])
        .filter(dist2 <= F.lit(float(eps) * float(eps)))
        .select("ax", "ay", "bx", "by", "__bcnt", "__bmpid")
        .localCheckpoint(eager=True)
    )
    counts = pairs.groupBy("ax", "ay").agg(F.sum("__bcnt").alias("__n"))
    core_pos = (
        counts.filter(F.col("__n") >= min_pts)
        .join(
            pos,
            (F.col("ax") == F.col("px")) & (F.col("ay") == F.col("py")),
        )
        .select("px", "py", "__mpid")
        .localCheckpoint(eager=True)  # feeds core edges (x2), border, labels
    )
    core_edges = (
        pairs.join(
            core_pos.select(
                F.col("px").alias("ax"), F.col("py").alias("ay"),
                F.col("__mpid").alias("__ampid"),
            ),
            ["ax", "ay"],
        )
        .join(
            core_pos.select(
                F.col("px").alias("bx"), F.col("py").alias("by")
            ),
            ["bx", "by"],
        )
        .filter(F.col("__ampid") < F.col("__bmpid"))
        .select(F.col("__ampid").alias("id_1"), F.col("__bmpid").alias("id_2"))
    )
    from dataclod_spark.operators.dedup import connected_components

    # the driver union-find runs over numpy int64 buffers (no boxed
    # Python ints), so 5M edges is ~80 MB of driver arrays; beyond that
    # the distributed path is alternating large-star/small-star, whose
    # O(log n) rounds handle the O(extent) diameter of lattice-like core
    # graphs that would starve min-label propagation
    comp = connected_components(
        core_edges, "id_1", "id_2", max_iter=128, driver_edge_limit=5_000_000
    )
    # isolated core positions (no core neighbor) form their own
    # singleton cluster labeled by their minimum point id
    core_labels = (
        core_pos.join(comp, core_pos["__mpid"] == comp["id"], "left")
        .select(
            "px", "py",
            F.coalesce(F.col("component"), F.col("__mpid")).alias("cluster"),
        )
        .localCheckpoint(eager=True)  # consumed by border + the final union
    )
    border = (
        pairs.join(
            core_labels.select(
                F.col("px").alias("bx"), F.col("py").alias("by"), "cluster"
            ),
            ["bx", "by"],
        )
        .join(
            core_pos.select(
                F.col("px").alias("ax"), F.col("py").alias("ay")
            ),
            ["ax", "ay"],
            "left_anti",
        )
        .groupBy(F.col("ax").alias("px"), F.col("ay").alias("py"))
        .agg(F.min("cluster").alias("cluster"))
        .withColumn("is_core", F.lit(False))
    )
    labels = core_labels.withColumn("is_core", F.lit(True)).unionByName(border)
    # attach per-point: every point at a labeled position gets that
    # position's (cluster, is_core); noise positions drop in the inner join
    return p.join(labels, ["px", "py"]).select(
        F.col("pid").alias("id"), "cluster", "is_core"
    )
