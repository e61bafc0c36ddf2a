"""Spatial join correctness vs a driver-side brute-force reference."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataclod_spark.geo import core as GC
from dataclod_spark.geo import predicates as GP
from dataclod_spark.geo.algos import make_envelope, make_point


def _mk_data(seed: int, n_boxes: int = 40, n_points: int = 120):
    rnd = random.Random(seed)
    boxes = []
    for i in range(n_boxes):
        x = rnd.uniform(0, 90)
        y = rnd.uniform(0, 90)
        w = rnd.uniform(1, 12)
        h = rnd.uniform(1, 12)
        boxes.append((i, make_envelope(x, y, x + w, y + h)))
    points = []
    for i in range(n_points):
        # cluster 30% of points in a small extent (skew, FIXTURES.md §3)
        if i % 10 < 3:
            p = make_point(rnd.uniform(40, 50), rnd.uniform(40, 50))
        else:
            p = make_point(rnd.uniform(-5, 105), rnd.uniform(-5, 105))
        points.append((i, p))
    return boxes, points


_SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("geom", T.BinaryType())]
)


def _df(spark, rows):
    return spark.createDataFrame(
        [(i, GC.wkb_write(g)) for i, g in rows], _SCHEMA
    )


@pytest.fixture(scope="module")
def data(spark):
    boxes, points = _mk_data(11)
    return (
        boxes,
        points,
        _df(spark, points).withColumnRenamed("id", "pid"),
        _df(spark, boxes).withColumnRenamed("id", "bid"),
    )


def _brute_pairs(points, boxes, pred):
    return {
        (pi, bi)
        for pi, pg in points
        for bi, bg in boxes
        if pred(pg, bg)
    }


def test_inner_intersects(spark, data):
    from dataclod_spark.operators.spatial_join import spatial_join

    boxes, points, pdf, bdf = data
    got = spatial_join(
        pdf, bdf, "intersects", left_geom="geom", right_geom="geom", cell_target=64
    )
    got_pairs = {(r.pid, r.bid) for r in got.collect()}
    assert got_pairs == _brute_pairs(points, boxes, GP.intersects)
    assert len(got_pairs) > 0


def test_inner_within(spark, data):
    from dataclod_spark.operators.spatial_join import spatial_join

    boxes, points, pdf, bdf = data
    got = spatial_join(pdf, bdf, "within", cell_target=64)
    got_pairs = {(r.pid, r.bid) for r in got.collect()}
    assert got_pairs == _brute_pairs(points, boxes, GP.within)


def test_dwithin(spark, data):
    from dataclod_spark.operators.spatial_join import spatial_join

    boxes, points, pdf, bdf = data
    d = 4.0
    got = spatial_join(pdf, bdf, "dwithin", distance=d, cell_target=64)
    got_pairs = {(r.pid, r.bid) for r in got.collect()}
    expect = {
        (pi, bi)
        for pi, pg in points
        for bi, bg in boxes
        if GP.dwithin(pg, bg, d)
    }
    assert got_pairs == expect


def test_left_and_semi_anti(spark, data):
    from dataclod_spark.operators.spatial_join import spatial_join

    boxes, points, pdf, bdf = data
    brute = _brute_pairs(points, boxes, GP.intersects)
    matched_pids = {p for p, _ in brute}

    left = spatial_join(pdf, bdf, "intersects", how="left", cell_target=64).collect()
    assert len(left) == len(brute) + (len(points) - len(matched_pids))
    null_rows = [r for r in left if r.bid is None]
    assert {r.pid for r in null_rows} == {p for p, _ in points} - matched_pids

    semi = spatial_join(pdf, bdf, "intersects", how="left_semi", cell_target=64).collect()
    assert {r.pid for r in semi} == matched_pids
    anti = spatial_join(pdf, bdf, "intersects", how="left_anti", cell_target=64).collect()
    assert {r.pid for r in anti} == {p for p, _ in points} - matched_pids


def test_full_outer(spark, data):
    from dataclod_spark.operators.spatial_join import spatial_join

    boxes, points, pdf, bdf = data
    brute = _brute_pairs(points, boxes, GP.intersects)
    matched_p = {p for p, _ in brute}
    matched_b = {b for _, b in brute}
    full = spatial_join(pdf, bdf, "intersects", how="full", cell_target=64).collect()
    expected_rows = (
        len(brute) + (len(points) - len(matched_p)) + (len(boxes) - len(matched_b))
    )
    assert len(full) == expected_rows


def test_skewed_extent_balanced_cells(spark):
    """Build data clustered in one corner + probe spread wide: the
    equi-depth grid must (a) stay correct and (b) concentrate boundaries
    where the data is, so no single cell holds almost all build rows."""
    from dataclod_spark.operators.spatial_join import (
        _Grid,
        collect_bbox_sample,
        spatial_join,
    )

    rnd = random.Random(7)
    # 95% of boxes live in the [0,1]x[0,1] corner of a [0,1000]^2 extent
    boxes = []
    for i in range(200):
        if i % 20 == 0:
            x, y = rnd.uniform(0, 990), rnd.uniform(0, 990)
        else:
            x, y = rnd.uniform(0, 0.9), rnd.uniform(0, 0.9)
        boxes.append((i, make_envelope(x, y, x + 0.05, y + 0.05)))
    points = [
        (i, make_point(rnd.uniform(0, 1000), rnd.uniform(0, 1000)))
        for i in range(300)
    ] + [(300 + i, make_point(rnd.uniform(0, 1), rnd.uniform(0, 1))) for i in range(300)]

    pdf = _df(spark, points).withColumnRenamed("id", "pid")
    bdf = _df(spark, boxes).withColumnRenamed("id", "bid")

    got = spatial_join(pdf, bdf, "intersects", cell_target=64)
    got_pairs = {(r.pid, r.bid) for r in got.collect()}
    assert got_pairs == _brute_pairs(points, boxes, GP.intersects)

    # partition balance: with an equi-depth grid over the build sample, the
    # largest cell must hold a bounded share of build rows (a uniform grid
    # would put ~95% of them into one corner cell)
    sample = collect_bbox_sample(bdf, "geom")
    grid = _Grid(sample, 64)
    counts: dict[int, int] = {}
    for (x0, y0, x1, y1) in sample:
        cx = sum(b <= (x0 + x1) / 2 for b in grid.xb)
        cy = sum(b <= (y0 + y1) / 2 for b in grid.yb)
        cell = cx * grid.ny + cy
        counts[cell] = counts.get(cell, 0) + 1
    assert max(counts.values()) <= len(sample) * 0.3


def test_auto_cell_target_adapts():
    """Grid sizing from bbox-sample GeoStatistics: row count drives
    fineness, mean bbox size caps it (exec_mode_selector.rs-style
    stats-driven choice instead of a fixed constant)."""
    from dataclod_spark.operators.spatial_join import (
        MIN_AUTO_CELLS,
        auto_cell_target,
    )

    # 10k-point sample of a 1M-row side: fine grid
    import random

    rnd = random.Random(7)
    pts = [(x, y, x, y) for x, y in ((rnd.uniform(0, 100), rnd.uniform(0, 100)) for _ in range(10_000))]
    fine = auto_cell_target(pts, 1_000_000)
    # a 1.2k-row side sampled whole: coarse grid
    coarse = auto_cell_target(pts[:1_200], 1_200)
    assert fine > coarse >= MIN_AUTO_CELLS
    # huge overlapping boxes (each ~half the extent): explode budget wins,
    # grid collapses to a handful of cells
    big = [(x, y, x + 50, y + 50) for x, y, _, _ in pts[:5_000]]
    assert auto_cell_target(big, 5_000) <= 16
    # empty sample: sane default
    assert auto_cell_target([], 0) == 1024


def _write_points(path, n: int) -> None:
    """A one-file, one-row-group parquet side of ``n`` WKB points with
    their coordinates (written by pyarrow: no Spark job)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rnd = random.Random(n)
    xs = [rnd.uniform(0, 100) for _ in range(n)]
    ys = [rnd.uniform(0, 100) for _ in range(n)]
    pq.write_table(
        pa.table({
            "id": list(range(n)),
            "x": xs,
            "y": ys,
            "geom": [GC.wkb_write(make_point(x, y)) for x, y in zip(xs, ys)],
        }),
        str(path),
        row_group_size=n,
    )


def test_whole_side_sample_sizes_grid_by_its_rows(spark, tmp_path):
    """A side the footers show at ≤ 11k rows is sampled whole, in one job,
    and the grid is sized by its row count: 5,000 points give 64 cells
    (the old estimate from a head ∪ 1% pool read 400,000 rows, 195 cells).
    A larger side takes one Bernoulli job: max(1%, 1k rows) of 40,000."""
    from dataclod_spark.operators import spatial_join as SJ
    from dataclod_spark.registry import read_parquet
    from dataclod_spark.testing import count_jobs

    _write_points(tmp_path / "small.parquet", 5_000)
    _write_points(tmp_path / "big.parquet", 40_000)
    small = read_parquet(spark, str(tmp_path / "small.parquet"))
    big = read_parquet(spark, str(tmp_path / "big.parquet"))
    SJ.clear_bbox_sample_cache()
    out = []
    assert count_jobs(spark, lambda: out.append(SJ.bbox_sample(small, "geom"))) == 1
    sample, rows = out[0]
    assert len(sample) == rows == 5_000
    assert SJ.auto_cell_target(sample, rows) == SJ.MIN_AUTO_CELLS
    assert count_jobs(spark, lambda: out.append(SJ.bbox_sample(big, "", ("x", "y", "x", "y")))) == 1
    sample, rows = out[1]
    assert 800 <= len(sample) <= 1_200 and 32_000 <= rows <= 48_000
    # the small side read as several byte-range partitions: still one job
    split = spark.newSession()
    split.conf.set("spark.sql.files.maxPartitionBytes", "32k")
    small = read_parquet(split, str(tmp_path / "small.parquet")).select("id", "geom")
    assert count_jobs(split, lambda: out.append(SJ.bbox_sample(small, "geom"))) == 1
    assert len(out[2][0]) == 5_000
    SJ.clear_bbox_sample_cache()


def test_auto_cell_target_default_join_correct(spark):
    """spatial_join with cell_target unset (auto) stays brute-force exact."""
    import random

    from pyspark.sql import types as T

    from dataclod_spark.geo import core as GC
    from dataclod_spark.geo import predicates as GP
    from dataclod_spark.geo.algos import make_envelope, make_point
    from dataclod_spark.operators.spatial_join import spatial_join

    rnd = random.Random(11)
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("geom", T.BinaryType())]
    )
    boxes = []
    for i in range(30):
        x, y = rnd.uniform(0, 80), rnd.uniform(0, 80)
        boxes.append((i, make_envelope(x, y, x + rnd.uniform(1, 8), y + rnd.uniform(1, 8))))
    points = [(i, make_point(rnd.uniform(0, 90), rnd.uniform(0, 90))) for i in range(150)]
    ldf = spark.createDataFrame([(i, GC.wkb_write(g)) for i, g in points], schema)
    rdf = spark.createDataFrame([(i, GC.wkb_write(g)) for i, g in boxes], schema)
    out = spatial_join(ldf, rdf, "intersects")
    got = {(r.id, r.id_right) for r in out.collect()}
    want = {(pi, bi) for pi, pg in points for bi, bg in boxes if GP.intersects(pg, bg)}
    assert got == want and got


def test_bbox_sample_cache_hits_on_identical_build_side(spark):
    """A semantically identical build side must reuse the cached bbox
    sample (no second sampling job)."""
    from pyspark.sql import functions as F

    from conftest import SF_SMOKE

    from dataclod_spark.operators import spatial_join as SJ
    from dataclod_spark.registry import load

    SJ.clear_bbox_sample_cache()
    e = load(spark, SF_SMOKE, "events")
    boxes = e.select(
        (F.col("event_id") % 97).cast("double").alias("bx"),
        (F.col("user_id") % 41).cast("double").alias("by"),
        ((F.col("event_id") % 97) + 3).cast("double").alias("bx2"),
        ((F.col("user_id") % 41) + 2).cast("double").alias("by2"),
    )
    s1 = SJ.collect_bbox_sample_cols(boxes, ("bx", "by", "bx2", "by2"))
    assert len(SJ._SAMPLE_CACHE) == 1
    s2 = SJ.collect_bbox_sample_cols(boxes, ("bx", "by", "bx2", "by2"))
    assert s2 is s1  # served from cache, not re-collected
    SJ.clear_bbox_sample_cache()


def _ngon(cx, cy, r, n):
    import math as m

    ring = [
        (cx + r * m.cos(2 * m.pi * k / n), cy + r * m.sin(2 * m.pi * k / n))
        for k in range(n)
    ]
    ring.append(ring[0])
    return GC.Geometry(GC.POLYGON, [ring])


def _ngon_workload(spark):
    rnd = random.Random(7)
    boxes = [(i, make_envelope(x, y, x + 10, y + 10))
             for i, (x, y) in enumerate((rnd.uniform(0, 80), rnd.uniform(0, 80)) for _ in range(12))]
    polys = [(i, _ngon(rnd.uniform(0, 90), rnd.uniform(0, 90), 4.0, 64)) for i in range(60)]
    return (boxes, polys, _df(spark, boxes).withColumnRenamed("id", "bid"),
            _df(spark, polys).withColumnRenamed("id", "pid"))


def test_complex_polygon_join_matches_brute_force(spark):
    """64-gon probes (every geometry prepared in the refine kernel) against
    boxes: the intersects and dwithin joins equal the brute force."""
    from dataclod_spark.operators.spatial_join import spatial_join

    boxes, polys, bdf, gdf = _ngon_workload(spark)
    j = spatial_join(gdf, bdf, "intersects", cell_target=16)
    expected = _brute_pairs(polys, boxes, GP.intersects)
    assert {(r.pid, r.bid) for r in j.collect()} == expected
    assert expected  # non-degenerate workload

    j_dw = spatial_join(gdf, bdf, "dwithin", distance=2.0, cell_target=16)
    expected_dw = _brute_pairs(polys, boxes, lambda a, b: GP.dwithin(a, b, 2.0))
    assert {(r.pid, r.bid) for r in j_dw.collect()} == expected_dw
    assert expected_dw >= expected


def test_filtered_side_sample_tops_up_with_a_head_slice(spark, tmp_path):
    """A filter above the scan thins the footer-sized Bernoulli sample (1k
    of 40k rows, 1 in 50 kept: about 20): a head limit(1k) follows, which
    here comes back short and so is the whole filtered side."""
    from dataclod_spark.operators import spatial_join as SJ
    from dataclod_spark.registry import read_parquet
    from dataclod_spark.testing import count_jobs

    _write_points(tmp_path / "pts.parquet", 40_000)
    kept = read_parquet(spark, str(tmp_path / "pts.parquet")).filter("id % 50 = 0")
    SJ.clear_bbox_sample_cache()
    out = []
    assert count_jobs(spark, lambda: out.append(SJ.bbox_sample(kept, "", ("x", "y", "x", "y")))) == 2
    sample, rows = out[0]
    assert len(sample) == rows == 800
    SJ.clear_bbox_sample_cache()


def test_operator_build_runs_only_the_grid_sample_job(spark, tmp_path):
    """Building a join runs only the grid's bbox-sample collect: one job
    for a file-backed build side (its footers give its size), at most two
    for a driver-held one (a head limit over its partitions).  No
    partition-count probe, no probe-side statistics job, no shuffle."""
    from dataclod_spark.operators import spatial_join as SJ
    from dataclod_spark.registry import read_parquet
    from dataclod_spark.testing import count_jobs

    _, _, bdf, gdf = _ngon_workload(spark)
    SJ.clear_bbox_sample_cache()
    assert count_jobs(spark, lambda: SJ.spatial_join(gdf, bdf, "intersects", cell_target=16)) <= 2
    _write_points(tmp_path / "pts.parquet", 2_000)
    pts = read_parquet(spark, str(tmp_path / "pts.parquet"))
    assert count_jobs(spark, lambda: SJ.spatial_join(gdf, pts, "intersects")) == 1
    SJ.clear_bbox_sample_cache()


def test_spread_decision_runs_no_job(spark):
    from conftest import SF_CORRECT

    from dataclod_spark.operators.spatial_join import _spread_width
    from dataclod_spark.registry import load
    from dataclod_spark.testing import count_jobs

    events = load(spark, SF_CORRECT, "events").filter("event_id % 50 = 0")
    assert count_jobs(spark, lambda: _spread_width(events)) == 0


def test_single_split_side_spreads_by_arrow_batches(spark):
    """A one-split side takes a RoundRobinPartitioning(min(slots, rows //
    batch)) exchange when its rows fill that many Arrow batches, and none
    at the default batch size; the join's rows are the same both ways."""
    from conftest import SF_SMOKE

    from dataclod_spark.operators.spatial_join import spatial_join
    from dataclod_spark.registry import load, scan_layout

    def join(session):
        e = load(session, SF_SMOKE, "events")
        pts = e.select("event_id", (F.col("event_id") % 89).cast("double").alias("px"),
                       (F.col("user_id") % 43).cast("double").alias("py"))
        boxes = e.filter(F.col("event_id") % 50 == 0).select(
            F.col("event_id").alias("box_id"),
            (F.col("event_id") % 97).cast("double").alias("bx"),
            (F.col("user_id") % 41).cast("double").alias("by"),
        )
        j = spatial_join(pts, boxes, "intersects", left_bbox=("px", "py", "px", "py"),
                         right_bbox=("bx", "by", "bx + 4", "by + 3"), refine="none")
        plan = j._jdf.queryExecution().executedPlan().toString()
        return plan, sorted((r.event_id, r.box_id) for r in j.collect()), e

    slots = spark.sparkContext.defaultParallelism
    plan, want, e = join(spark)
    assert "RoundRobinPartitioning" not in plan
    rows = scan_layout(spark, e.inputFiles()).rows
    batch = max(1, rows // slots)
    small = spark.newSession()
    small.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch))
    plan, got, _ = join(small)
    width = min(slots, rows // batch)
    if width > 1:
        assert f"RoundRobinPartitioning({width})" in plan
    assert got == want and got


def test_dbscan_planted_blobs(spark):
    """Two dense blobs separated by > eps form two clusters; isolated
    points are noise (absent); a point within eps of a core but with too
    few neighbors is a border member of that cluster."""
    from dataclod_spark.operators.spatial_join import dbscan_clusters

    rows = []
    # blob A: 3x3 lattice at (0..2, 0..2) — every point has >= 6 neighbors
    # within eps=1.5 (orthogonal + diagonal)
    pid = 0
    for x in range(3):
        for y in range(3):
            rows.append((pid, float(x), float(y))); pid += 1
    # blob B: 3x3 lattice at (100..102, 0..2)
    for x in range(100, 103):
        for y in range(3):
            rows.append((pid, float(x), float(y))); pid += 1
    # border: 1.4 below blob A's bottom edge-center (pid 3 at (1,0), a
    # core); too far from every other point to be core itself
    rows.append((50, 1.0, -1.4))
    # noise: far from everything
    rows.append((60, 50.0, 50.0))
    df = spark.createDataFrame(rows, "pid long, px double, py double")
    out = {r["id"]: (r["cluster"], r["is_core"]) for r in
           dbscan_clusters(df, "pid", "px", "py", eps=1.5, min_pts=6).collect()}
    assert 60 not in out                      # noise dropped
    # lattice edge-centers + center are cores (6+ neighbors incl. self);
    # corners have only 5 → border.  Min core id labels the cluster.
    assert out[50] == (1, False)              # border via core pid 3
    clusters = {c for c, _ in out.values()}
    assert clusters == {1, 10}                # two clusters, min-core labels
    for pid in (1, 3, 4, 5, 7):
        assert out[pid] == (1, True)
    for pid in (0, 2, 6, 8):
        assert out[pid] == (1, False)         # corners are border
    for pid in (10, 12, 13, 16):
        assert out[pid] == (10, True)


def test_dbscan_coincident_points_and_nulls(spark):
    """Position-space internals: exactly-coincident points contribute
    their multiplicity to every neighbor count (distance 0), every point
    at a core position is core, and NULL coordinates are noise (the
    distance predicate never fires, not even the self-pair)."""
    from dataclod_spark.operators.spatial_join import dbscan_clusters

    rows = [(i, 0.0, 0.0) for i in range(5)]          # 5 coincident at A
    rows += [(5 + i, 1.0, 0.0) for i in range(4)]     # 4 coincident at B
    rows.append((20, 2.0, 0.0))   # border: n = 1 + 4 = 5 < 9, adj. core B
    rows.append((30, 10.0, 10.0))  # noise
    rows.append((40, None, 5.0))   # NULL x -> noise
    df = spark.createDataFrame(rows, "pid long, px double, py double")
    out = {r["id"]: (r["cluster"], r["is_core"]) for r in
           dbscan_clusters(df, "pid", "px", "py", eps=1.0, min_pts=9).collect()}
    # A: n = 5 + 4 = 9 core; B: n = 4 + 5 = 9 core; one component, label 0
    assert len(out) == 10                      # 30 and 40 dropped
    for pid in range(9):
        assert out[pid] == (0, True)
    assert out[20] == (0, False)


def test_extra_condition_outer_semantics(spark, data):
    """extra_condition is ON-clause semantics: it filters candidate PAIRS
    before outer completion, so a left row whose only matches fail the
    condition comes back null-completed — a post-join WHERE would instead
    drop it entirely."""
    from dataclod_spark.operators.spatial_join import spatial_join

    boxes, points, pdf, bdf = data
    got = spatial_join(
        pdf, bdf, "intersects", how="left", cell_target=64,
        extra_condition="bid % 2 = 0",
    )
    got_pairs = {(r.pid, r.bid) for r in got.collect()}
    matched = {
        (pi, bi) for pi, pg in points for bi, bg in boxes
        if bi % 2 == 0 and GP.intersects(pg, bg)
    }
    mp = {p for p, _ in matched}
    want = matched | {(pi, None) for pi, _ in points if pi not in mp}
    assert got_pairs == want

    # semi/anti honor it too
    semi = spatial_join(
        pdf, bdf, "intersects", how="left_semi", cell_target=64,
        extra_condition="bid % 2 = 0",
    )
    assert {r.pid for r in semi.collect()} == mp
    anti = spatial_join(
        pdf, bdf, "intersects", how="left_anti", cell_target=64,
        extra_condition="bid % 2 = 0",
    )
    assert {r.pid for r in anti.collect()} == {p for p, _ in points} - mp


def test_extra_condition_overlap_renamed_columns(spark, data):
    """Overlapping column names: the condition is written over the OUTPUT
    names, i.e. the right side's overlap columns carry the _right suffix."""
    from pyspark.sql import functions as F

    from dataclod_spark.operators.spatial_join import spatial_join

    boxes, points, pdf, bdf = data
    l = pdf.withColumnRenamed("pid", "id")
    r = bdf.withColumnRenamed("bid", "id")
    got = spatial_join(
        l, r, "intersects", how="full", cell_target=64,
        extra_condition="id_right > 5 AND id % 3 = 0",
    )
    got_pairs = {(r_.id, r_.id_right) for r_ in got.collect()}
    matched = {
        (pi, bi) for pi, pg in points for bi, bg in boxes
        if bi > 5 and pi % 3 == 0 and GP.intersects(pg, bg)
    }
    mp = {p for p, _ in matched}
    mb = {b for _, b in matched}
    want = (
        matched
        | {(pi, None) for pi, _ in points if pi not in mp}
        | {(None, bi) for bi, _ in boxes if bi not in mb}
    )
    assert got_pairs == want
