"""registry.load scan-spread: unsplittable tiny parquet inputs are
repartitioned to the session's core count (optimization guide §2.5).

The driver test data is ONE row group per table, so without the spread
every scan-side pipeline runs on a single task regardless of
``spark.sql.files.maxPartitionBytes`` (measured on d2: the whole 1.36M-md5
signature pass on 1 of 32 cores).  The spread must:

* fire only when the file's effective parallelism (min of byte-range
  splits and row groups) is below ``defaultParallelism``;
* skip near-empty tables (fewer rows than ~4/core) where the exchange
  costs more than it feeds;
* honor the ``spark.dataclod.spreadSmallScans=false`` kill switch;
* never change values (the oracle sweep proves that part).
"""

from __future__ import annotations

import pytest

from conftest import SF_CORRECT, SF_SMOKE

from dataclod_spark.registry import _parse_bytes, load


def test_parse_bytes_forms():
    assert _parse_bytes("134217728") == 128 * 1024 * 1024
    assert _parse_bytes("128m") == 128 * 1024 * 1024
    assert _parse_bytes("128MB") == 128 * 1024 * 1024
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes(" 4k ") == 4096
    assert _parse_bytes("512b") == 512


def test_spread_fires_on_small_single_rowgroup_table(spark):
    cores = spark.sparkContext.defaultParallelism
    if cores <= 1:
        pytest.skip("single-core session: spread intentionally disabled")
    df = load(spark, SF_SMOKE, "documents")  # 500 rows, 1 row group
    assert df.rdd.getNumPartitions() == cores
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange roundrobinpartitioning" in plan.lower().replace(
        "exchange roundrobin", "exchange roundrobin"
    ) or "RoundRobinPartitioning" in plan


def test_spread_skips_near_empty_tables(spark):
    # nation: 25 rows — fewer than 4 rows/core on any realistic session
    df = load(spark, SF_SMOKE, "nation")
    assert df.rdd.getNumPartitions() == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_spread_kill_switch(spark):
    spark.conf.set("spark.dataclod.spreadSmallScans", "false")
    try:
        df = load(spark, SF_SMOKE, "documents")
        assert df.rdd.getNumPartitions() == 1
    finally:
        spark.conf.unset("spark.dataclod.spreadSmallScans")


def test_spread_values_unchanged(spark):
    base = load(spark, SF_SMOKE, "documents").select("doc_id")
    spark.conf.set("spark.dataclod.spreadSmallScans", "false")
    try:
        off = load(spark, SF_SMOKE, "documents").select("doc_id")
        assert sorted(r.doc_id for r in base.collect()) == sorted(
            r.doc_id for r in off.collect()
        )
    finally:
        spark.conf.unset("spark.dataclod.spreadSmallScans")


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_measured_opt_outs_stay_unspread(spark):
    """Negative pins for the r11/r12 MEASURED spread decisions (r11 verdict
    item 9): a future blanket change to the spread default must not
    silently re-regress the call sites that measured a LOSS.  g1 (one
    cheap UDF then agg), g21 (shuffles immediately), x1 (scan→project→
    sort), q18 (groupBy shuffles the scan output immediately — r12 cold
    one-shot A/B) must stay free of the round-robin scan spread; q1 is
    the positive control (its opt-in measured a 1.4× steady win)."""
    cores = spark.sparkContext.defaultParallelism
    if cores <= 1:
        pytest.skip("single-core session: spread intentionally disabled")
    from dataclod_spark.registry import load_all_queries

    reg = load_all_queries()
    # sf0.01: row counts clear the >= 4 rows/core guard, so an unwanted
    # spread WOULD fire here if the opt-out regressed (at sf0.001 the
    # guard alone suppresses it and the pin would be vacuous)
    sf = SF_CORRECT
    for name in (
        "g1_covers_count",
        "g21_zorder_layout",
        "x1_token_stats",
        "q18_large_volume_customer",
    ):
        plan = _physical_plan(reg[name].fn(spark, sf))
        assert "roundrobinpartitioning" not in plan.lower(), name
    assert "roundrobinpartitioning" in _physical_plan(
        reg["q1_pricing_summary"].fn(spark, sf)
    ).lower()


def test_scan_layout_from_footers(spark, tmp_path):
    """Rows and splits come from the footers of local parquet files; any
    other input (no files, a remote URI, another format) is unknown."""
    from dataclod_spark.registry import scan_layout

    events = load(spark, SF_SMOKE, "events")
    layout = scan_layout(spark, events.inputFiles())
    assert layout.rows == events.count() and layout.splits == layout.byte_splits == 1
    (tmp_path / "t.csv").write_text("a\n1\n")
    assert scan_layout(spark, []) is None
    assert scan_layout(spark, ["s3a://bucket/t.parquet"]) is None
    assert scan_layout(spark, [(tmp_path / "t.csv").as_uri()]) is None
