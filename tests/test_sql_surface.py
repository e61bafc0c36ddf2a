"""COPY ... TO and CREATE EXTERNAL TABLE shims (inherited DataFusion
surface, SURVEY §2.B DDL/DML: context.rs:49-52 default features)."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from conftest import SF_SMOKE


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="dataclod_sql_surface_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _register_nation(engine):
    engine.spark.read.parquet(f"{SF_SMOKE}/nation.parquet").createOrReplaceTempView(
        "sql_surface_nation"
    )


def test_copy_query_to_parquet_roundtrip(engine, tmpdir):
    _register_nation(engine)
    out = engine.sql(
        f"COPY (SELECT n_nationkey, n_name FROM sql_surface_nation WHERE n_regionkey = 0) "
        f"TO '{tmpdir}/nat_parquet' (FORMAT PARQUET)"
    ).collect()
    n = out[0]["count"]
    assert n > 0
    back = engine.spark.read.parquet(f"{tmpdir}/nat_parquet")
    assert back.count() == n
    assert set(back.columns) == {"n_nationkey", "n_name"}


def test_copy_table_to_csv_with_header(engine, tmpdir):
    _register_nation(engine)
    engine.sql(
        f"COPY sql_surface_nation TO '{tmpdir}/nat_csv' (FORMAT CSV, HEADER)"
    ).collect()
    back = (
        engine.spark.read.option("header", "true")
        .option("inferSchema", "true")
        .csv(f"{tmpdir}/nat_csv")
    )
    src = engine.spark.table("sql_surface_nation")
    assert back.count() == src.count()
    assert set(back.columns) == set(src.columns)


def test_create_external_table_parquet(engine, tmpdir):
    _register_nation(engine)
    engine.sql(
        f"COPY sql_surface_nation TO '{tmpdir}/ext_parquet' (FORMAT PARQUET)"
    ).collect()
    engine.sql(
        f"CREATE EXTERNAL TABLE ext_nation STORED AS PARQUET "
        f"LOCATION '{tmpdir}/ext_parquet'"
    )
    got = engine.sql(
        "SELECT count(*) AS n FROM ext_nation WHERE n_regionkey >= 0"
    ).collect()[0]["n"]
    want = engine.spark.table("sql_surface_nation").count()
    assert got == want


def test_create_external_table_csv_with_schema_and_header(engine, tmpdir):
    _register_nation(engine)
    engine.sql(
        f"COPY sql_surface_nation TO '{tmpdir}/ext_csv' (FORMAT CSV, HEADER)"
    ).collect()
    engine.sql(
        f"CREATE EXTERNAL TABLE ext_nation_csv "
        f"(n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT) "
        f"STORED AS CSV WITH HEADER ROW LOCATION '{tmpdir}/ext_csv'"
    )
    df = engine.spark.table("ext_nation_csv")
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint",
        "string",
        "bigint",
    ]
    assert df.count() == engine.spark.table("sql_surface_nation").count()


def test_copy_unsupported_format_errors(engine, tmpdir):
    _register_nation(engine)
    with pytest.raises(ValueError, match="unsupported format"):
        engine.sql(f"COPY sql_surface_nation TO '{tmpdir}/x' (FORMAT ORCISH)")


def test_explain_plain_statement(engine):
    rows = engine.sql("EXPLAIN SELECT 1 AS x").collect()
    assert len(rows) == 1 and "Physical Plan" in rows[0]["plan"]


def test_explain_analyze_executes_and_reports(engine):
    rows = engine.sql("EXPLAIN ANALYZE SELECT count(*) AS n FROM range(10)").collect()
    assert len(rows) == 1 and "Physical Plan" in rows[0]["plan"]


def test_explain_spatial_join_shows_dispatched_plan(spark):
    """EXPLAIN of a SQL spatial join must print the dispatched grid
    equi-join, not the BroadcastNestedLoopJoin Spark would natively plan."""
    from pyspark.sql import functions as F

    from dataclod_spark.operators.spatial_join import envelope_wkb, point_wkb
    from dataclod_spark.session import EngineSession

    from conftest import SF_SMOKE
    from dataclod_spark.registry import load

    sess = EngineSession(spark)
    e = load(spark, SF_SMOKE, "events")
    e.select(
        F.col("event_id").alias("pid"),
        point_wkb((F.col("event_id") % 89).cast("double"), (F.col("user_id") % 43).cast("double")).alias("geom"),
    ).createOrReplaceTempView("expl_points")
    e.filter(F.col("event_id") % 50 == 0).select(
        F.col("event_id").alias("bid"),
        envelope_wkb(
            (F.col("event_id") % 97).cast("double"),
            (F.col("user_id") % 41).cast("double"),
            (F.col("event_id") % 97 + 3).cast("double"),
            (F.col("user_id") % 41 + 2).cast("double"),
        ).alias("geom"),
    ).createOrReplaceTempView("expl_boxes")
    rows = sess.sql(
        "EXPLAIN SELECT count(*) AS n FROM expl_points p "
        "JOIN expl_boxes b ON ST_Intersects(p.geom, b.geom)"
    ).collect()
    plan = rows[0]["plan"]
    assert "BroadcastNestedLoopJoin" not in plan


def test_explain_copy_to_is_side_effect_free(engine, tmp_path):
    """EXPLAIN COPY ... TO must not execute the write (plan-only)."""
    target = tmp_path / "explain_copy_out"
    rows = engine.sql(
        f"EXPLAIN COPY (SELECT 1 AS x) TO '{target}' (FORMAT PARQUET)"
    ).collect()
    assert len(rows) == 1 and "Engine Shim" in rows[0]["plan"]
    assert not target.exists()


def test_explain_set_does_not_mutate_config(engine):
    key = "spark.sql.shuffle.partitions"
    before = engine.spark.conf.get(key)
    engine.sql(f"EXPLAIN SET {key} = 1")
    assert engine.spark.conf.get(key) == before
