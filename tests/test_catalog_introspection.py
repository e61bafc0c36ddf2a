"""Catalog introspection runs no Spark job and no Python worker.

pg_catalog and information_schema views are ``LocalTableScan`` plans built
from job-free metadata reads; their rows and schemas are pinned by
``tests/data/catalog_golden.json`` for a fixed set of views.  Re-record
the golden file (only when a change of the catalog surface is intended)
with ``python tests/test_catalog_introspection.py``.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

import pytest

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "catalog_golden.json")
PREFIX = "zz_cat_"


def _populate(spark, tmp: str) -> None:
    """A fixed catalog: temp views of many column types, a parquet-backed
    view, a SQL view, a view whose table was dropped, hidden and
    pg_catalog_-prefixed names, and a persistent table with char/varchar
    columns, a temp view over it and a persistent view."""
    spark.sql("SELECT 1 AS a, 'x' AS b, CAST(NULL AS DOUBLE) AS c").createOrReplaceTempView(
        PREFIX + "scalar"
    )
    spark.sql(
        "SELECT array(1, 2) AS arr, map('k', 1L) AS m, named_struct('x', 1, 'y', 'z') AS st, "
        "CAST(1.5 AS DECIMAL(18,6)) AS dec, DATE'2024-01-01' AS d, "
        "TIMESTAMP'2024-01-01 00:00:00' AS ts, TIMESTAMP_NTZ'2024-01-01 00:00:00' AS tsn, "
        "X'00' AS bin, true AS flag, CAST(1 AS SMALLINT) AS sm, CAST(1 AS FLOAT) AS fl"
    ).createOrReplaceTempView(PREFIX + "types")
    path = os.path.join(tmp, "p.parquet")
    spark.range(3).selectExpr("id", "CAST(id AS STRING) AS s").write.parquet(path)
    spark.read.parquet(path).createOrReplaceTempView(PREFIX + "parquet")
    spark.sql(f"CREATE TEMP VIEW {PREFIX}sql AS SELECT a, b FROM {PREFIX}scalar")
    spark.sql("SELECT 1 AS h").createOrReplaceTempView(f"__{PREFIX}hidden")
    spark.sql("SELECT 1 AS p").createOrReplaceTempView(f"pg_catalog_{PREFIX}custom")
    for table in ("tbl", "dep"):
        location = os.path.join(tmp, table)
        spark.range(2).selectExpr("CAST(id AS INT) AS k", "CAST(id AS STRING) AS v").write.parquet(
            location
        )
        spark.sql(
            f"CREATE TABLE default.{PREFIX}{table} (k INT, v VARCHAR(10), c CHAR(3)) "
            f"USING parquet LOCATION '{location}'"
        )
    spark.sql(f"CREATE VIEW default.{PREFIX}pview AS SELECT 1 AS one")
    spark.table(f"default.{PREFIX}tbl").createOrReplaceTempView(PREFIX + "over_tbl")
    spark.sql(f"CREATE TEMP VIEW {PREFIX}broken AS SELECT k FROM default.{PREFIX}dep")
    spark.sql(f"DROP TABLE default.{PREFIX}dep")


def _drop_persistent(spark) -> None:
    spark.sql(f"DROP TABLE IF EXISTS default.{PREFIX}tbl")
    spark.sql(f"DROP VIEW IF EXISTS default.{PREFIX}pview")


def _snapshot(engine) -> dict:
    """information_schema rows (this file's views and the pg_* views) and
    every pg_* view's schema and rows."""
    from dataclod_spark.catalog.pg_catalog import PG_CATALOG_TABLE_NAMES

    out = {}
    for view, order in (
        ("tables", "table_schema, table_name"),
        ("columns", "table_schema, table_name, ordinal_position"),
        ("schemata", "schema_name"),
    ):
        rows = engine.sql(f"SELECT * FROM information_schema.{view} ORDER BY {order}").collect()
        out[view] = [
            list(r) for r in rows
            if view == "schemata" or PREFIX in r.table_name or r.table_name.startswith("pg_")
        ]
    for name in PG_CATALOG_TABLE_NAMES:
        for alias in (name, f"pg_catalog_{name}"):
            df = engine.spark.table(alias)
            out[alias] = {
                "schema": json.loads(df.schema.json()),
                "rows": [list(r) for r in df.collect()],
            }
    return out


def _dumps(snap: dict) -> str:
    """The golden file's layout: one information_schema row per line."""
    items = [
        f"{json.dumps(k)}: [\n" + ",\n".join(f"  {json.dumps(r)}" for r in v) + "\n ]"
        if isinstance(v, list) else f"{json.dumps(k)}: {json.dumps(v)}"
        for k, v in snap.items()
    ]
    return "{\n " + ",\n ".join(items) + "\n}\n"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def iso(spark, tmp_path_factory):
    """An EngineSession on its own Spark session holding only the fixed
    catalog of ``_populate``."""
    from dataclod_spark.session import EngineSession

    engine = EngineSession(spark.newSession(), register_functions=False)
    _populate(engine.spark, str(tmp_path_factory.mktemp("catalog")))
    yield engine
    _drop_persistent(engine.spark)


def test_catalog_views_match_golden(iso):
    with open(GOLDEN) as f:
        golden = json.load(f)
    assert _snapshot(iso) == golden


def test_information_schema_build_runs_no_spark_job(iso):
    from dataclod_spark.catalog.information_schema import register_information_schema
    from dataclod_spark.testing import count_jobs

    assert count_jobs(iso.spark, lambda: register_information_schema(iso.spark)) == 0
    # and the statement itself: LocalTableScan collects on the driver
    stmt = "SELECT * FROM information_schema.tables"
    assert count_jobs(iso.spark, lambda: iso.sql(stmt).collect()) == 0


def test_catalog_views_are_local_table_scans(iso):
    from dataclod_spark.catalog.information_schema import (
        INFORMATION_SCHEMA_VIEWS,
        register_information_schema,
    )
    from dataclod_spark.catalog.pg_catalog import PG_CATALOG_TABLE_NAMES

    register_information_schema(iso.spark)
    names = [f"information_schema_{v}" for v in INFORMATION_SCHEMA_VIEWS]
    names += [p + n for n in PG_CATALOG_TABLE_NAMES for p in ("", "pg_catalog_")]
    for name in names:
        plan = _executed_plan(iso.spark.table(name))
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, (name, plan)
    for stmt in ("EXPLAIN SELECT 1", "EXPLAIN SET x = 1"):
        plan = _executed_plan(iso.sql(stmt))
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, (stmt, plan)


def test_statement_builds_only_the_views_it_names(iso):
    spark = iso.spark
    for v in ("tables", "columns", "schemata"):
        spark.catalog.dropTempView(f"information_schema_{v}")
    iso.sql("SELECT count(*) FROM information_schema.tables").collect()
    assert spark.catalog.tableExists("information_schema_tables")
    assert not spark.catalog.tableExists("information_schema_columns")
    assert not spark.catalog.tableExists("information_schema_schemata")
    # a name inside a string literal builds nothing
    iso.sql("SELECT 'information_schema.columns' AS s").collect()
    assert not spark.catalog.tableExists("information_schema_columns")


def _temp_views(spark) -> list[str]:
    return [r.tableName for r in spark.sql("SHOW TABLES").collect() if r.isTemporary]


def test_engine_session_construction_runs_no_job_and_builds_no_view(spark):
    from dataclod_spark.session import EngineSession
    from dataclod_spark.testing import count_jobs

    fresh = spark.newSession()
    assert _temp_views(fresh) == []
    assert count_jobs(fresh, lambda: EngineSession(fresh)) == 0
    assert _temp_views(fresh) == []


def test_pg_catalog_views_are_built_on_first_reference(spark, tmp_path):
    from dataclod_spark.catalog.pg_catalog import PG_CATALOG_TABLE_NAMES
    from dataclod_spark.session import EngineSession

    engine = EngineSession(spark.newSession(), register_functions=False)
    fresh = engine.spark
    # a name inside a string literal or a comment builds nothing
    engine.sql("SELECT 'pg_catalog.pg_type' AS a, 'pg_namespace' AS b -- pg_class").collect()
    assert _temp_views(fresh) == []
    # a bare name builds that view, under both spellings, and no other
    assert engine.sql("SELECT count(*) AS n FROM pg_namespace").collect()[0].n == 3
    assert sorted(_temp_views(fresh)) == ["pg_catalog_pg_namespace", "pg_namespace"]
    # qualified and implementation spellings
    engine.sql("SELECT * FROM pg_catalog.pg_type JOIN pg_catalog_pg_database ON true").collect()
    assert sorted(_temp_views(fresh)) == sorted(
        p + n for n in ("pg_type", "pg_namespace", "pg_database") for p in ("", "pg_catalog_")
    )
    # a COPY of a table goes through the same path
    copied = engine.sql(f"COPY pg_namespace TO '{tmp_path}/ns' (FORMAT parquet)")
    assert copied.collect()[0]["count"] == 3
    engine.sql(f"COPY pg_class TO '{tmp_path}/cls' (FORMAT parquet)")
    assert fresh.catalog.tableExists("pg_class")
    # information_schema lists all five, so it builds the rest first
    listed = {
        r.table_name
        for r in engine.sql(
            "SELECT table_name FROM information_schema.tables WHERE table_schema = 'pg_catalog'"
        ).collect()
    }
    assert listed == set(PG_CATALOG_TABLE_NAMES)


def test_replaced_view_shows_new_columns(iso):
    spark = iso.spark
    name = "replaced_view"

    def columns():
        return [
            r.column_name
            for r in iso.sql(
                "SELECT column_name FROM information_schema.columns "
                f"WHERE table_name = '{name}' ORDER BY ordinal_position"
            ).collect()
        ]

    try:
        spark.sql("SELECT 1 AS a").createOrReplaceTempView(name)
        assert columns() == ["a"]
        spark.sql("SELECT 1 AS x, 'y' AS y").createOrReplaceTempView(name)
        assert columns() == ["x", "y"]
    finally:
        spark.catalog.dropTempView(name)


def test_create_external_table_if_not_exists_runs_no_job(iso, tmp_path):
    from dataclod_spark.testing import count_jobs

    spark = iso.spark
    path = str(tmp_path / "ext.parquet")
    spark.range(2).write.parquet(path)
    iso.sql(f"CREATE EXTERNAL TABLE zz_ext STORED AS PARQUET LOCATION '{path}'")
    try:
        stmt = f"CREATE EXTERNAL TABLE IF NOT EXISTS zz_ext STORED AS PARQUET LOCATION '{path}'"
        assert count_jobs(spark, lambda: iso.sql(stmt)) == 0
    finally:
        spark.catalog.dropTempView("zz_ext")


def test_local_frame_round_trips_literals(spark):
    from pyspark.sql import types as T

    from dataclod_spark.session import local_frame

    schema = T.StructType(
        [T.StructField("s", T.StringType()), T.StructField("n", T.LongType(), False)]
    )
    rows = [("a'b\\c\nd ☃ \\'", 1), (None, 2**40), ("", -3), ("${env:HOME} \\${x}", 4)]
    df = local_frame(spark, rows, schema)
    assert df.schema == schema
    assert [tuple(r) for r in df.collect()] == rows
    empty = local_frame(spark, [], schema)
    assert empty.schema == schema and empty.collect() == []


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from dataclod_spark.session import EngineSession, get_spark

    session = get_spark(app_name="catalog_golden", shuffle_partitions=4,
                        extra_conf={"spark.ui.showConsoleProgress": "false"})
    engine = EngineSession(session.newSession(), register_functions=False)
    with tempfile.TemporaryDirectory() as tmp:
        _populate(engine.spark, tmp)
        try:
            snap = _snapshot(engine)
        finally:
            _drop_persistent(engine.spark)
    with open(GOLDEN, "w") as f:
        f.write(_dumps(snap))
    session.stop()
