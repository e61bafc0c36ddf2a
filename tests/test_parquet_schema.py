"""Parquet schemas pinned from the footer (``registry.parquet_schema``).

Each pinned schema equals what ``spark.read.parquet`` infers with
``legacy.parquet.nanosAsLong=true``, and reading with it runs no Spark job.
"""

from __future__ import annotations

import datetime as dt
import decimal
import os

import pytest

pa = pytest.importorskip("pyarrow")
pq = pytest.importorskip("pyarrow.parquet")

NANOS = "spark.sql.legacy.parquet.nanosAsLong"
TS_NS = 1_704_067_201_123_456_789


@pytest.fixture()
def nanos_conf(spark):
    """Set ``nanosAsLong`` for one test: ``nanos_conf("false")``."""
    before = spark.conf.get(NANOS)

    def set_(value: str) -> None:
        spark.conf.set(NANOS, value)

    yield set_
    spark.conf.set(NANOS, before)


def _pyarrow_tables() -> dict:
    return {
        "nanos_utc": pa.table({"ts": pa.array([TS_NS, None], pa.timestamp("ns", tz="UTC"))}),
        "nanos_naive": pa.table({"ts": pa.array([TS_NS, None], pa.timestamp("ns"))}),
        "decimal": pa.table(
            {"d": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(18, 6))}
        ),
        "list_float": pa.table({"v": pa.array([[1.0, 2.5], None], pa.list_(pa.float32()))}),
        "micros_naive": pa.table(
            {"ts": pa.array([dt.datetime(2024, 1, 1, 0, 0, 1), None], pa.timestamp("us"))}
        ),
    }


def _spark_written_file(spark, tmp_path) -> str:
    """One Spark-written parquet file (it carries the row-metadata schema),
    with non-nullable, nested and char/varchar columns."""
    out = str(tmp_path / "spark_dir")
    spark.range(3).selectExpr(
        "id", "CAST(id AS INT) AS i", "array(CAST(id AS FLOAT)) AS a", "map('k', id) AS m",
        "named_struct('x', id) AS s", "CAST(id AS DECIMAL(10,2)) AS dd",
        "TIMESTAMP'2024-01-01 00:00:00' AS t", "CAST('a' AS VARCHAR(5)) AS vc",
    ).coalesce(1).write.parquet(out)
    (part,) = [e.path for e in os.scandir(out) if e.name.endswith(".parquet")]
    path = str(tmp_path / "spark.parquet")
    os.replace(part, path)
    return path


def test_pinned_schema_equals_inferred(spark, tmp_path, nanos_conf):
    from dataclod_spark.registry import parquet_schema

    nanos_conf("true")
    paths = []
    for name, table in _pyarrow_tables().items():
        paths.append(str(tmp_path / f"{name}.parquet"))
        pq.write_table(table, paths[-1])
    paths.append(_spark_written_file(spark, tmp_path))
    for path in paths:
        assert parquet_schema(spark, path) == spark.read.parquet(path).schema, path
    types = {os.path.basename(p): parquet_schema(spark, p).fields[0].dataType for p in paths}
    assert types["nanos_utc.parquet"].typeName() == "long"
    assert types["nanos_naive.parquet"].typeName() == "long"
    assert types["micros_naive.parquet"].typeName() == "timestamp_ntz"


def test_pinned_nanos_read_returns_longs_with_the_conf_off(spark, tmp_path, nanos_conf):
    from dataclod_spark.registry import read_parquet

    path = str(tmp_path / "nanos.parquet")
    pq.write_table(_pyarrow_tables()["nanos_utc"], path)
    nanos_conf("false")
    with pytest.raises(Exception, match="TIMESTAMP\\(NANOS"):
        spark.read.parquet(path).schema  # inference rejects the column
    assert [r.ts for r in read_parquet(spark, path).collect()] == [TS_NS, None]


def test_rewritten_file_misses_the_memo(spark, tmp_path):
    from dataclod_spark.registry import parquet_schema

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert parquet_schema(spark, path).fieldNames() == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert parquet_schema(spark, path).fieldNames() == ["a", "b"]
    assert parquet_schema(spark, path) == spark.read.parquet(path).schema


def test_directories_and_missing_paths_are_not_pinned(spark, tmp_path):
    from dataclod_spark.registry import parquet_schema

    spark.range(2).write.parquet(str(tmp_path / "dir"))
    assert parquet_schema(spark, str(tmp_path / "dir")) is None
    assert parquet_schema(spark, str(tmp_path / "missing.parquet")) is None


def test_load_runs_no_job(spark, tmp_path, nanos_conf):
    """``registry.load`` of a nanos ``events`` table and a spread payload
    table starts no Spark job, writes no nanos conf, and still converts
    nanos to micros timestamps."""
    from dataclod_spark.registry import load
    from dataclod_spark.testing import count_jobs

    pq.write_table(
        pa.table({
            "event_id": pa.array(range(64), pa.int64()),
            "ts": pa.array([TS_NS + i for i in range(64)], pa.timestamp("ns", tz="UTC")),
        }),
        str(tmp_path / "events.parquet"),
    )
    pq.write_table(pa.table({"doc_id": list(range(64))}), str(tmp_path / "documents.parquet"))
    nanos_conf("false")
    frames = {}
    for table in ("events", "documents"):
        def build(table=table):
            frames[table] = load(spark, str(tmp_path), table)

        assert count_jobs(spark, build) == 0
    assert spark.conf.get(NANOS) == "false"
    assert dict(frames["events"].dtypes)["ts"] == "timestamp"
    first = frames["events"].orderBy("event_id").selectExpr("CAST(ts AS STRING) AS s").first()
    assert first.s == "2024-01-01 00:00:01.123456"  # load pins the session zone to UTC
