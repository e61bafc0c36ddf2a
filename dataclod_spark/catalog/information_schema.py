"""information_schema emulation over the session catalog.

The reference enables DataFusion's information_schema
(``core/src/context.rs:33`` — ``with_information_schema(true)``), serving
``information_schema.tables`` / ``columns`` / ``schemata`` to BI-tool
introspection over pgwire.  DataFusion builds each of these from the
providers' stored schemas and runs no query to do it.  Spark has catalog
APIs but no SQL-visible information_schema, so this module materializes
the standard views and ``EngineSession.sql`` rewrites schema-qualified
references to them.

The views are rebuilt on use (see ``EngineSession.sql``), and only the
views the statement names: Spark temp views are snapshots, so a
just-registered or replaced table must trigger a refresh to appear.  A
rebuild runs no Spark job.  PySpark's catalog ``listTables`` /
``listColumns`` would: they walk their result Dataset with
``toLocalIterator``, one job per partition, so a rebuild that called
``listColumns`` per view ran ~90 jobs for two dozen views.  Here the
names come from ``SHOW TABLES`` (a command whose result is already on
the driver), a table's type from ``catalog.getTable`` and its columns
from the JVM catalog's column list collected whole (``_columns``); the
rows become a ``LocalTableScan`` (``local_frame``).
"""

from __future__ import annotations

from typing import Collection

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from dataclod_spark.session import local_frame

INFORMATION_SCHEMA_VIEWS = ("tables", "columns", "schemata")


def _strings(*names: str) -> list[T.StructField]:
    return [T.StructField(n, T.StringType()) for n in names]


_TABLES_SCHEMA = T.StructType(
    _strings("table_catalog", "table_schema", "table_name", "table_type")
)
_COLUMNS_SCHEMA = T.StructType(
    _strings("table_catalog", "table_schema", "table_name", "column_name")
    + [T.StructField("ordinal_position", T.LongType())]
    + _strings("column_default", "is_nullable", "data_type")
)
_SCHEMATA_SCHEMA = T.StructType(_strings("catalog_name", "schema_name", "schema_owner"))


def _quoted(*parts: str) -> str:
    return ".".join("`" + p.replace("`", "``") + "`" for p in parts if p)


def _columns(spark: SparkSession, qualified: str) -> list[tuple[str, bool, str]]:
    """(name, nullable, declared type) of each column of a table or view,
    as the catalog stores them (a view whose table was dropped still
    lists; ``varchar(10)`` stays ``varchar(10)``).  The JVM catalog's
    column list is a local relation: collected whole it runs no job,
    where PySpark's ``listColumns`` walks it with ``toLocalIterator``."""
    try:
        listed = DataFrame(spark._jsparkSession.catalog().listColumns(qualified), spark).collect()
    except AnalysisException:
        return []  # gone since SHOW TABLES — still listed in tables
    return [(c.name, c.nullable, c.dataType) for c in listed]


def register_information_schema(
    spark: SparkSession, views: Collection[str] = INFORMATION_SCHEMA_VIEWS
) -> None:
    """(Re)build the ``information_schema_{view}`` temp views named in
    ``views`` from the live catalog state (DataFusion column layout).
    The pg_catalog views are built first, so they are always listed."""
    from dataclod_spark.catalog.pg_catalog import PG_CATALOG_TABLE_NAMES, register_pg_catalog

    register_pg_catalog(spark)
    cat = "datafusion"  # the reference's default catalog name
    listed = []  # (table_schema, table_name, qualified name, temporary)
    for namespace, name, is_temp in spark.sql("SHOW TABLES").collect():
        if name.startswith("information_schema_") or name.startswith("__"):
            continue
        qualified = _quoted(namespace, name)
        bare = name[len("pg_catalog_"):]
        if name.startswith("pg_catalog_") and bare in PG_CATALOG_TABLE_NAMES:
            # our implementation spelling of a pg_catalog view (Spark temp
            # views can't be schema-qualified): surface it the way the
            # reference does — under table_schema='pg_catalog' with the
            # real name.  The bare pg_* alias stays under 'public' (the
            # reference registers both, catalog mod.rs:22-48).
            listed.append(("pg_catalog", bare, qualified, is_temp))
        else:
            # temp views have no namespace, and PG clients expect Spark's
            # default database as 'public'
            schema = namespace if namespace not in ("", "default") else "public"
            listed.append((schema, name, qualified, is_temp))
    if "tables" in views:
        tables = [
            (cat, schema, name,
             "VIEW" if temp or spark.catalog.getTable(q).tableType == "VIEW" else "BASE TABLE")
            for schema, name, q, temp in listed
        ]
        local_frame(spark, tables, _TABLES_SCHEMA).createOrReplaceTempView(
            "information_schema_tables"
        )
    if "columns" in views:
        columns = []
        for schema, name, q, _ in listed:
            columns.extend(
                (cat, schema, name, c, i, None, "YES" if nullable else "NO", dtype)
                for i, (c, nullable, dtype) in enumerate(_columns(spark, q), start=1)
            )
        local_frame(spark, columns, _COLUMNS_SCHEMA).createOrReplaceTempView(
            "information_schema_columns"
        )
    if "schemata" in views:
        # every schema a table row references must exist in schemata, or a
        # tables-to-schemata join drops rows in BI tools
        names = {"public", "information_schema", "pg_catalog"} | {s for s, _, _, _ in listed}
        schemata = [(cat, s, None) for s in sorted(names)]
        local_frame(spark, schemata, _SCHEMATA_SCHEMA).createOrReplaceTempView(
            "information_schema_schemata"
        )
