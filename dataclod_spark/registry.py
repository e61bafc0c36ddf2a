"""Central query registry — the engine's operator inventory surface.

Every implemented operator/query from SURVEY.md §2 registers here as a
``QueryDef``: a Spark implementation ``(spark, sf_dir) -> DataFrame`` plus
(where SQL-expressible) an ANSI-SQL oracle string that DuckDB can run on the
same parquet tables.  ``__spark_entry__.py`` exposes this registry to the
driver; ``bench.py`` times a headline subset.

Column-name discipline: every computed column is aliased identically in the
Spark plan and the oracle SQL (the driver's compare sorts columns by name
before value-hashing).  Floating aggregates are rounded on BOTH sides to make
the value-hash robust to summation order.
"""

from __future__ import annotations

import functools
import json
import os
import stat
from dataclasses import dataclass, field
from typing import Callable, NamedTuple, Optional
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

SparkQuery = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, "QueryDef"] = {}


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: SparkQuery
    oracle: Optional[str]
    doc: str = ""
    bench: bool = False  # include in bench.py headline set


def query(
    name: str,
    oracle: Optional[str] = None,
    doc: str = "",
    bench: bool = False,
) -> Callable[[SparkQuery], SparkQuery]:
    """Register a query implementation under ``name``."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QueryDef(name=name, fn=fn, oracle=oracle, doc=doc, bench=bench)
        return fn

    return deco


# Tables whose pipelines are dominated by NARROW per-row compute (shingling/
# hashing, vector math) — for these, an unsplittable scan serializes seconds
# of work onto one core and the spread's extra exchange pays for itself many
# times over (measured: d2 3.85 s → 0.62 s steady; full 88-query A/B in
# plans/r11/ab_registry_full.log).  Relational/event tables shuffle or
# broadcast right after the scan, so the spread's extra exchange is pure
# stage overhead there (measured: blanket spread regressed
# q3/q5/q9/q13/q18/w1/e1/j2/a2 by 1.3–2×).  Call sites override either way
# where the A/B measured the opposite of their table's default (25
# ``spread=False`` opt-outs — sampling gates, media mapInArrow pipelines,
# profile/merge-loop queries — and the q1/q18 ``spread=True`` opt-ins).
_SPREAD_TABLES = frozenset({"documents", "embeddings"})


# session confs that change what a parquet footer infers as; the memo of
# parquet_schema is keyed by their values
_SCHEMA_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
)
_SCHEMAS: dict[tuple, StructType] = {}


def parquet_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` infers for one local parquet
    FILE, read from its footer on the driver: no Spark job.

    Inference reads the same footer inside a Spark job, one per
    ``read.parquet`` (1.9 s cold, 0.1 s warm on a driver table); a reader
    given the schema runs none — Spark SQL's data-source contract (a
    relation that knows its schema skips inference) and Dremel's reuse of
    file metadata.  The footer goes through Spark's own
    ``ParquetFileFormat.readSchemaFromFooter`` (so a Spark-written file's
    ``org.apache.spark.sql.parquet.row.metadata`` schema wins) on a copy of
    the session conf with ``legacy.parquet.nanosAsLong=true``: a
    TIMESTAMP(NANOS) column is pinned as LongType, which the reader then
    returns as longs whatever that conf says in the session.  Memoized by
    the file's ``(abspath, mtime_ns, size)`` and the ``_SCHEMA_CONFS``
    values.  ``None`` for anything that is not a local file (a directory
    of part files, a remote URI): read those with inference.
    """
    path = os.path.abspath(path)
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    conf = spark._jsparkSession.sessionState().conf()
    key = (path, st.st_mtime_ns, st.st_size, *(conf.getConfString(k) for k in _SCHEMA_CONFS))
    schema = _SCHEMAS.get(key)
    if schema is None:
        jvm = spark._jvm
        nanos_conf = conf.clone()
        nanos_conf.setConfString("spark.sql.legacy.parquet.nanosAsLong", "true")
        parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            spark._jsparkSession.sessionState().newHadoopConf(),
            jpath,
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
        )
        jschema = parquet.ParquetFileFormat.readSchemaFromFooter(
            jvm.org.apache.parquet.hadoop.Footer(jpath, footer),
            parquet.ParquetToSparkSchemaConverter(nanos_conf),
        )
        # a file relation's columns are nullable whatever the footer says
        schema = _SCHEMAS[key] = StructType.fromJson(json.loads(jschema.asNullable().json()))
    return schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema pinned from the footer
    (see :func:`parquet_schema`) when ``path`` is a local file."""
    schema = parquet_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def load(
    spark: SparkSession, sf_dir: str, table: str, spread: bool | None = None
) -> DataFrame:
    """Read one driver parquet table (column-pruned, filter-pushdown capable).

    The schema is pinned from the footer (:func:`read_parquet`), so
    construction runs no Spark job.  ``events.ts`` may be written as
    parquet TIMESTAMP(NANOS), which Spark does not read natively: pinned
    as long nanos it is converted to micros (matching DuckDB's
    truncation); a micros column keeps its timestamp type.  Session
    timezone is pinned to UTC — the driver may call queries with its own
    SparkSession, not one from ``get_spark``, and timestamp semantics
    must not depend on the host timezone.

    ``spread`` — repartition an unsplittable small scan to the session's
    core count (see :func:`_spread_unsplittable_scan`).  ``None`` applies
    the measured per-table default (payload tables yes, relational no);
    call sites override either way where they measured differently.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{table}.parquet"
    df = read_parquet(spark, path)
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for f in df.schema.fields:
        if isinstance(f.dataType, T.LongType) and f.name == "ts" and table == "events":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # session override: "false" = never spread, "always" = every table,
    # "auto" (default) = per-table default + call-site overrides
    try:
        mode = spark.conf.get("spark.dataclod.spreadSmallScans", "auto")
    except Exception:
        mode = "auto"
    if mode == "false":
        spread = False
    elif mode == "always":
        spread = True
    elif spread is None:
        spread = table in _SPREAD_TABLES
    if spread:
        df = _spread_unsplittable_scan(spark, df, path)
    return df


def _parse_bytes(v: str) -> int:
    """Spark byte-string (``134217728`` / ``128m`` / ``1g``) → bytes."""
    s = v.strip().lower().removesuffix("b")
    for suf, mult in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40)):
        if s.endswith(suf):
            return int(float(s[:-1]) * mult)
    return int(s)


@functools.lru_cache(maxsize=1024)
def _parquet_layout(path: str, mtime_ns: int, size: int) -> tuple[int, int] | None:
    """(row_groups, rows) for one parquet FILE, from the footer only;
    ``None`` when it is not a readable parquet file.

    Cached by the file's ``(path, mtime_ns, size)``: ``load`` and the
    spatial join's spread run per query construction, and re-reading the
    same footer hundreds of times per bench would be driver-side waste
    (guide §5).  Planning metadata, not results.
    """
    try:
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(path).metadata
        return meta.num_row_groups, meta.num_rows
    except Exception:
        return None


class ScanLayout(NamedTuple):
    rows: int
    # scan tasks that get rows: a task reads a row group iff the group's
    # start offset falls inside its byte-range split
    splits: int
    byte_splits: int


def scan_layout(spark: SparkSession, files: list[str]) -> ScanLayout | None:
    """Rows and scan splits of a set of parquet files (a DataFrame's
    ``inputFiles()``), read from their footers on the driver: no Spark job.

    ``splits`` = Σ min(row groups, ⌈bytes / maxPartitionBytes⌉) per file,
    ``byte_splits`` the byte-range term alone.  ``None`` when the layout is
    unknown: no files, or one that is not a local parquet file (a remote
    URI, another format).
    """
    if not files:
        return None
    max_bytes = _parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    rows = splits = byte_splits = 0
    for f in files:
        uri = urlparse(f)
        if uri.scheme not in ("", "file"):
            return None
        path = unquote(uri.path) if uri.scheme else f
        try:
            st = os.stat(path)
        except OSError:
            return None
        if not stat.S_ISREG(st.st_mode):
            return None
        layout = _parquet_layout(path, st.st_mtime_ns, st.st_size)
        if layout is None:
            return None
        row_groups, n = layout
        b = max(1, -(-st.st_size // max_bytes))
        rows += n
        splits += min(row_groups, b)
        byte_splits += b
    return ScanLayout(rows, splits, byte_splits)


def _spread_unsplittable_scan(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Repartition a scan whose parquet layout caps its parallelism below the
    session's core count (optimization guide §2.5 "input skew: one huge
    unsplittable file ... repartition immediately after the read").

    A parquet ROW GROUP is the unit of split assignment (see
    :func:`scan_layout`), so a file with fewer row groups than the session
    has cores runs its whole scan-side pipeline on that few tasks no matter
    what ``spark.sql.files.maxPartitionBytes`` says.  The driver test data
    is written as ONE row group per table — measured on d2 (5000 docs,
    1.36M md5 calls): the entire signature pass ran on 1 of 32 cores.

    Scale-adaptive, not a local-mode constant: the decision compares the
    file's splits against ``defaultParallelism`` (which follows
    ``local[$SPARK_GRAFT_CPUS]`` and, on a cluster, the executor count), so
    production-sized inputs — many files, many row groups — never take the
    extra exchange, and the shuffle this adds for small inputs moves at
    most ``cores × maxPartitionBytes`` bytes.  An unreadable footer adds no
    exchange.  ``spark.dataclod.spreadSmallScans=false`` disables it.
    """
    try:
        cores = spark.sparkContext.defaultParallelism
        if cores <= 1:
            return df
        layout = scan_layout(spark, [path])
        if layout is None or layout.splits >= cores:
            return df
        # fewer rows than ~4/core: the exchange costs more than it feeds
        if layout.rows < 4 * cores:
            return df
    except Exception:
        return df
    return df.repartition(max(cores, layout.byte_splits))


def dsum(col, scale: int = 6):
    """Order-independent double sum: accumulate as exact DECIMAL, cast back.

    FP addition is not associative — Spark and DuckDB sum partitions in
    different orders, so ``round(sum(double), 2)`` can land on opposite sides
    of a cent boundary.  Casting each addend to DECIMAL(18,scale) makes the
    sum exact and order-independent; both engines then produce bit-identical
    doubles.  (The per-addend cast is itself deterministic: at scale 6 the
    products of 2-decimal source values are exactly representable, so the
    cast never sits on a rounding boundary.)
    The matching oracle spelling is
    ``CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE)``.
    """
    from pyspark.sql import functions as F

    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


def davg(col, scale: int = 6):
    """Order-independent double average (see dsum): exact sum / count."""
    from pyspark.sql import functions as F

    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double") / F.count(col)


def load_all_queries() -> dict[str, QueryDef]:
    """Import all query modules (populating REGISTRY) and return it."""
    import dataclod_spark.queries  # noqa: F401  (imports register queries)

    return REGISTRY
