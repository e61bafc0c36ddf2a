"""EngineSession — the engine's session shell around SparkSession.

Mirrors the reference's ``QueryContext`` (reference:
``src/core/src/context.rs:19-124``): a thin wrapper that owns the underlying
session, registers the custom function surface at construction (the
catalog views are built when a statement first names them), and provides
the SQL entry point with PostgreSQL-client compatibility shims:

* ``SET`` of variables outside the engine's namespace is swallowed and
  returns an empty result (``context.rs:110-124``),
* ``BEGIN`` / ``COMMIT`` / ``ROLLBACK`` (and ``START TRANSACTION``,
  ``END``, ``ABORT``) are accepted as no-ops
  (``src/server/src/postgres/handler.rs:43-64``),
* prepared-statement style parameters are supported via Spark's
  parameterized SQL (``handler.rs:134-144`` → ``spark.sql(sql, args=...)``).

Scale note: the session enables AQE (runtime re-planning, skew-join
handling, partition coalescing) so plans written here survive a 100 TB /
1000-executor deployment without hand-tuning.
"""

from __future__ import annotations

import re
from typing import Any, Iterable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Engine-owned configuration namespaces; SET on anything else is swallowed
# (reference context.rs:110-124 swallows non-datafusion/dataclod vars).
_ENGINE_SET_NAMESPACES = ("spark.", "dataclod.", "datafusion.")

_SET_RE = re.compile(r"^\s*SET\s+(?:SESSION\s+|LOCAL\s+)?([\w.]+)\s*(?:=|\s+TO\s+)\s*(.+?)\s*;?\s*$", re.IGNORECASE)
_TXN_RE = re.compile(r"^\s*(BEGIN|START\s+TRANSACTION|COMMIT|ROLLBACK|END|ABORT)(\s+(WORK|TRANSACTION))?\s*;?\s*$", re.IGNORECASE)
_EXPLAIN_RE = re.compile(
    r"^\s*EXPLAIN(?:\s+(?P<mode>ANALYZE|VERBOSE|EXTENDED|FORMATTED|CODEGEN|COST))?\s+(?P<body>.+)$",
    re.IGNORECASE | re.DOTALL,
)

def _positional_to_named(query: str, args) -> tuple[str, dict]:
    """``$n`` positional parameters → (``:__pN``-rewritten query, named
    dict), with the descriptive under-supply error.  Single source for
    both the main ``sql()`` path and the native-EXPLAIN branch."""
    from dataclod_spark.plans.rewrites import rewrite_dollar_params

    query, used = rewrite_dollar_params(query)
    vals = list(args)
    if used and used[-1] > len(vals):
        raise ValueError(
            f"query references ${used[-1]} but only {len(vals)} "
            "positional parameters were supplied"
        )
    return query, {f"__p{i}": vals[i - 1] for i in used}


def _splice_fragments(query: str, args) -> tuple[str, dict]:
    """Splice server-generated :class:`SqlFragmentParam` values (typed
    empty arrays etc.) into the query text — they have no
    ``spark.sql(args=…)`` representation — and return the remaining
    plain args."""
    from dataclod_spark.plans.rewrites import SqlFragmentParam, splice_named_params

    args = dict(args)
    frags = {k: v.fragment for k, v in args.items() if isinstance(v, SqlFragmentParam)}
    if frags:
        query = splice_named_params(query, frags)
        args = {k: v for k, v in args.items() if k not in frags}
    return query, args


# COPY (query|table) TO 'path' [(FORMAT fmt[, HEADER bool])]  — DataFusion /
# PostgreSQL export form (inherited surface, SURVEY §2.B DDL/DML)
_COPY_RE = re.compile(
    r"^\s*COPY\s+(?P<src>\(.*\)|[\w.\"]+)\s+TO\s+'(?P<path>[^']+)'"
    r"\s*(?:\(\s*FORMAT\s+(?P<fmt>\w+)\s*(?:,\s*HEADER\s*(?P<hdr>\w*))?\s*\)|"
    r"STORED\s+AS\s+(?P<fmt2>\w+))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

# CREATE EXTERNAL TABLE t [(cols)] STORED AS fmt [WITH HEADER ROW]
# LOCATION 'path'  — DataFusion DDL (context.rs:49-52 default features)
_EXT_TABLE_RE = re.compile(
    r"^\s*CREATE\s+EXTERNAL\s+TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>[\w\"]+)"
    r"\s*(?:\((?P<cols>[^)]*)\))?\s*STORED\s+AS\s+(?P<fmt>\w+)"
    r"\s*(?P<hdr>WITH\s+HEADER\s+ROW)?\s*LOCATION\s+'(?P<path>[^']+)'\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_EXT_FORMATS = {"parquet": "parquet", "csv": "csv", "json": "json", "avro": "avro"}

_PLAN_SCHEMA = T.StructType([T.StructField("plan", T.StringType())])

# stand-in value for a NOT NULL column in local_frame's placeholder row
_PLACEHOLDER = {"long": 0, "integer": 0, "string": ""}


def _sql_literal(v: Any) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        # Spark substitutes ${...} in SQL text, literals included; \{ reads as {
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'").replace("${", "$\\{") + "'"
    if isinstance(v, int) and not isinstance(v, bool):
        return str(v)
    raise TypeError(f"local_frame: no SQL literal for {type(v).__name__}")


def local_frame(spark: SparkSession, rows: Sequence[tuple], schema: T.StructType) -> DataFrame:
    """Driver-held ``rows`` as a DataFrame planned as a ``LocalTableScan``
    with exactly ``schema`` (nullability included).

    The rows are rendered as an inline ``VALUES`` table, so no Spark job
    and no Python worker ever touches them.  ``createDataFrame`` over a
    Python list parallelizes it into a PythonRDD instead: every scan of
    it is a ``Scan ExistingRDD`` that forks Python workers.  Arrow
    ``createDataFrame`` avoids the workers but pays Arrow's first-use
    cost on the driver, over a CPU-second at engine set-up.  One
    placeholder row, cut off by the ``LIMIT``, carries NULL in each
    nullable column and a plain value in the others, which gives every
    column the declared nullability and an empty ``rows`` its column
    types.
    """
    placeholder = tuple(None if f.nullable else _PLACEHOLDER[f.dataType.typeName()] for f in schema)
    values = ", ".join(f"({', '.join(map(_sql_literal, row))})" for row in [*rows, placeholder])
    cols = ", ".join(f"`{f.name}`" for f in schema)
    return spark.sql(f"SELECT * FROM VALUES {values} AS t({cols}) LIMIT {len(rows)}").to(schema)


# HotSpot logs to stdout by default: a dump's [warning][cds] lines would
# land after the program's last line of output
_JAVA_OPTIONS = "-Duser.timezone=UTC -XX:CICompilerCount=2 -Xlog:disable -Xlog:all=warning:stderr"


def get_spark(
    app_name: str = "dataclod_spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra_conf: Mapping[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with engine defaults.

    Defaults follow the scale guidance: AQE on (runtime re-plan + skew
    handling), Arrow enabled for the pandas-UDF slow path, UTC session
    timezone (the reference's timestamps are naive UTC, SURVEY.md §1.3).
    Local mode is sized from the host: one task slot per CPU this process
    may run on, and a driver heap of half the physical memory, at most
    24g.  ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM`` override
    both for a deployment.

    The driver JVM starts with ``-Duser.timezone=UTC
    -XX:CICompilerCount=2`` (one C1 and one C2 compiler thread), set as
    ``spark.driver.defaultJavaOptions``.  A deployment overrides either
    by passing its own ``spark.driver.extraJavaOptions`` in
    ``extra_conf`` (for example ``-XX:CICompilerCount=4``): Spark places
    those after the defaults, and the JVM keeps the last value.  HotSpot's
    own log lines go to stderr, never to the program's stdout.

    The driver JVM maps Spark's classes from a dynamic CDS archive
    (``dataclod_spark.jvm_cds``) instead of loading and verifying them.
    The archive is keyed by the ``java`` that ``spark-class`` runs (its
    ``libjvm.so`` included), ``SPARK_HOME``, the name, size and mtime of
    every jar in ``$SPARK_HOME/jars``, and ``spark.driver.extraClassPath``,
    and kept in ``${XDG_CACHE_HOME:-~/.cache}/dataclod_spark/cds/``, which
    must be the user's own, mode 0700.  The first launch per key dumps the
    archive at its JVM's exit; the next launch publishes it and maps it.
    The archive is used only when the conf directory
    (``$SPARK_CONF_DIR``, else ``$SPARK_HOME/conf``) holds nothing but
    ``*.template`` files: that launch runs with ``SPARK_CONF_DIR`` pointed
    at an empty directory beside the archive, since the JVM rejects a
    non-empty directory on an archived class path.  A deployment opts out
    with ``-Xshare:off`` in ``spark.driver.extraJavaOptions``; a caller
    naming ``SharedArchiveFile`` there brings its own archive.  A launch
    that fails with CDS flags is retried without them, and when that
    launch works the archive is deleted.
    """
    import os

    from pyspark import SparkContext

    from dataclod_spark import jvm_cds

    extra_conf = extra_conf or {}
    # a JVM is launched only when the process has no gateway to reach yet
    launches = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    cds = jvm_cds.plan(extra_conf) if launches else None
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        master = f"local[{cpus}]"
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if driver_mem is None:
        half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
        driver_mem = f"{min(half_mb, 24 * 1024)}m"
    builder = (
        builder.master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # pre-warmed worker daemon: numpy/pandas/pyarrow + geo modules are
        # imported once pre-fork instead of per worker (see warm_daemon.py)
        .config("spark.python.daemon.module", "dataclod_spark.warm_daemon")
        # driver testdata writes events.ts as TIMESTAMP(NANOS); read as long
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", driver_mem)
        # generated-class cache (static; Spark's default holds 100): one
        # pass over the bench queries compiles ~230 classes, so at 100 a
        # repeated query recompiles all of its own
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        .config("spark.ui.enabled", "false")
        # Default, not extra, JVM options: Spark puts a caller's
        # spark.driver.extraJavaOptions after these, so the caller's add to
        # them (HotSpot keeps an option's last value) instead of replacing
        # the time zone.  One C1 and one C2 compiler thread: with a single
        # C2 thread, methods that cool off leave its queue uncompiled, which
        # cuts cold compile CPU, while code that stays hot still reaches C2
        # (SCALE.md, "JVM compile policy").  C1 only
        # (-XX:TieredStopAtLevel=1) is not used: it doubles steady time at
        # sf0.1.
        .config("spark.driver.defaultJavaOptions", _JAVA_OPTIONS)
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    if cds is None:
        spark = builder.getOrCreate()
    else:
        try:
            with cds.launching():
                spark = builder.config(
                    "spark.driver.defaultJavaOptions", f"{_JAVA_OPTIONS} {cds.java_options}"
                ).getOrCreate()
        except Exception:
            if SparkContext._gateway is not None:
                raise
            cds.abandon()
            spark = builder.config("spark.driver.defaultJavaOptions", _JAVA_OPTIONS).getOrCreate()
            cds.refused()
        else:
            if cds.claim:
                cds.started(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    spark.sparkContext.setLogLevel("WARN")
    return spark


class _BBoxMeta:
    """Bbox SQL expressions registered for a view's geometry column."""

    __slots__ = ("xmin", "ymin", "xmax", "ymax", "exact")

    def __init__(self, xmin: str, ymin: str, xmax: str, ymax: str, exact: bool) -> None:
        self.xmin = xmin
        self.ymin = ymin
        self.xmax = xmax
        self.ymax = ymax
        self.exact = exact

    @property
    def bbox(self) -> tuple:
        """The bbox operand ``spatial_join`` takes: the four expressions
        and the exactness flag, all SQL."""
        return (self.xmin, self.ymin, self.xmax, self.ymax, "true" if self.exact else "false")


class EngineSession:
    """Engine session: SparkSession + registered custom surface.

    Construction registers the compat UDFs, then the spatial function
    library (the reference's context construction,
    ``src/core/src/context.rs:32-67``, also registers its catalog there).
    It runs no Spark job and creates no temp view: the pg_catalog and
    information_schema views are built by ``sql`` when a statement first
    names them, so a batch that never introspects never builds them.
    """

    def __init__(
        self,
        spark: SparkSession | None = None,
        register_functions: bool = True,
    ) -> None:
        self.spark = spark or get_spark()
        self._swallowed_sets: dict[str, str] = {}
        # grid cell budget for SQL-dispatched spatial joins
        # (plans/spatial_dispatch.py); None = adapt to the bbox sample's
        # statistics (operators.spatial_join.auto_cell_target) ≈ the
        # reference sizing partitions from collected GeoStatistics
        self.spatial_join_cells: int | None = None
        # (table, geom_col, cells) -> _Grid: skips the bbox sampling pass on
        # repeated SQL spatial joins over the same relation (the reference
        # re-derives per query; safe to cache — a stale grid only affects
        # cell balance, never correctness, since out-of-extent bboxes clamp
        # to border cells).  Cleared with clear_spatial_grid_cache().
        self._grid_cache: dict[tuple[str, str, int], object] = {}
        # view -> (geom_col -> _BBoxMeta): registered bbox expressions for
        # SQL spatial-join dispatch (see register_bbox).
        self._bbox_meta: dict[str, dict[str, "_BBoxMeta"]] = {}
        if register_functions:
            from dataclod_spark.functions.pgcompat import register_pgcompat_functions
            from dataclod_spark.functions.spatial import register_spatial_functions
            from dataclod_spark.sources.scans import register_scan_udtfs

            register_pgcompat_functions(self.spark)
            register_spatial_functions(self.spark)
            register_scan_udtfs(self.spark)

    # -- table loading -----------------------------------------------------
    def load_tables(self, sf_dir: str, tables: Iterable[str] = TABLES) -> None:
        """Register the driver parquet tables as temp views, each with its
        schema pinned from the footer (no inference job)."""
        from dataclod_spark.registry import read_parquet

        for name in tables:
            path = f"{sf_dir}/{name}.parquet"
            try:
                read_parquet(self.spark, path).createOrReplaceTempView(name)
            except Exception:  # table missing at this sf — skip
                pass

    def clear_spatial_grid_cache(self) -> None:
        """Drop cached spatial-join grids (call after replacing a temp view
        whose data extent changed significantly)."""
        self._grid_cache.clear()

    def register_bbox(
        self,
        view: str,
        geom_col: str,
        xmin: str,
        ymin: str,
        xmax: str,
        ymax: str,
        exact: bool = False,
    ) -> None:
        """Declare bbox SQL expressions for a view's geometry column.

        The SQL spatial-join dispatch (plans/spatial_dispatch.py) then
        derives each row's bbox with pure codegen expressions instead of
        the ``__st_bbox`` pandas UDF — zero Python in the bbox pass, and
        the grid sample becomes a plain JVM aggregate.  ``exact=True``
        asserts every geometry equals its own bbox (points / axis-aligned
        rectangles); when BOTH join sides are exact the refine stage is
        dropped too and the whole join runs JVM-side (the analogue of the
        reference's point/rect refinement fast paths).

        This is the Spark-side stand-in for GeoParquet/Parquet GeoStats
        covering columns: at 100 TB the bbox would come from the file
        metadata or a materialized column, never a per-row Python parse.
        """
        self._bbox_meta.setdefault(view.lower(), {})[geom_col.lower()] = _BBoxMeta(
            xmin=xmin, ymin=ymin, xmax=xmax, ymax=ymax, exact=bool(exact)
        )

    def bbox_meta(self, view: str, geom_col: str):
        """Registered bbox metadata for (view, geometry column), or None."""
        return self._bbox_meta.get(view.lower(), {}).get(geom_col.lower())

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    # -- SQL entry point ---------------------------------------------------
    def sql(
        self,
        query: str,
        args: Mapping[str, Any] | Sequence[Any] | None = None,
    ) -> DataFrame:
        """SQL entry with pg-compat shims (SET swallow, txn no-ops).

        Equivalent of ``QueryContext::sql`` (context.rs:69-79) with the
        statement interception done by the pgwire handler
        (handler.rs:43-64) and execute_logical_plan (context.rs:110-124).

        ``args`` may be a mapping for named ``:name`` parameters, or a
        sequence for PostgreSQL-style positional ``$1..$n`` placeholders
        (``parser.rs:31-44`` parity): ``sql("... WHERE a > $1", [10])``.
        """
        # single trailing statement terminator: harmless to Spark but it
        # defeats the $-anchored dispatch/shim regexes below
        from dataclod_spark.plans.sqltext import split_top

        query = query.strip()
        pieces = split_top(query, ";")
        if len(pieces) == 2 and not pieces[1]:
            query = pieces[0].rstrip()
        if _TXN_RE.match(query):
            # BEGIN/COMMIT/ROLLBACK accepted as no-ops returning empty result
            return self.spark.range(0).select()
        m = _EXPLAIN_RE.match(query)
        if m:
            # EXPLAIN [mode] <stmt>: plan the body through the full shim
            # pipeline (so an explained spatial join shows the DISPATCHED
            # grid plan, not the nested-loop fallback Spark's native
            # EXPLAIN would print) and return the plan as a 1-row result,
            # matching Spark SQL's `plan` column shape.  ANALYZE executes
            # the body first (run-then-report, reference README's
            # `EXPLAIN ANALYZE` usage); Spark has no per-operator timing
            # surface here, so the plan text is the formatted plan.
            mode = (m.group("mode") or "formatted").lower()
            body = m.group("body")
            # shim statements (COPY TO / SET / CREATE EXTERNAL TABLE /
            # txn no-ops) EXECUTE eagerly in self.sql — EXPLAIN must not
            # trigger those side effects (non-ANALYZE is plan-only), so
            # describe them instead of running them
            for shim_re, tag in (
                (_COPY_RE, "COPY ... TO (engine shim: distributed write)"),
                (_EXT_TABLE_RE, "CREATE EXTERNAL TABLE (engine shim: view registration)"),
                (_SET_RE, "SET (engine shim: session config)"),
                (_TXN_RE, "transaction control (engine shim: no-op)"),
            ):
                if shim_re.match(body):
                    if mode == "analyze":
                        self.sql(body, args)  # ANALYZE = run-then-report
                    return local_frame(
                        self.spark, [(f"== Engine Shim ==\n{tag}; no Spark plan",)], _PLAN_SCHEMA
                    )
            # DML/DDL bodies also EXECUTE eagerly in self.sql — plain
            # EXPLAIN INSERT must not insert (PG: only ANALYZE executes).
            # Spark's native ExplainCommand plans any statement without
            # running it, so delegate; the dispatched-spatial-join plan
            # view is sacrificed for side-effecting bodies only.
            from dataclod_spark.server.pgwire import _returns_rows

            if mode != "analyze" and not _returns_rows(body):
                native = {"formatted": "FORMATTED", "extended": "EXTENDED",
                          "verbose": "EXTENDED", "codegen": "CODEGEN",
                          "cost": "COST"}.get(mode, "FORMATTED")
                q = f"EXPLAIN {native} {body}"
                if args is not None and not isinstance(args, Mapping):
                    q, args = _positional_to_named(q, args)
                if args:
                    q, args = _splice_fragments(q, args)
                return self.spark.sql(q, args=args) if args else self.spark.sql(q)
            df = self.sql(body, args)
            if mode == "analyze":
                df.count()
                mode = "formatted"
            if mode in ("verbose",):
                mode = "extended"
            jmode = self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
            text = df._jdf.queryExecution().explainString(jmode)
            return local_frame(self.spark, [(text,)], _PLAN_SCHEMA)
        m = _COPY_RE.match(query)
        if m:
            return self._copy_to(m)
        m = _EXT_TABLE_RE.match(query)
        if m:
            return self._create_external_table(m)
        m = _SET_RE.match(query)
        if m:
            key, value = m.group(1), m.group(2).strip().strip("'\"")
            if key.lower().startswith(_ENGINE_SET_NAMESPACES):
                # Deliberate reference parity, NOT per-connection PG SET
                # semantics: the reference shares ONE QueryContext across
                # all pgwire connections (server.rs:19-22) and applies
                # datafusion./dataclod. SETs to it (context.rs:112-118),
                # so an engine-namespace SET is visible to every
                # connection there too.  Our shared SparkSession matches.
                self.spark.conf.set(key, value)
            else:
                # pg-client compat: swallow unknown SET (context.rs:117-122)
                self._swallowed_sets[key] = value
            return self.spark.range(0).select()
        from dataclod_spark.plans.rewrites import (
            rewrite_groups_frames,
            rewrite_information_schema_refs,
            rewrite_pg_catalog_refs,
            rewrite_pgcompat_calls,
            rewrite_values_tables,
        )
        from dataclod_spark.plans.spatial_dispatch import (
            try_chain_spatial_join,
            try_exists_spatial_join,
            try_outer_spatial_join,
            try_rewrite_spatial_join,
            try_spatial_filter_pushdown,
        )

        query, pg_views = rewrite_pg_catalog_refs(rewrite_values_tables(query))
        query = rewrite_pgcompat_calls(query)
        if pg_views:
            # built on first reference, once per Spark session
            from dataclod_spark.catalog.pg_catalog import register_pg_catalog

            register_pg_catalog(self.spark, pg_views)
        # GROUPS window frames (DataFusion default surface; Spark lacks
        # them) → the proven dense_rank+RANGE emulation (w5 recipe).  Out
        # -of-scope shapes return None and keep today's parse error.
        rewritten = rewrite_groups_frames(query)
        if rewritten is not None:
            query = rewritten
        query, views = rewrite_information_schema_refs(query)
        if views:
            # refresh-on-use: snapshot the views this statement reads from
            # the live catalog state
            from dataclod_spark.catalog.information_schema import (
                register_information_schema,
            )

            register_information_schema(self.spark, views)
        if args is not None and not isinstance(args, Mapping):
            # positional $n parameters: rename to :__pN and map the list on
            query, args = _positional_to_named(query, args)
        # SQL-path spatial join dispatch (≈ the reference's logical rewrite,
        # optimizer.rs:33-113): JOIN ON ST_pred(...) becomes a grid
        # equi-join instead of a nested-loop cross product.  Applied to a
        # FIXPOINT (like an optimizer rule): a statement can hold several
        # spatial joins — one per UNION arm, say — and each rewrite
        # handles exactly one.  The join rewrites never re-match their own
        # output (the derived/view FROMs no longer fit the dispatch
        # patterns), so the loop strictly consumes spatial joins; the cap
        # is a safety net, and the filter pushdown runs once at the end
        # (it wraps the original predicate into its own output, so a
        # second pass would re-match it).  The outer and EXISTS dispatches
        # read a temp view of the operator's result; each is dropped once
        # spark.sql has analyzed the statement (the analyzed plan holds
        # the view's plan, so the frame still runs), so none outlives its
        # statement.
        views: list[str] = []
        try:
            for _ in range(8):
                rewritten = try_rewrite_spatial_join(self, query)
                if rewritten is None:
                    # spatial join deeper in an inner-join chain (any position)
                    rewritten = try_chain_spatial_join(self, query)
                if rewritten is None:
                    # LEFT/RIGHT/FULL spatial joins route through the
                    # DataFrame operator's outer completion (exec.rs:47-131
                    # parity), then correlated spatial [NOT] EXISTS → grid
                    # semi/anti join
                    via_view = try_outer_spatial_join(self, query) or try_exists_spatial_join(
                        self, query
                    )
                    if via_view is not None:
                        rewritten, view = via_view
                        views.append(view)
                if rewritten is None:
                    break
                query = rewritten
            # region query: spatial predicate vs literal geometry → inject
            # bbox covering-column conjuncts that push to the parquet scan
            rewritten = try_spatial_filter_pushdown(self, query)
            if rewritten is not None:
                query = rewritten
            if args:
                # server-generated fragments (typed empty arrays etc.) have
                # no spark.sql(args=...) representation — splice them with
                # the lexer (never inside literals or comments)
                query, args = _splice_fragments(query, args)
            if args:
                return self.spark.sql(query, args=dict(args))
            return self.spark.sql(query)
        finally:
            for view in views:
                self.spark.catalog.dropTempView(view)

    # -- DDL/DML shims (inherited DataFusion surface, SURVEY §2.B) ---------
    def _copy_to(self, m: "re.Match[str]") -> DataFrame:
        """``COPY (query|table) TO 'path' [(FORMAT fmt[, HEADER])]`` →
        execute the source and write it with the native Spark writer.
        Returns a one-row ``count`` frame (the COPY row-count tag).

        Scale note: the write is a distributed ``df.write`` — ``path``
        becomes a directory of one part-file per partition, which is the
        only COPY that makes sense at 100 TB (a single-file COPY would
        serialize the cluster through one writer).  The row count for the
        COPY tag comes from an ``observe`` metric attached to the write —
        ONE execution of the source plan, not a ``count()`` pre-pass that
        would double the cost (and could disagree with the written rows
        under a nondeterministic source).
        """
        from pyspark.sql import functions as F
        from pyspark.sql import Observation

        src = m.group("src").strip()
        fmt = (m.group("fmt") or m.group("fmt2") or "parquet").lower()
        if fmt not in _EXT_FORMATS:
            raise ValueError(f"COPY: unsupported format {fmt!r}")
        # a table source goes through sql() too, which builds a pg_* view
        df = self.sql(src[1:-1] if src.startswith("(") else f"TABLE {src}")
        obs = Observation()
        writer = (
            df.observe(obs, F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .format(_EXT_FORMATS[fmt])
        )
        if fmt == "csv" and (m.group("hdr") or "").lower() not in ("false", "0"):
            writer = writer.option("header", "true")
        writer.save(m.group("path"))
        return self.spark.range(1).select(F.lit(obs.get["n"]).alias("count"))

    def _create_external_table(self, m: "re.Match[str]") -> DataFrame:
        """``CREATE EXTERNAL TABLE t [(cols)] STORED AS fmt [WITH HEADER
        ROW] LOCATION 'path'`` → register a reader-backed temp view (the
        session-scoped analogue of DataFusion's external table; the scan
        stays lazy, so pruning/pushdown reach the files).
        """
        name = m.group("name").strip('"')
        fmt = m.group("fmt").lower()
        if fmt not in _EXT_FORMATS:
            raise ValueError(f"CREATE EXTERNAL TABLE: unsupported format {fmt!r}")
        if m.group("ine") and self.spark.catalog.tableExists(name):
            return self.spark.range(0).select()
        reader = self.spark.read.format(_EXT_FORMATS[fmt])
        if m.group("cols"):
            reader = reader.schema(m.group("cols").strip())
        if fmt == "csv" and m.group("hdr"):
            reader = reader.option("header", "true")
        reader.load(m.group("path")).createOrReplaceTempView(name)
        return self.spark.range(0).select()

    def stop(self) -> None:
        self.spark.stop()
