"""DuckDB-oracle differential test utilities.

Mimics the driver's correctness gate: run the Spark implementation and the
oracle SQL on the same parquet tables, then compare row count, column names,
and order-insensitive normalized values (SURVEY.md §5 test plan).
"""

from __future__ import annotations

import datetime as _dt
import decimal as _dec
import math
import uuid
from typing import Any, Callable

import duckdb

from dataclod_spark.session import TABLES

FLOAT_DIGITS = 6


def count_jobs(spark, fn: Callable[[], Any]) -> int:
    """Number of Spark jobs ``fn()`` launches on this thread."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def duckdb_connection(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    """Fresh DuckDB connection with the driver tables registered as views."""
    con = duckdb.connect()
    for t in TABLES:
        try:
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        except duckdb.Error:
            pass
    return con


def _norm_float(f: float, strict: bool) -> Any:
    """Round and normalize a finite float.  Zeros collapse to +0.0 in
    lenient mode; in strict mode a NEGATIVE zero becomes the sentinel
    string "-0.0" — the sign has to live in the VALUE, not the float
    itself, because Python's ``-0.0 == 0.0`` would otherwise make the
    normalized tuples compare equal anyway (the driver stringifies, so
    "-0.0" ≠ "0.0" is exactly its behavior)."""
    r = round(f, FLOAT_DIGITS)
    if r == 0:
        if strict and math.copysign(1.0, r) < 0:
            return "-0.0"
        return 0.0
    return r


def _norm_value(v: Any, strict: bool = False) -> Any:
    """Normalize one cell.

    Numeric values carry a type tag ("i" int / "f" float / "d" decimal) so
    that an integer on the Spark side never compares equal to a
    Decimal/float on the oracle side — the driver's value-hash is
    dtype-sensitive (DuckDB widens sum(BIGINT) to HUGEINT, which hashes
    differently even when values are identical), and Python's 123 == 123.0
    used to mask exactly that class locally (VERDICT r3 finding #1).

    ``strict=True`` additionally preserves the SIGN BIT of zero: the
    driver's value-hash stringifies cells, so ``-0.0`` ≠ ``0.0`` there,
    and the lenient ``-0.0 → 0.0`` coercion below masked exactly the
    mismatch that made v15 driver-red in r9 (VERDICT r9 #2 — the same
    lesson as the r3 dtype tag).  The closing battery MUST run strict;
    the lenient mode remains for exploratory work only."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, _dec.Decimal):
        f = float(v)
        if math.isnan(f):
            return ("d", "NaN")
        return ("d", _norm_float(f, strict))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "NaN")
        return ("f", _norm_float(v, strict))
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, list):
        return tuple(_norm_value(x, strict) for x in v)
    return v


def normalize_rows(
    columns: list[str], rows: list[tuple], strict: bool = False
) -> list[tuple]:
    """Sort columns by name, normalize values, sort rows.

    ``strict=True`` keeps ``-0.0`` distinct from ``0.0`` (driver-hash
    parity); note ``str(('f', -0.0)) != str(('f', 0.0))`` so the row
    sort key also separates them."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm_value(row[i], strict) for i in order) for row in rows]
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return out


def compare_query(
    spark, sf_dir: str, spark_fn, oracle: str, strict: bool = False
) -> tuple[bool, str]:
    """Run spark_fn and oracle side by side; return (match, detail).

    ``strict=True`` is the driver-grade comparator (zero-sign-bit
    sensitive) — use it for closing batteries and post-change sweeps."""
    sdf = spark_fn(spark, sf_dir)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb_connection(sf_dir)
    try:
        res = con.execute(oracle)
        d_cols = [d[0].lower() for d in res.description]
        d_rows = res.fetchall()
    finally:
        con.close()

    if sorted(s_cols) != sorted(d_cols):
        return False, f"column mismatch: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return False, f"row count mismatch: spark={len(s_rows)} duckdb={len(d_rows)}"
    sn = normalize_rows(s_cols, s_rows, strict)
    dn = normalize_rows(d_cols, d_rows, strict)
    if sn != dn:
        diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
        return False, f"value mismatch, first diffs: {diffs}"
    return True, "ok"
