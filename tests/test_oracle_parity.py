"""Differential tests: every registered query with an oracle must match
DuckDB on sf0.001 (the driver runs the same comparison at sf0.01)."""

from __future__ import annotations

import pytest

from dataclod_spark.registry import load_all_queries
from dataclod_spark.testing import compare_query

from conftest import SF_SMOKE

_REGISTRY = load_all_queries()
_WITH_ORACLE = sorted(name for name, qd in _REGISTRY.items() if qd.oracle)
_ROWS_ONLY = sorted(name for name, qd in _REGISTRY.items() if not qd.oracle)


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle_parity(spark, name):
    # strict=True is the driver-grade comparator (zero-sign-bit
    # sensitive): the lenient mode masked v15's -0.0 driver-red in r9,
    # so the standing gate runs at least as strict as the driver's hash
    qd = _REGISTRY[name]
    ok, detail = compare_query(spark, SF_SMOKE, qd.fn, qd.oracle, strict=True)
    assert ok, f"{name}: {detail}"


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    qd = _REGISTRY[name]
    df = qd.fn(spark, SF_SMOKE)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_e1_session_gap_is_fractional(spark, tmp_path):
    """A 1,800.5 s gap opens a new session, as the oracle's fractional
    ``epoch`` says; whole-second timestamps would see a 1,800 s gap."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = 1_700_000_000 * 10**9  # ns, on a whole second
    offsets_s = {1: [0, 1800.5], 2: [0.9, 1800.8], 3: [0, 1800]}  # 2 / 1 / 1 sessions
    rows = [(u, u * 10 + i, base + int(s * 10**9))
            for u, offs in offsets_s.items() for i, s in enumerate(offs)]
    user, event, ts = zip(*rows)
    pq.write_table(
        pa.table({"user_id": pa.array(user, pa.int64()), "event_id": pa.array(event, pa.int64()),
                  "ts": pa.array(ts, pa.timestamp("ns"))}),
        tmp_path / "events.parquet",
    )
    qd = _REGISTRY["e1_sessionization"]
    got = [tuple(r) for r in qd.fn(spark, str(tmp_path)).collect()]
    assert got == [(1, 2, 2), (2, 1, 2), (3, 1, 2)]
    ok, detail = compare_query(spark, str(tmp_path), qd.fn, qd.oracle, strict=True)
    assert ok, detail
