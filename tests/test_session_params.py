"""EngineSession SQL shims: positional $n parameters (parser.rs:31-44)."""

from __future__ import annotations

import pytest

from dataclod_spark.plans.rewrites import rewrite_dollar_params


def test_rewrite_basic():
    sql, used = rewrite_dollar_params("SELECT * FROM t WHERE a > $1 AND b = $2")
    assert sql == "SELECT * FROM t WHERE a > :__p1 AND b = :__p2"
    assert used == [1, 2]


def test_rewrite_repeated_and_out_of_order():
    sql, used = rewrite_dollar_params("SELECT $2, $1, $2")
    assert sql == "SELECT :__p2, :__p1, :__p2"
    assert used == [1, 2]


def test_quoted_regions_untouched():
    sql, used = rewrite_dollar_params(
        "SELECT '$1', 'it''s $2', \"$3\" FROM t WHERE x = $4"
    )
    assert sql == "SELECT '$1', 'it''s $2', \"$3\" FROM t WHERE x = :__p4"
    assert used == [4]


def test_positional_execution(engine):
    engine.spark.range(10).createOrReplaceTempView("params_t")
    rows = engine.sql(
        "SELECT count(*) AS n FROM params_t WHERE id >= $1 AND id < $2", [3, 8]
    ).collect()
    assert rows[0].n == 5


def test_positional_repeated_execution(engine):
    engine.spark.range(10).createOrReplaceTempView("params_t")
    rows = engine.sql(
        "SELECT count(*) AS n FROM params_t WHERE id BETWEEN $1 AND $1 + 2", [4]
    ).collect()
    assert rows[0].n == 3


def test_missing_positional_raises(engine):
    with pytest.raises(ValueError, match=r"\$2"):
        engine.sql("SELECT $1 + $2 AS s", [1])


def test_named_args_still_work(engine):
    engine.spark.range(10).createOrReplaceTempView("params_t")
    rows = engine.sql(
        "SELECT count(*) AS n FROM params_t WHERE id > :lo", {"lo": 6}
    ).collect()
    assert rows[0].n == 3


def test_ddl_roundtrip_through_session(engine, tmp_path):
    """CREATE TABLE USING parquet + INSERT + SELECT through EngineSession
    (the reference inherits CREATE EXTERNAL TABLE/CTAS/INSERT from
    DataFusion; Spark SQL provides the same statements natively)."""
    loc = tmp_path / "ddl_tbl"
    engine.sql(f"CREATE TABLE ddl_t (id BIGINT, name STRING) USING parquet LOCATION '{loc}'")
    try:
        engine.sql("INSERT INTO ddl_t VALUES (1, 'a'), (2, 'b')")
        engine.sql("INSERT INTO ddl_t SELECT 3, 'c'")
        rows = engine.sql("SELECT id, name FROM ddl_t ORDER BY id").collect()
        assert [tuple(r) for r in rows] == [(1, "a"), (2, "b"), (3, "c")]
        # CTAS
        engine.sql("CREATE TABLE ddl_t2 USING parquet AS SELECT id * 10 AS id10 FROM ddl_t")
        assert {r.id10 for r in engine.sql("SELECT id10 FROM ddl_t2").collect()} == {10, 20, 30}
    finally:
        engine.sql("DROP TABLE IF EXISTS ddl_t")
        engine.sql("DROP TABLE IF EXISTS ddl_t2")


def test_sql_fragment_param_spliced_outside_literals(engine):
    """SqlFragmentParam values (typed empty arrays from the wire) splice
    into the query text at parameter sites only — a string literal that
    happens to contain the marker text is untouched, matching Spark's
    parser-level named-parameter binding."""
    from dataclod_spark.plans.rewrites import SqlFragmentParam

    rows = engine.sql(
        "SELECT ':__p1' AS s, $1 AS a, typeof($1) AS t",
        args=[SqlFragmentParam("CAST(array() AS array<int>)")],
    ).collect()
    assert rows[0].s == ":__p1"
    assert rows[0].a == []
    assert rows[0].t == "array<int>"


def test_splice_named_params_scanner():
    from dataclod_spark.plans.rewrites import splice_named_params

    frags = {"__p1": "CAST(array() AS array<int>)"}
    assert (
        splice_named_params("SELECT :__p1, ':__p1', \":__p1\", :__p12", frags)
        == "SELECT (CAST(array() AS array<int>)), ':__p1', \":__p1\", :__p12"
    )
    # backslashes in fragments pass through verbatim (no regex templates)
    assert splice_named_params("SELECT :f", {"f": r"'a\g<0>b'"}) == r"SELECT ('a\g<0>b')"


# ---------- round 10: noncode-aware rewrites (review findings) ---------------


def test_dollar_params_in_comments_not_counted():
    from dataclod_spark.plans.rewrites import rewrite_dollar_params

    out, used = rewrite_dollar_params("SELECT $1 -- fallback for $2")
    assert used == [1]
    assert ":__p1" in out and "$2" in out  # comment text untouched
    out2, used2 = rewrite_dollar_params("SELECT $1 /* uses $3 */ + $2")
    assert used2 == [1, 2] and "$3" in out2
    # dollar-quoted strings shield $n too
    out3, used3 = rewrite_dollar_params("SELECT $q$cost: $1$q$, $1")
    assert used3 == [1] and out3.count(":__p1") == 1


def test_pg_catalog_rewrite_leaves_literals_alone():
    from dataclod_spark.plans.rewrites import (
        rewrite_information_schema_refs,
        rewrite_pg_catalog_refs,
    )

    q = "SELECT 'pg_catalog.pg_class' AS n FROM pg_catalog.pg_class"
    out, views = rewrite_pg_catalog_refs(q)
    assert "'pg_catalog.pg_class'" in out          # literal is data
    assert "FROM pg_catalog_pg_class" in out        # reference is rewritten
    assert views == {"pg_class"}                    # the one view to build
    q2 = "SELECT c FROM t WHERE c = 'information_schema.tables' -- information_schema.columns"
    out2, views2 = rewrite_information_schema_refs(q2)
    assert views2 == set()                          # nothing to build
    assert "'information_schema.tables'" in out2
    assert "-- information_schema.columns" in out2  # comment untouched


def test_values_rewrite_handles_escaped_quotes(engine):
    """Backslash-escaped quote inside a VALUES row: the old private
    scanner lost string state at the escape and raised 'unbalanced
    parentheses' for valid SQL."""
    got = engine.sql(
        "SELECT n, ST_X(g) AS x FROM "
        "(VALUES (ST_MakePoint(1.0, 2.0), 'O\\'Brien'), "
        "(ST_MakePoint(3.0, 4.0), 'plain')) AS t(g, n) ORDER BY x"
    ).collect()
    assert [(r.n, r.x) for r in got] == [("O'Brien", 1.0), ("plain", 3.0)]


def test_values_gate_ignores_first_value():
    """first_value/last_value contain 'st_' but are not ST_* calls — the
    VALUES rewrite must not fire (plain literal VALUES stay native)."""
    from dataclod_spark.plans.rewrites import rewrite_values_tables

    q = ("SELECT first_value(x) OVER (ORDER BY x) FROM "
         "(VALUES (1), (2)) AS t(x)")
    assert rewrite_values_tables(q) == q  # untouched
    # a real ST_ call still fires (single row -> one SELECT, no UNION)
    q2 = "SELECT * FROM (VALUES (ST_MakePoint(1.0, 2.0))) AS t(g)"
    out2 = rewrite_values_tables(q2)
    assert out2 != q2 and "SELECT ST_MakePoint(1.0, 2.0) AS g" in out2
    q3 = ("SELECT * FROM (VALUES (ST_MakePoint(1.0, 2.0)), "
          "(ST_MakePoint(3.0, 4.0))) AS t(g)")
    assert "UNION ALL" in rewrite_values_tables(q3).upper()
