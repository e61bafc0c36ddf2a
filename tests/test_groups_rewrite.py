"""GROUPS window frames as SQL syntax (VERDICT r5 #4).

The reference accepts ``GROUPS BETWEEN n PRECEDING AND m FOLLOWING``
through DataFusion's default SQL surface (src/core/src/context.rs:49-52);
Spark parse-errors.  ``plans/rewrites.rewrite_groups_frames`` rewrites
in-scope statements to the proven dense_rank+RANGE emulation (the w5
recipe); everything else declines to None so the statement reaches Spark
untouched.
"""

import re

import pytest
from pyspark.sql import Row

from dataclod_spark.plans.rewrites import rewrite_groups_frames as rw


# ---------- pure-text scoping ------------------------------------------------


def test_basic_rewrite_shape():
    q = (
        "SELECT k, sum(v) OVER (PARTITION BY p ORDER BY k "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM t"
    )
    out = rw(q)
    assert out is not None
    assert "GROUPS" not in out.upper().replace("__GRP", "")
    assert "DENSE_RANK() OVER (PARTITION BY p ORDER BY k) AS __grp0" in out
    assert "ORDER BY __grp0 RANGE BETWEEN 1 PRECEDING AND CURRENT ROW" in out
    assert "FROM (SELECT *," in out and out.rstrip().endswith(") t")


def test_short_form_and_alias_where_limit():
    q = (
        "SELECT k, sum(v) OVER (ORDER BY k GROUPS 2 PRECEDING) AS s "
        "FROM t AS a WHERE k > 0 LIMIT 5"
    )
    out = rw(q)
    assert "RANGE BETWEEN 2 PRECEDING AND CURRENT ROW" in out
    assert "FROM t AS a WHERE k > 0" in out  # WHERE inside the wrap
    assert out.rstrip().endswith("LIMIT 5")  # LIMIT outside
    assert ") a LIMIT" in out  # alias preserved for qualified refs


def test_shared_and_distinct_rank_columns():
    q = (
        "SELECT sum(a) OVER (PARTITION BY p ORDER BY k GROUPS 1 PRECEDING) AS s1, "
        "max(b) OVER (PARTITION BY p ORDER BY k GROUPS BETWEEN UNBOUNDED PRECEDING "
        "AND CURRENT ROW) AS s2, "
        "min(c) OVER (ORDER BY j GROUPS 1 PRECEDING) AS s3 FROM t"
    )
    out = rw(q)
    assert out.count("DENSE_RANK()") == 2  # (p,k) shared; (∅,j) separate
    assert "__grp0" in out and "__grp1" in out


def test_cte_body_rewritten():
    q = (
        "WITH c AS (SELECT k, sum(v) OVER (PARTITION BY p ORDER BY k "
        "GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS s FROM t WHERE v > 0) "
        "SELECT k, s FROM c ORDER BY k"
    )
    out = rw(q)
    assert out is not None and "DENSE_RANK" in out
    assert out.strip().endswith("SELECT k, s FROM c ORDER BY k")


def test_literal_braces_in_partition_by_survive():
    """Regression (r6 ADVICE, medium): literal regex braces inside the
    PARTITION BY text must not be treated as str.format fields — the
    body is spliced by plain concatenation, so this rewrites cleanly
    instead of raising IndexError out of EngineSession.sql."""
    q = (
        "SELECT k, sum(x) OVER (PARTITION BY regexp_extract(k, 'a{2}', 0) "
        "ORDER BY d GROUPS 1 PRECEDING) AS s FROM t"
    )
    out = rw(q)
    assert out is not None
    assert "regexp_extract(k, 'a{2}', 0)" in out  # braces intact, twice
    assert "DENSE_RANK() OVER (PARTITION BY regexp_extract(k, 'a{2}', 0)" in out
    assert "RANGE BETWEEN 1 PRECEDING AND CURRENT ROW" in out


@pytest.mark.parametrize(
    "q",
    [
        # bare * / alias.* would leak the helper rank columns
        "SELECT *, sum(v) OVER (ORDER BY k GROUPS 1 PRECEDING) FROM t",
        "SELECT a.*, sum(v) OVER (ORDER BY k GROUPS 1 PRECEDING) FROM t a",
        # top-level clauses out of scope
        "SELECT k, sum(v) OVER (ORDER BY k GROUPS 1 PRECEDING) FROM t GROUP BY k",
        "SELECT k FROM t UNION SELECT sum(v) OVER (ORDER BY k GROUPS 1 PRECEDING) FROM u",
        # EXCLUDE clause / frame in outer ORDER BY / missing ORDER BY
        "SELECT sum(v) OVER (ORDER BY k GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE TIES) FROM t",
        "SELECT k FROM t ORDER BY sum(v) OVER (ORDER BY k GROUPS 1 PRECEDING)",
        "SELECT sum(v) OVER (PARTITION BY p GROUPS 1 PRECEDING) FROM t",
        # GROUPS frame in a nested block that itself declines (UNION body)
        "SELECT k, (SELECT sum(v) OVER (ORDER BY k GROUPS 1 PRECEDING) FROM u UNION SELECT 1) FROM t",
    ],
)
def test_out_of_scope_declines(q):
    assert rw(q) is None


def test_select_distinct_passes_through():
    """Round 8: DISTINCT dedups the outer select list's VALUES, which
    the rewrite leaves identical — so it rides through the wrap."""
    q = (
        "SELECT DISTINCT k, sum(v) OVER (ORDER BY k GROUPS 1 PRECEDING) "
        "AS s FROM t"
    )
    out = rw(q)
    assert out is not None
    assert re.match(r"(?is)^SELECT\s+DISTINCT\s+k,", out)
    assert "DENSE_RANK()" in out and "RANGE BETWEEN" in out
    # still declines when DISTINCT would expand a bare *
    assert rw("SELECT DISTINCT *, sum(v) OVER (ORDER BY k GROUPS 1 PRECEDING) FROM t") is None


def test_nested_derived_table_groups_rewritten():
    """A GROUPS frame inside a derived table / scalar subquery is its own
    window scope: the pre-pass rewrites the nested block in place."""
    q = (
        "SELECT z.s FROM (SELECT sum(v) OVER (ORDER BY k GROUPS 1 "
        "PRECEDING) AS s FROM u) z WHERE z.s > 0"
    )
    out = rw(q)
    assert out is not None
    assert "GROUPS" not in out.upper().replace("__GROUPS", "")
    assert "DENSE_RANK()" in out and "RANGE BETWEEN" in out
    # outer block untouched (no frame of its own): original FROM shape kept
    assert out.strip().startswith("SELECT z.s FROM (")

    q2 = (
        "SELECT k, (SELECT max(s) FROM (SELECT sum(v) OVER (ORDER BY k "
        "GROUPS 1 PRECEDING) s FROM u) z) FROM t"
    )
    out2 = rw(q2)
    assert out2 is not None and "RANGE BETWEEN" in out2


@pytest.mark.parametrize(
    "q",
    [
        "SELECT groups FROM t",  # identifier, not a frame
        "SELECT k FROM t",  # no GROUPS at all
        "SELECT 'GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW' AS s FROM t",  # string literal
        "SELECT k FROM t -- GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW",  # comment
        "SELECT sum(v) OVER (ORDER BY k ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t",
    ],
)
def test_non_frames_untouched(q):
    assert rw(q) is None


# ---------- execution semantics ---------------------------------------------


def _groups_fixture(spark):
    # peer groups matter: duplicate order keys make GROUPS differ from ROWS
    rows = [
        Row(p="a", k=1, v=10),
        Row(p="a", k=1, v=20),   # peer of the first row
        Row(p="a", k=2, v=1),
        Row(p="a", k=3, v=5),
        Row(p="a", k=3, v=7),    # peer group of two
        Row(p="b", k=1, v=100),
        Row(p="b", k=9, v=3),
    ]
    df = spark.createDataFrame(rows)
    df.createOrReplaceTempView("groups_t")
    return df


def test_groups_sql_executes_with_peer_semantics(spark):
    from dataclod_spark.session import EngineSession

    _groups_fixture(spark)
    sess = EngineSession(spark)
    got = {
        (r.p, r.k, r.v): r.s
        for r in sess.sql(
            "SELECT p, k, v, sum(v) OVER (PARTITION BY p ORDER BY k "
            "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM groups_t"
        ).collect()
    }
    # group sums: a: k=1 -> 30, k=2 -> 30+1, k=3 -> 1+12
    want = {
        ("a", 1, 10): 30,
        ("a", 1, 20): 30,
        ("a", 2, 1): 31,
        ("a", 3, 5): 13,
        ("a", 3, 7): 13,
        ("b", 1, 100): 100,
        ("b", 9, 3): 103,
    }
    assert got == want


def test_groups_sql_unbounded_and_following(spark):
    from dataclod_spark.session import EngineSession

    _groups_fixture(spark)
    sess = EngineSession(spark)
    got = {
        (r.p, r.k, r.v): (r.s1, r.s2)
        for r in sess.sql(
            "SELECT p, k, v, "
            "sum(v) OVER (PARTITION BY p ORDER BY k GROUPS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW) AS s1, "
            "sum(v) OVER (PARTITION BY p ORDER BY k GROUPS BETWEEN CURRENT ROW "
            "AND 1 FOLLOWING) AS s2 "
            "FROM groups_t WHERE p = 'a'"
        ).collect()
    }
    want = {
        ("a", 1, 10): (30, 31),
        ("a", 1, 20): (30, 31),
        ("a", 2, 1): (31, 13),
        ("a", 3, 5): (43, 12),
        ("a", 3, 7): (43, 12),
    }
    assert got == want


def test_out_of_scope_still_parse_errors(spark):
    """Declined shapes keep today's behavior: Spark's own parse error."""
    from dataclod_spark.session import EngineSession

    _groups_fixture(spark)
    sess = EngineSession(spark)
    with pytest.raises(Exception, match="(?i)syntax|parse|GROUPS"):
        sess.sql(
            "SELECT groups_t.*, sum(v) OVER (ORDER BY k GROUPS 1 PRECEDING) "
            "FROM groups_t"
        ).collect()


def test_groups_frames_match_python_reference(spark):
    """Differential fuzz: random GROUPS frames (both bounds, all bound
    kinds, heavy ties) through EngineSession.sql vs an independent Python
    implementation of peer-group frame semantics."""
    import random

    from dataclod_spark.session import EngineSession

    rnd = random.Random(20260815)
    rows = [
        (i, rnd.choice("ab"), rnd.randint(0, 4), rnd.randint(-5, 9))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "id long, p string, k int, v int")
    df.createOrReplaceTempView("groups_fuzz")
    sess = EngineSession(spark)

    data = rows

    def py_groups(lo, hi, agg):
        # peer-group frame reference: per partition, sorted distinct keys
        out = {}
        parts = {}
        for (i, p, k, v) in data:
            parts.setdefault(p, []).append((i, k, v))
        for p, rs in parts.items():
            keys = sorted({k for _, k, _ in rs})
            gi = {k: n for n, k in enumerate(keys)}
            for (i, k, v) in rs:
                g = gi[k]
                a = -10**9 if lo is None else g + lo
                b = 10**9 if hi is None else g + hi
                vals = [v2 for (_, k2, v2) in rs if a <= gi[k2] <= b]
                if agg == "sum":
                    out[i] = sum(vals) if vals else None
                elif agg == "count":
                    out[i] = len(vals)
                else:
                    out[i] = min(vals) if vals else None
        return out

    def bound_sql(n, side):
        if n is None:
            return f"UNBOUNDED {side}"
        if n == 0:
            return "CURRENT ROW"
        return f"{abs(n)} {'PRECEDING' if n < 0 else 'FOLLOWING'}"

    cases = 0
    while cases < 12:
        lo = rnd.choice([None, -3, -2, -1, 0, 1])
        hi = rnd.choice([None, -1, 0, 1, 2, 3])
        if lo is not None and hi is not None and lo > hi:
            continue  # invalid frame; Spark/PG reject it at parse time
        if lo is None and rnd.random() < 0.5:
            lo = -1  # don't oversample unbounded
        agg = rnd.choice(["sum", "count", "min"])
        frame = f"GROUPS BETWEEN {bound_sql(lo, 'PRECEDING')} AND {bound_sql(hi, 'FOLLOWING')}"
        got = {
            r.id: r.s
            for r in sess.sql(
                f"SELECT id, {agg}(v) OVER (PARTITION BY p ORDER BY k {frame}) AS s "
                "FROM groups_fuzz"
            ).collect()
        }
        want = py_groups(lo, hi, agg)
        assert got == want, (frame, agg)
        cases += 1


# ---------- join-mode rewrite (round 7) ---------------------------------------


def test_join_tail_rewrite_shape():
    q = (
        "SELECT x, sum(v) OVER (PARTITION BY p ORDER BY k "
        "GROUPS 1 PRECEDING) AS s FROM t JOIN u ON t.id=u.id"
    )
    out = rw(q)
    assert out is not None
    assert "FROM (SELECT *, p AS __gpk0_0, DENSE_RANK()" in out
    assert "FROM t JOIN u ON t.id=u.id) __j" in out
    assert "OVER (PARTITION BY __gpk0_0 ORDER BY __grp0 RANGE BETWEEN" in out


def test_join_tail_qualified_partition_keys_move_inside():
    """Qualified refs INSIDE the window spec are fine — the dense_rank and
    the projected partition-key columns are computed inside the wrap,
    where the join's relation aliases still resolve."""
    q = (
        "SELECT x, sum(v) OVER (PARTITION BY t.p, u.q ORDER BY u.k "
        "GROUPS BETWEEN 1 PRECEDING AND 2 FOLLOWING) AS s "
        "FROM t LEFT JOIN u ON t.id=u.id WHERE v > 0 ORDER BY x LIMIT 5"
    )
    out = rw(q)
    assert "t.p AS __gpk0_0, u.q AS __gpk0_1" in out
    assert "DENSE_RANK() OVER (PARTITION BY t.p, u.q ORDER BY u.k)" in out
    assert "OVER (PARTITION BY __gpk0_0, __gpk0_1 ORDER BY __grp0 RANGE" in out
    assert "WHERE v > 0 ) __j ORDER BY x LIMIT 5" in out


@pytest.mark.parametrize(
    "q,frag",
    [
        # qualified ref in the OUTER select list: projected inside as __gq0
        (
            "SELECT t.x, sum(v) OVER (ORDER BY k GROUPS 1 PRECEDING) FROM t JOIN u ON t.id=u.id",
            "t.x AS __gq0",
        ),
        # qualified ref in a window ARGUMENT (stays in the outer list)
        (
            "SELECT x, sum(t.v) OVER (ORDER BY k GROUPS 1 PRECEDING) FROM t JOIN u ON t.id=u.id",
            "t.v AS __gq0",
        ),
        # qualified ref in the outer ORDER BY tail
        (
            "SELECT x, sum(v) OVER (ORDER BY k GROUPS 1 PRECEDING) AS s FROM t JOIN u ON t.id=u.id ORDER BY t.x",
            "t.x AS __gq0",
        ),
        # backtick-quoted qualified ref substitutes too
        (
            "SELECT `t`.`x`, sum(v) OVER (ORDER BY k GROUPS 1 PRECEDING) FROM t JOIN u ON t.id=u.id",
            "`t`.`x` AS __gq0",
        ),
    ],
)
def test_join_tail_qualified_outer_refs_projected(q, frag):
    """Round 8: qualified refs in the OUTER text no longer decline — each
    chain is projected inside the wrap (where the join aliases still
    resolve) under a private __gqN alias and the outer occurrence
    replaced, so the most natural way users write joined GROUPS queries
    now rewrites."""
    out = rw(q)
    assert out is not None and frag in out
    # the outer text references the projected alias, never the raw chain
    tail = out.split(") __j")[-1]
    head = out.split("FROM (")[0]
    assert "__gq0" in head or "__gq0" in tail


def test_join_tail_qualified_ref_dedup_and_multi():
    """The same chain substitutes to ONE projected alias everywhere;
    distinct chains get distinct aliases."""
    q = (
        "SELECT t.x, t.x + u.y AS z, sum(v) OVER (ORDER BY k GROUPS 1 "
        "PRECEDING) FROM t JOIN u ON t.id=u.id ORDER BY t.x, u.y"
    )
    out = rw(q)
    assert out.count("t.x AS __gq0") == 1
    assert "u.y AS __gq1" in out
    assert "ORDER BY __gq0, __gq1" in out


def test_join_tail_bare_qualified_item_keeps_column_name():
    """ADVICE r8 (medium): a whole UNALIASED qualified select item
    (``SELECT t.x, ...``) must surface as column ``x`` — the reference
    names it after the terminal part — not as the private ``__gq0``
    alias.  The rewrite re-aliases exactly the bare-item occurrence."""
    q = (
        "SELECT t.x, sum(v) OVER (ORDER BY k GROUPS 1 PRECEDING) AS s "
        "FROM t JOIN u ON t.id=u.id"
    )
    out = rw(q)
    assert "t.x AS __gq0" in out  # projected inside the wrap
    assert re.search(r"SELECT\s+__gq0 AS x\s*,", out)
    # backtick terminal parts keep their quoting
    qb = (
        "SELECT `t`.`x`, sum(v) OVER (ORDER BY k GROUPS 1 PRECEDING) AS s "
        "FROM t JOIN u ON t.id=u.id"
    )
    assert "__gq0 AS `x`" in rw(qb)
    # an EMBEDDED occurrence (larger expression) is not re-aliased — its
    # output name never depended on the chain
    q2 = (
        "SELECT t.x + 1 AS y, sum(v) OVER (ORDER BY k GROUPS 1 PRECEDING) AS s "
        "FROM t JOIN u ON t.id=u.id"
    )
    assert "AS x" not in rw(q2)


def test_join_groups_bare_qualified_item_output_schema(spark):
    """End-to-end: the joined GROUPS query with a bare qualified select
    item produces the reference's column names, not __gq aliases."""
    from dataclod_spark.session import EngineSession

    _groups_fixture(spark)
    spark.createDataFrame(
        [Row(p="a", seg="S1"), Row(p="b", seg="S2")]
    ).createOrReplaceTempView("groups_dim")
    sess = EngineSession(spark)
    df = sess.sql(
        "SELECT groups_dim.seg, k, sum(v) OVER (PARTITION BY groups_dim.seg "
        "ORDER BY k GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s "
        "FROM groups_t JOIN groups_dim ON groups_t.p = groups_dim.p"
    )
    assert df.columns == ["seg", "k", "s"]
    assert df.count() == 7


@pytest.mark.parametrize(
    "q",
    [
        # qualified FUNCTION call: substitution would change meaning
        "SELECT s.f(x), sum(v) OVER (ORDER BY k GROUPS 1 PRECEDING) FROM t JOIN u ON t.id=u.id",
        # alias.* expansion would leak the rank/projection columns
        "SELECT count(t.*), sum(v) OVER (ORDER BY k GROUPS 1 PRECEDING) FROM t JOIN u ON t.id=u.id",
    ],
)
def test_join_tail_qualified_out_of_scope_still_declines(q):
    assert rw(q) is None


def test_join_groups_sql_executes_with_peer_semantics(spark):
    """End-to-end: GROUPS syntax over a JOIN through EngineSession.sql —
    same peer-group expectations as the single-relation test, with the
    order keys riding in from the joined side."""
    from pyspark.sql import Row

    from dataclod_spark.session import EngineSession

    _groups_fixture(spark)  # (p, k, v) rows as groups_t
    dim = spark.createDataFrame(
        [Row(p="a", seg="S1"), Row(p="b", seg="S2")]
    )
    dim.createOrReplaceTempView("groups_dim")
    sess = EngineSession(spark)
    got = {
        (r.seg, r.k, r.v): r.s
        for r in sess.sql(
            "SELECT seg, k, v, sum(v) OVER (PARTITION BY seg ORDER BY k "
            "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s "
            "FROM groups_t JOIN groups_dim ON groups_t.p = groups_dim.p"
        ).collect()
    }
    want = {
        ("S1", 1, 10): 30,
        ("S1", 1, 20): 30,
        ("S1", 2, 1): 31,
        ("S1", 3, 5): 13,
        ("S1", 3, 7): 13,
        ("S2", 1, 100): 100,
        ("S2", 9, 3): 103,
    }
    assert got == want


def test_join_groups_frames_match_python_reference(spark):
    """Differential fuzz over the JOIN path: random GROUPS frames where
    the partition key arrives from the joined dimension side (exercising
    the __gpk inner projection), vs the same independent Python
    peer-group reference computed on the joined rows."""
    import random

    from pyspark.sql import Row

    from dataclod_spark.session import EngineSession

    rnd = random.Random(7_2026)
    rows = [
        (i, rnd.randint(0, 3), rnd.randint(0, 4), rnd.randint(-5, 9))
        for i in range(50)
    ]
    spark.createDataFrame(rows, "id long, grp_id int, k int, v int")\
        .createOrReplaceTempView("jg_fact")
    dim = [(g, f"seg{g % 2}") for g in range(4)]
    spark.createDataFrame(dim, "grp_id int, seg string")\
        .createOrReplaceTempView("jg_dim")
    sess = EngineSession(spark)

    joined = [(i, dict(dim)[g], k, v) for (i, g, k, v) in rows]

    def py_groups(lo, hi, agg):
        out, parts = {}, {}
        for (i, p, k, v) in joined:
            parts.setdefault(p, []).append((i, k, v))
        for p, rs in parts.items():
            keys = sorted({k for _, k, _ in rs})
            gi = {k: n for n, k in enumerate(keys)}
            for (i, k, v) in rs:
                g = gi[k]
                a = -10**9 if lo is None else g + lo
                b = 10**9 if hi is None else g + hi
                vals = [v2 for (_, k2, v2) in rs if a <= gi[k2] <= b]
                out[i] = (
                    (sum(vals) if vals else None) if agg == "sum"
                    else len(vals) if agg == "count"
                    else (min(vals) if vals else None)
                )
        return out

    def bound_sql(n, side):
        if n is None:
            return f"UNBOUNDED {side}"
        if n == 0:
            return "CURRENT ROW"
        return f"{abs(n)} {'PRECEDING' if n < 0 else 'FOLLOWING'}"

    cases = 0
    while cases < 6:
        lo = rnd.choice([None, -3, -1, 0, 1])
        hi = rnd.choice([None, -1, 0, 2])
        if lo is not None and hi is not None and lo > hi:
            continue
        agg = rnd.choice(["sum", "count", "min"])
        frame = (
            f"GROUPS BETWEEN {bound_sql(lo, 'PRECEDING')} "
            f"AND {bound_sql(hi, 'FOLLOWING')}"
        )
        got = {
            r.id: r.s
            for r in sess.sql(
                f"SELECT id, {agg}(v) OVER (PARTITION BY seg ORDER BY k {frame}) AS s "
                "FROM jg_fact JOIN jg_dim ON jg_fact.grp_id = jg_dim.grp_id"
            ).collect()
        }
        assert got == py_groups(lo, hi, agg), (frame, agg)
        cases += 1


def test_distinct_and_derived_groups_execute(spark):
    """End-to-end through EngineSession.sql: SELECT DISTINCT dedups the
    window output values (two peer rows share k and the peer-group sum),
    and a GROUPS frame inside a derived table computes in its own scope."""
    from dataclod_spark.session import EngineSession

    _groups_fixture(spark)
    sess = EngineSession(spark)
    got = sorted(
        tuple(r)
        for r in sess.sql(
            "SELECT DISTINCT p, k, sum(v) OVER (PARTITION BY p ORDER BY k "
            "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM groups_t"
        ).collect()
    )
    # ('a',1): peers 10+20=30 for both rows -> ONE distinct row
    assert got == [
        ("a", 1, 30),
        ("a", 2, 31),
        ("a", 3, 13),
        ("b", 1, 100),
        ("b", 9, 103),
    ]
    got2 = sorted(
        r.s
        for r in sess.sql(
            "SELECT z.s FROM (SELECT sum(v) OVER (PARTITION BY p ORDER BY k "
            "GROUPS 1 PRECEDING) AS s FROM groups_t) z WHERE z.s > 30"
        ).collect()
    )
    assert got2 == [31, 100, 103]


def test_join_tail_bare_item_alias_preserves_comments():
    """The bare-item re-alias splices in place: a line comment inside the
    select list must not swallow the following items (a strip-and-rejoin
    implementation would glue code after the `--`)."""
    q = (
        "SELECT t.x, -- keep me\n sum(v) OVER (ORDER BY k GROUPS 1 PRECEDING) AS s "
        "FROM t JOIN u ON t.id=u.id"
    )
    out = rw(q)
    assert out is not None
    assert re.search(r"__gq0 AS x\s*,", out)   # re-aliased, comma survives
    assert "-- keep me\n" in out               # comment intact, newline intact
    # a comment SHARING the bare item's segment splices the alias BEFORE
    # the comment (ADVICE r9): the user-visible name is restored and the
    # comment + newline survive in place
    q2 = (
        "SELECT t.x -- trailing\n, sum(v) OVER (ORDER BY k GROUPS 1 PRECEDING) AS s "
        "FROM t JOIN u ON t.id=u.id"
    )
    out2 = rw(q2)
    assert out2 is not None
    assert re.search(r"__gq0 AS x\s*-- trailing\n", out2)
    # block-comment tail: same splice
    q3 = (
        "SELECT t.x /* c */, sum(v) OVER (ORDER BY k GROUPS 1 PRECEDING) AS s "
        "FROM t JOIN u ON t.id=u.id"
    )
    out3 = rw(q3)
    assert out3 is not None
    assert re.search(r"__gq0 AS x\s*/\* c \*/\s*,", out3)
    # a `--` inside a string literal is NOT a comment: the item is a larger
    # expression, so no alias is spliced and the literal is untouched
    q4 = (
        "SELECT concat(t.x, '--not a comment'), "
        "sum(v) OVER (ORDER BY k GROUPS 1 PRECEDING) AS s "
        "FROM t JOIN u ON t.id=u.id"
    )
    out4 = rw(q4)
    assert out4 is not None
    assert "'--not a comment'" in out4 and "AS x" not in out4


def test_split_trailing_comments_properties():
    """_split_trailing_comments invariants on adversarial segments:
    code + tail reconstructs the segment exactly, the tail is only
    comments/whitespace, and quoted `--`/`/*` never start a tail."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dataclod_spark.plans.rewrites import _split_trailing_comments
    from dataclod_spark.plans.sqltext import noncode_span

    def only_comments_ws(tail: str) -> bool:
        i, n = 0, len(tail)
        while i < n:
            kind, end = noncode_span(tail, i)
            if kind in ("line", "block"):
                i = end
            elif tail[i].isspace():
                i += 1
            else:
                return False
        return True

    piece = st.one_of(
        st.sampled_from([
            "t.x", "a + b", "'lit--not'", '"q/*s"', "f(x, y)", " ",
            "\n", "-- line c", "/* blk */", "-- c\n", "`-- id`",
            "0", "x--y",
        ]),
        st.text(alphabet="ax'-/*\n ", min_size=0, max_size=6),
    )

    @settings(max_examples=300, deadline=None)
    @given(st.lists(piece, min_size=0, max_size=6).map("".join))
    def run(seg):
        code, tail = _split_trailing_comments(seg)
        assert code + tail == seg            # exact reconstruction
        assert only_comments_ws(tail)        # tail is inert
        if tail:
            # tail starts at a genuine comment opener in code position
            kind, _ = noncode_span(tail, 0)
            assert kind in ("line", "block")

    run()
    # the quoted-dash trap, pinned explicitly
    from dataclod_spark.plans.rewrites import _split_trailing_comments as sp
    assert sp("x '--in string'") == ("x '--in string'", "")
    assert sp("x -- real\n") == ("x ", "-- real\n")
    assert sp("x /* a */ -- b\n") == ("x ", "/* a */ -- b\n")
    assert sp("x /* a */ y") == ("x /* a */ y", "")
