"""The SQL lexer (``plans/sqltext.py``) and the text-only behaviour built on it.

Two kinds of test, neither needs Spark:

* a golden file pins every ``rewrite_*`` function of ``plans/rewrites.py``
  and pgwire's statement classifier (``_split_statements``,
  ``_statement_head``, ``_returns_rows``, ``_command_tag``) over a fixed
  corpus: the SQL string constants of the rewrite/parameter/pgwire tests,
  the ``bi_wire`` mix, the registry's oracle SQL and ``tests/data/st_sql.txt``.
  Re-record with ``python tests/test_sqltext.py`` (it writes
  ``tests/data/sqltext_golden.json``);
* property tests over adversarial strings: ``split_top`` pieces rejoin to
  the input, ``matching_paren`` agrees with ``code_positions`` depth, and
  ``sub_code`` leaves every literal and comment byte-identical.
"""

from __future__ import annotations

import ast
import json
import os
import re

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GOLDEN = os.path.join(HERE, "data", "sqltext_golden.json")

_SQLISH = re.compile(
    r"(?i)\b(select|with|insert|values|set|create|copy|explain|show|begin|commit|"
    r"from|update|delete|merge|drop|alter|rollback)\b"
)
_SOURCES = (
    "tests/test_groups_rewrite.py",
    "tests/test_session_params.py",
    "tests/test_pgwire.py",
    "perfbench/bi_mix.py",
)


def _string_constants(path: str) -> list[str]:
    with open(os.path.join(ROOT, path)) as f:
        tree = ast.parse(f.read())
    return [
        n.value for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and isinstance(n.value, str) and _SQLISH.search(n.value)
    ]


def _corpus() -> list[str]:
    import __spark_entry__

    out: list[str] = []
    for path in _SOURCES:
        out += _string_constants(path)
    out += [sql for _, sql in sorted(__spark_entry__.oracle_sql().items())]
    with open(os.path.join(HERE, "data", "st_sql.txt")) as f:
        out += [ln.rstrip("\n") for ln in f if ln.strip() and not ln.startswith("--")]
    return list(dict.fromkeys(out))


def _outputs(sql: str) -> dict:
    """Every pinned function's result for ``sql`` (``"="``: the input
    itself (or stripped), also as an element of a tuple or list result; an exception is
    recorded by its repr)."""
    from dataclod_spark.plans import rewrites
    from dataclod_spark.server import pgwire

    def run(fn):
        try:
            res = fn(sql)
        except Exception as e:  # noqa: BLE001 - the error is the output
            return f"raise {e!r}"
        if isinstance(res, (tuple, list)):
            return [
                sorted(x) if isinstance(x, set) else "=" if x in (sql, sql.strip()) else x
                for x in res
            ]
        return "=" if res == sql else res

    return {
        "rewrite_values_tables": run(rewrites.rewrite_values_tables),
        "rewrite_dollar_params": run(rewrites.rewrite_dollar_params),
        "rewrite_pg_catalog_refs": run(rewrites.rewrite_pg_catalog_refs),
        "rewrite_pgcompat_calls": run(rewrites.rewrite_pgcompat_calls),
        "rewrite_information_schema_refs": run(rewrites.rewrite_information_schema_refs),
        "rewrite_groups_frames": run(rewrites.rewrite_groups_frames),
        "_split_statements": run(pgwire._Connection._split_statements),
        "_statement_head": run(pgwire._statement_head),
        "_returns_rows": run(pgwire._returns_rows),
        "_command_tag": run(pgwire._command_tag),
    }


def _record() -> list[dict]:
    return [{"sql": sql, **_outputs(sql)} for sql in _corpus()]


def test_text_rewrites_match_golden():
    with open(GOLDEN) as f:
        golden = json.load(f)
    assert len(golden) > 500
    # a statement added to the corpus since the last recording is pinned by
    # nothing until the golden is re-recorded
    assert [case["sql"] for case in golden] == _corpus()
    diffs = [
        (case["sql"], name, want, got)
        for case in golden
        for name, got in _outputs(case["sql"]).items()
        if (want := case[name]) != got
    ]
    assert not diffs, diffs[:5]


# -- property tests ---------------------------------------------------------

hyp = pytest.importorskip("hypothesis")
st = hyp.strategies

# small alphabet dense in the lexer's special characters: quotes of all
# three kinds, escapes, dollar tags, both comment forms, parens and the
# separators
_ATOMS = st.sampled_from([
    "(", ")", "'", '"', "`", "\\", "$", "$$", "$q$", "--", "/*", "*/", "\n",
    ";", ",", " AND ", "and", "x", "p.id", " ", "SELECT", "'a''b'", "''",
])
_SQL = st.lists(_ATOMS, max_size=30).map("".join)


@hyp.settings(max_examples=400, deadline=None)
@hyp.given(_SQL, st.sampled_from([",", ";", "AND"]))
def test_split_top_pieces_rejoin_to_input(sql, sep):
    from dataclod_spark.plans.sqltext import code_positions, split_top

    pieces = split_top(sql, sep)
    depth = dict(code_positions(sql))
    pos = 0
    for piece in pieces[:-1]:
        pos += len(piece)
        # each cut is a code-position separator, at paren depth 0 unless
        # it ends a statement
        assert pos in depth and (sep == ";" or depth[pos] == 0)
        assert sql[pos:pos + len(sep)].upper() == sep
        pos += len(sep)
    assert sql[pos:] == pieces[-1]
    if sep != "AND":
        assert sep.join(pieces) == sql


@hyp.settings(max_examples=400, deadline=None)
@hyp.given(_SQL)
def test_matching_paren_agrees_with_code_positions(sql):
    from dataclod_spark.plans.sqltext import code_positions, matching_paren

    positions = list(code_positions(sql))
    for k, (i, d) in enumerate(positions):
        if sql[i] != "(":
            continue
        close = matching_paren(sql, i)
        # the first later code position back at the depth outside the '('
        want = next((j for j, dj in positions[k + 1:] if dj == d - 1), None)
        assert close == want
        if close is not None:
            assert sql[close] == ")"


@hyp.settings(max_examples=400, deadline=None)
@hyp.given(_SQL)
def test_sub_code_leaves_literals_and_comments(sql):
    from dataclod_spark.plans.sqltext import noncode_spans, sub_code

    out = sub_code(re.compile(r"p\s*\.\s*(\w+)|AND|x", re.IGNORECASE), sql, lambda m: "#")
    kept = [sql[s:e] for s, e, _ in noncode_spans(sql) if sql[s] != "`"]
    got = [out[s:e] for s, e, _ in noncode_spans(out) if out[s] != "`"]
    assert got == kept


@hyp.settings(max_examples=400, deadline=None)
@hyp.given(_SQL, st.sampled_from([None, "\x01", " "]))
def test_masked_keeps_code_and_length(sql, ident):
    from dataclod_spark.plans.sqltext import code_positions, masked, noncode_spans

    out = masked(sql, ident)
    assert len(out) == len(sql)
    assert all(out[i] == sql[i] for i, _ in code_positions(sql))
    for s, e, _ in noncode_spans(sql):
        if sql[s] == "`" and ident is None:
            assert out[s:e] == sql[s:e]
        elif sql[s] in "`\"" and ident is not None:
            assert out[s:e] == ident * (e - s)
        else:
            assert out[s:e] == "\0" * (e - s)


if __name__ == "__main__":
    import sys

    sys.path.insert(0, ROOT)
    with open(GOLDEN, "w") as f:
        json.dump(_record(), f, indent=0, ensure_ascii=False)
        f.write("\n")
    print("wrote", GOLDEN)
