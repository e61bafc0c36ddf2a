"""Statement rewrites applied by ``EngineSession.sql`` before planning.

Mirrors the reference's parse-level statement-rewrite stage
(``src/core/src/rewrite/mod.rs:17-20``, applied per statement in
``context.rs:87-95``).  The reference rewrites pg-specific AST shapes; our
engine-specific rewrite handles a Spark limitation instead: inline ``VALUES``
tables must be foldable, so rows containing non-foldable expressions (e.g.
Python-backed ``ST_*`` UDF calls) are rewritten to a ``UNION ALL`` chain of
SELECTs, which Spark evaluates fine.

Every lexical decision (literals, comments, paren depth, top-level
splitting, keyword search over code) comes from ``plans/sqltext.py``.
"""

from __future__ import annotations

import re

from dataclod_spark.plans.sqltext import (
    IDENT_RE,
    RESERVED_ALIAS,
    code_matches,
    code_positions,
    masked,
    matching_paren,
    noncode_spans,
    search_code,
    split_top,
    sub_code,
)

_VALUES_RE = re.compile(r"\(\s*VALUES\b", re.IGNORECASE)
_ST_CALL_RE = re.compile(r"\bst_\w+\s*\(", re.IGNORECASE)
_ALIAS_RE = re.compile(r"\s*(?:AS\s+)?(\w+)\s*\(([^)]*)\)", re.IGNORECASE)
_ALIAS_WORD_RE = re.compile(r"\s*(?:AS\s+)?(\w+)", re.IGNORECASE)


def _match_alias(after: str):
    """Parse an optional `[AS] name[(col,...)]` table alias at the start of
    ``after``.  Returns (alias, cols, consumed_chars).  Reserved keywords are
    never an alias, and a parenthesized list only counts as alias columns
    when every element is a bare identifier."""
    m = _ALIAS_RE.match(after)
    if m:
        word = m.group(1)
        cols = [c.strip() for c in m.group(2).split(",")]
        if word.lower() not in RESERVED_ALIAS and all(
            IDENT_RE.fullmatch(c) for c in cols
        ):
            return word, cols, m.end()
    m = _ALIAS_WORD_RE.match(after)
    if m and m.group(1).lower() not in RESERVED_ALIAS:
        return m.group(1), None, m.end()
    return None, None, 0


def rewrite_values_tables(sql: str) -> str:
    """Rewrite ``(VALUES (a,b),(c,d)) AS t(x,y)`` → UNION ALL of SELECTs.

    Only fires when the statement contains both VALUES and a non-foldable
    function marker (an ``ST_*(`` call) — plain literal VALUES stay native.
    The gate matches a call shape, not a bare substring: ``first_value``/
    ``last_value`` contain ``st_`` but must not widen exposure.
    """
    if "values" not in sql.lower() or not _ST_CALL_RE.search(sql):
        return sql
    out = sql
    while True:
        m = search_code(_VALUES_RE, out)
        if m is None:
            return out
        open_paren = m.start()
        close_paren = matching_paren(out, open_paren)
        if close_paren is None:
            raise ValueError("unbalanced parentheses")
        inner = out[m.end() : close_paren]  # the rows: (..), (..)
        after = out[close_paren + 1 :]
        alias, cols, consumed = _match_alias(after)
        after = after[consumed:]
        rows = split_top(inner.strip())
        selects = []
        for row in rows:
            row = row.strip()
            if not (row.startswith("(") and row.endswith(")")):
                return sql  # unexpected shape — leave untouched
            exprs = split_top(row[1:-1])
            if cols is not None:
                if len(exprs) != len(cols):
                    return sql
                sel = ", ".join(f"{e.strip()} AS {c}" for e, c in zip(exprs, cols))
            else:
                sel = ", ".join(e.strip() for e in exprs)
            selects.append(f"SELECT {sel}")
        union = " UNION ALL ".join(selects)
        alias_sql = f" {alias}" if alias else ""
        out = out[:open_paren] + f"({union}){alias_sql}" + after


class SqlFragmentParam:
    """A bind-parameter value that must be spliced into the SQL text as a
    fixed server-generated fragment instead of passed through
    ``spark.sql(args=...)`` — Spark only accepts literals / collection
    constructors as args, so e.g. a typed empty array parameter
    (``CAST(array() AS array<int>)``) has no args representation.  The
    fragment is authored by the server (never client text), so splicing
    it is not an injection surface."""

    __slots__ = ("fragment",)

    def __init__(self, fragment: str):
        self.fragment = fragment

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"SqlFragmentParam({self.fragment!r})"


_NAMED_PARAM_RE = re.compile(r":(\w+)")
_DOLLAR_PARAM_RE = re.compile(r"\$(\d+)")


def splice_named_params(sql: str, fragments: dict[str, str]) -> str:
    """Replace ``:name`` markers in code with server-generated SQL
    fragments (parenthesized); literals, quoted identifiers and comments
    are never touched, so a literal that happens to contain ``:__p1``
    survives.  Only for :class:`SqlFragmentParam` values, which have no
    ``spark.sql(args=…)`` representation; the fragment is returned by a
    function (no regex template), so backslashes pass through verbatim."""
    return sub_code(
        _NAMED_PARAM_RE, sql,
        lambda m: f"({fragments[m.group(1)]})" if m.group(1) in fragments else m.group(0),
    )


def rewrite_dollar_params(sql: str) -> tuple[str, list[int]]:
    """Rewrite PostgreSQL positional parameters ``$1..$n`` to Spark named
    parameters ``:__p1..:__pn``.

    The reference accepts ``$n`` placeholders through the extended protocol
    (``server/src/postgres/parser.rs:31-44`` → LogicalPlan parameter
    substitution); Spark's parameterized SQL uses named ``:name`` markers,
    so the shim renames them and EngineSession maps a positional argument
    list onto the generated names.  Code only: a ``$2`` inside a literal,
    a dollar string or a comment (``-- fallback for $2``) is not a
    parameter, or Bind would reject a valid statement.

    Returns (rewritten_sql, sorted list of parameter indices used).
    """
    used: set[int] = set()

    def repl(m: "re.Match[str]") -> str:
        used.add(int(m.group(1)))
        return f":__p{int(m.group(1))}"

    return sub_code(_DOLLAR_PARAM_RE, sql, repl), sorted(used)


_PG_CATALOG_QUAL_RE = re.compile(r"\bpg_catalog\s*\.\s*(\w+)", re.IGNORECASE)
# a pg_catalog view once qualified names are rewritten: the pg_catalog_
# spelling or the bare public alias
_PG_VIEW_REF_RE = re.compile(
    r"\b(?:pg_catalog_)?(pg_type|pg_namespace|pg_database|pg_class|pg_description)\b",
    re.IGNORECASE,
)


def rewrite_pg_catalog_refs(sql: str) -> tuple[str, set[str]]:
    """``pg_catalog.pg_X`` → ``pg_catalog_pg_X``; ``pg_catalog.other`` →
    bare ``other``.

    The pg_catalog tables are Spark temp views, which cannot be
    schema-qualified; the reference registers them under the real
    ``pg_catalog`` schema (``catalog/mod.rs``), and pg clients (psql's
    ``\\d``, BI tools) always qualify — TABLES and FUNCTIONS alike
    (``pg_catalog.format_type(...)``, ``pg_catalog.version()``).  The
    ``pg_``-prefixed names map to their registered ``pg_catalog_``
    spellings (views AND the pg_* compat UDFs, which pgcompat registers
    under both names); everything else de-qualifies to the bare name
    (format_type, array_upper, current_schemas, version, current_schema —
    no view shares those names).  Code spans only — the qualified name
    inside a string literal is data, not a reference.  Returns the
    rewritten statement and the pg_catalog views (``pg_type``, …) it
    reads in any spelling, which EngineSession.sql builds on first use."""

    def repl(m: "re.Match[str]") -> str:
        name = m.group(1)
        if name.lower().startswith("pg_"):
            return f"pg_catalog_{name}"
        return name

    sql = sub_code(_PG_CATALOG_QUAL_RE, sql, repl)
    return sql, {m.group(1).lower() for m in code_matches(_PG_VIEW_REF_RE, sql)}


# bare zero-arg calls that must resolve to the pg-compat UDFs instead of
# Spark's builtins (the builtin wins name resolution, so registering a UDF
# named `version` would be dead code): version() → 'PostgreSQL 14.10 on
# dataclod' (version.rs:9 — client probes regex-parse this), and
# current_schema() → 'public' (current_schema.rs:37-41; Spark's builtin says
# 'default').  The lookbehind rejects dotted/suffixed spellings so only the
# bare builtin-colliding call is rewritten.
_PGCOMPAT_CALL_RE = re.compile(
    r"(?<![\w.])(version|current_schema)\s*\(\s*\)", re.IGNORECASE
)
_PGCOMPAT_CALL_MAP = {"version": "dataclod_version", "current_schema": "pg_current_schema"}


def rewrite_pgcompat_calls(sql: str) -> str:
    """Map bare ``version()`` / ``current_schema()`` calls to the pg-compat
    UDF spellings (code spans only).  Runs AFTER rewrite_pg_catalog_refs,
    so ``pg_catalog.version()`` de-qualifies first and lands here."""
    return sub_code(
        _PGCOMPAT_CALL_RE, sql, lambda m: f"{_PGCOMPAT_CALL_MAP[m.group(1).lower()]}()"
    )


# the qualified spelling and the temp view name it maps to
_INFO_SCHEMA_REF_RE = re.compile(
    r"\binformation_schema(?:\s*\.\s*|_)(tables|columns|schemata)", re.IGNORECASE
)


def rewrite_information_schema_refs(sql: str) -> tuple[str, set[str]]:
    """``information_schema.X`` → ``information_schema_X`` temp views
    (rebuilt on use by EngineSession.sql; reference enables DataFusion's
    information_schema at context.rs:33).  Code spans only.  Returns the
    rewritten statement and the views (``tables``/``columns``/
    ``schemata``) it reads, in either spelling."""
    views: set[str] = set()

    def repl(m: "re.Match[str]") -> str:
        views.add(m.group(1).lower())
        return f"information_schema_{m.group(1).lower()}"

    return sub_code(_INFO_SCHEMA_REF_RE, sql, repl), views


# --- GROUPS window frames -> dense_rank + RANGE emulation ------------------
#
# DataFusion's default SQL surface accepts GROUPS frames (reference
# src/core/src/context.rs:49-52 enables the full sqlparser feature set);
# Spark has ROWS and RANGE only.  A GROUPS offset counts *peer groups* of
# the window ORDER BY key — and dense_rank() over the same
# (PARTITION BY, ORDER BY) is consecutive per peer group, so a RANGE
# offset of n over the rank spans exactly n peer groups (the w5 recipe,
# COVERAGE §2.B).  This rewrite makes the SQL syntax itself work: a
# statement whose window specs carry GROUPS frames is restructured to
#
#   SELECT <list with GROUPS specs rewritten to RANGE-over-__grpN>
#   FROM (SELECT *, DENSE_RANK() OVER (PARTITION BY p ORDER BY k) AS __grpN
#         FROM <relation> [WHERE ...]) <alias>
#   [ORDER BY ... / LIMIT ...]
#
# Scope (decline -> return None -> the statement reaches Spark unchanged,
# i.e. today's parse error):
#   * main query and/or simple WITH-prefix CTE bodies; per block:
#   * SELECT <list> FROM <single relation [AS alias]> [WHERE ...]
#     [ORDER BY ...] [LIMIT/OFFSET ...] — no top-level GROUP BY / HAVING /
#     QUALIFY / DISTINCT / set ops / named WINDOW clause / join tails
#     (the subquery wrap cannot preserve multiple relation aliases);
#   * no bare `*` / `alias.*` at the top of the select list (the wrap
#     would leak the helper rank columns through it);
#   * integer-literal GROUPS bounds, no EXCLUDE clause.
# Any GROUPS frame left unrewritten anywhere in the statement (nested
# subquery, outer ORDER BY, unsupported shape) declines the WHOLE rewrite
# — partial emulation would silently change semantics.

_GROUPS_HINT_RE = re.compile(r"(?i)\bGROUPS\b")
_GB = r"(?:UNBOUNDED\s+PRECEDING|UNBOUNDED\s+FOLLOWING|CURRENT\s+ROW|\d+\s+(?:PRECEDING|FOLLOWING))"
_GROUPS_FRAME_RE = re.compile(
    rf"(?is)\bGROUPS\s+(?:BETWEEN\s+(?P<lo>{_GB})\s+AND\s+(?P<hi>{_GB})|(?P<single>{_GB}))\s*$"
)
_OVER_RE = re.compile(r"(?<!\w)OVER(?!\w)", re.IGNORECASE)
_SPEC_KW_RE = re.compile(r"(?<!\w)(?:PARTITION|ORDER|GROUPS)(?!\w)", re.IGNORECASE)
_BLOCK_KW_RE = re.compile(
    r"(?<!\w)(?:SELECT|FROM|GROUP|HAVING|QUALIFY|WINDOW|UNION|INTERSECT|EXCEPT"
    r"|ORDER|LIMIT|OFFSET|DISTINCT)(?!\w)",
    re.IGNORECASE,
)
# what the select-list walk stops at: a paren group or an OVER keyword
_PAREN_OR_OVER_RE = re.compile(r"\(|(?<!\w)OVER(?!\w)", re.IGNORECASE)
_LPAREN_RE = re.compile(r"\(")


def _span_end(sql: str, lp: int) -> int:
    """Index one past the ')' matching ``sql[lp] == '('``; ``len(sql)``
    when unbalanced."""
    close = matching_paren(sql, lp)
    return len(sql) if close is None else close + 1


def _over_paren(sql: str, end: int) -> int | None:
    """Index of the '(' opening the window spec of an ``OVER`` keyword
    ending at ``end`` (whitespace and comments skipped), else None."""
    j = next((j for j, _ in code_positions(sql, end) if not sql[j].isspace()), None)
    return j if j is not None and sql[j] == "(" else None


def _top_level_kw(sql: str, regex: "re.Pattern[str]") -> list[tuple[str, int]]:
    """(WORD, position) for each keyword hit at paren depth 0."""
    return [(m.group().upper(), m.start()) for m in code_matches(regex, sql, depth=0)]


def _rewrite_window_body(body: str) -> tuple[str, str, str] | None:
    """If ``body`` (an OVER-spec interior) ends in a GROUPS frame, return
    (partition_clause_text_or_'', order_by_expr_text, range_frame_text).
    Callers splice the rank column name between the pieces with plain
    concatenation — never ``str.format``, which would treat literal
    braces in user SQL (e.g. the ``{2}`` in ``regexp_extract(k, 'a{2}',
    0)`` inside PARTITION BY) as format fields and raise IndexError.
    None when there is no GROUPS frame; raises _Decline on an
    unsupported GROUPS shape."""
    hits = dict(_top_level_kw(body, _SPEC_KW_RE))
    if "GROUPS" not in hits:
        return None
    if "ORDER" not in hits:
        raise _Decline("GROUPS frame without ORDER BY")
    gpos = hits["GROUPS"]
    # the $ anchor requires the frame to END the spec — an EXCLUDE clause
    # (or any other trailing syntax) declines
    m = _GROUPS_FRAME_RE.match(body[gpos:])
    if not m:
        raise _Decline("unsupported GROUPS frame shape")
    lo = m.group("lo") or m.group("single")
    hi = m.group("hi") or "CURRENT ROW"
    part = body[hits["PARTITION"] : hits["ORDER"]].strip() if "PARTITION" in hits else ""
    order_expr = body[hits["ORDER"] : gpos].strip()
    # strip the leading ORDER BY
    ob = re.match(r"(?is)^ORDER\s+BY\s+(.*)$", order_expr)
    if not ob:
        raise _Decline("malformed window ORDER BY")
    order_keys = ob.group(1).strip()
    lo_n = re.sub(r"(?is)\s+", " ", lo).upper()
    hi_n = re.sub(r"(?is)\s+", " ", hi).upper()
    frame = "RANGE BETWEEN " + lo_n + " AND " + hi_n
    return part, order_keys, frame


class _Decline(Exception):
    """Internal: this statement shape is out of rewrite scope."""


_QUALREF_RE = re.compile(r"(?:[A-Za-z_]\w*|\x01)[\s\0]*\.[\s\0]*(?:[A-Za-z_]\w*|\x01)")
# a column-reference chain: identifier parts (plain or backtick-quoted)
# joined by dots; ``last`` is the chain's terminal part
_PART = r"(?:[A-Za-z_]\w*|`(?:[^`]|``)*`)"
_CHAIN_RE = re.compile(rf"{_PART}(?:\s*\.\s*(?P<last>{_PART}))*")
_CHAIN_TAIL_RE = re.compile(r"\s*(?:\.\s*(?P<star>\*)|\()")


def _inline_qualified_refs(
    segments: list[str],
) -> tuple[list[str], list[str], dict[str, str]]:
    """Rewrite every qualified column-reference chain (``a.col``,
    ``a.b.c``, backtick parts included) in CODE positions of ``segments``
    to a private projected alias, returning the rewritten segments, the
    projection list (``["a.col AS __gq0", ...]``) to add INSIDE the
    join-wrap subquery — where the original relation aliases are still in
    scope, so each chain resolves exactly as it did in the original
    statement's outer scope — and a ``{__gqN: terminal_part}`` map (the
    chain's LAST identifier, backticks preserved) so the caller can
    restore the user-visible column name where a chain was a whole
    unaliased select item (``SELECT t.x`` names its column ``x``, not
    ``__gq0``).  Declines qualified FUNCTION calls (dotted name followed
    by ``(``) and ``alias.*`` expansion — substituting either would
    change meaning."""
    subs: dict[str, str] = {}
    terminals: dict[str, str] = {}
    proj: list[str] = []

    def repl(m: "re.Match[str]") -> str:
        tail = _CHAIN_TAIL_RE.match(m.string, m.end())
        if tail and tail.group("star"):
            raise _Decline("alias.* expansion in join wrap")
        if m.group("last") is None:
            return m.group()
        if tail:
            raise _Decline("qualified function call in join wrap")
        key = re.sub(r"\s+", "", m.group())
        if key not in subs:
            subs[key] = f"__gq{len(subs)}"
            proj.append(f"{m.group()} AS {subs[key]}")
            terminals[subs[key]] = m.group("last")
        return subs[key]

    return [sub_code(_CHAIN_RE, text, repl) for text in segments], proj, terminals


def _alias_bare_gq_items(select_list: str, terminals: dict[str, str]) -> str:
    """Restore user-visible column names after :func:`_inline_qualified_refs`:
    a select-list item that is EXACTLY a substituted chain with no AS alias
    (``SELECT t.x, ...`` → ``SELECT __gq0, ...``) would surface as column
    ``__gq0``, but the reference engine names it after the chain's terminal
    part (``x``).  Re-emit such items as ``__gqN AS <terminal>``.

    Splices IN PLACE: only the matched identifier's segment is touched
    (``seg.rstrip() + " AS x" + trailing``), never the list structure —
    re-joining stripped items would glue code after ``--`` line comments.
    A segment whose code part is exactly the identifier but that CARRIES
    trailing comments (``SELECT t.x -- c``) splices the alias BEFORE the
    comment tail (``__gq0 AS x -- c``) so the user-visible name is still
    restored (ADVICE r9).  Items where the alias is embedded in a larger
    expression or already carries an AS are left alone — their output
    name is unaffected (or ambiguous) and conservatism is free here."""
    out: list[str] = []
    for idx, seg in enumerate(split_top(select_list)):
        body = seg
        if idx == 0:
            m = re.match(r"(?is)^\s*DISTINCT\b", body)
            if m:
                body = body[m.end() :]
        token = body.strip()
        if token in terminals:
            stripped = seg.rstrip()
            trail = seg[len(stripped) :]
            seg = f"{stripped} AS {terminals[token]}{trail}"
        else:
            # the code part may be exactly the identifier with a trailing
            # comment suffix — splice the alias before the comments
            code, tail = _split_trailing_comments(body)
            tok = code.strip()
            if tail and tok in terminals:
                off = len(seg) - len(body)
                code_stripped = code.rstrip()
                seg = (
                    seg[:off]
                    + code_stripped
                    + f" AS {terminals[tok]}"
                    + code[len(code_stripped) :]
                    + tail
                )
        out.append(seg)
    return ",".join(out)


def _split_trailing_comments(seg: str) -> tuple[str, str]:
    """Split ``seg`` into ``(code, tail)`` where ``tail`` is the longest
    suffix made solely of ``--``/``/* */`` comments and whitespace
    (noncode-aware, so a ``--`` inside a string literal never counts).
    ``tail == ""`` when the segment ends in code."""
    cut = len(seg)
    for start, end, kind in reversed(noncode_spans(seg)):
        if kind not in ("line", "block") or seg[end:cut].strip():
            break
        cut = start
    return seg[:cut], seg[cut:]


def _has_qualified_ref(text: str) -> bool:
    """True when a dotted identifier (``alias.col`` / ``a.b.c`` /
    struct-field access, plain or backtick-quoted) appears in a CODE
    position of ``text``.  Used to gate the join-tail GROUPS rewrite: the
    join product is hidden behind one subquery alias, so any qualified
    reference left OUTSIDE the subquery would stop resolving — those
    statements decline instead.  Conservative by design (a dotted
    function name also declines).  Reads the lexer's masked copy, where a
    quoted identifier is a ``\\x01`` run and a string or comment a NUL run
    (whitespace around the dot), so quoting cannot hide or fake a dot."""
    return _QUALREF_RE.search(masked(text, ident="\x01")) is not None


def _rewrite_nested_selects(sql: str) -> tuple[str, bool]:
    """Pre-pass: rewrite GROUPS frames inside every parenthesized SELECT
    body (derived tables, scalar subqueries) of ``sql``, recursively —
    each nested block is its own window scope, so
    :func:`_rewrite_block_groups` applies to it verbatim.  A nested
    block that declines is left untouched (its surviving GROUPS frame
    makes the OUTER block decline via the survival checks).  Returns the
    spliced text and whether anything changed."""
    out: list[str] = []
    last = skip = 0
    changed = False
    for m in code_matches(_LPAREN_RE, sql):
        i = m.start()
        if i < skip:
            continue  # inside a group already handled whole
        skip = _span_end(sql, i)
        inner = sql[i + 1 : skip - 1]
        nb = None
        if _GROUPS_HINT_RE.search(inner):
            if re.match(r"(?is)^\s*SELECT\b", inner):
                try:
                    nb = _rewrite_block_groups(inner)
                except _Decline:
                    nb = None
            else:
                nb, ch = _rewrite_nested_selects(inner)
                nb = nb if ch else None
        if nb is not None:
            out += [sql[last:i], "(" + nb + ")"]
            last, changed = skip, True
    out.append(sql[last:])
    return "".join(out), changed


def _rewrite_block_groups(sql: str) -> str | None:
    """Rewrite one SELECT block (no WITH prefix).  Returns the rewritten
    text, or None when the block has no GROUPS frame.  Raises _Decline
    when it HAS one that cannot be safely rewritten."""
    if not _GROUPS_HINT_RE.search(sql):
        return None

    # ---- nested blocks first (derived tables, scalar subqueries) ------
    sql, pre_changed = _rewrite_nested_selects(sql)
    if not _GROUPS_HINT_RE.search(sql):
        # every frame lived in (successfully rewritten) nested blocks
        return sql if pre_changed else None

    # ---- locate SELECT ... FROM ... at top level -----------------------
    kws = _top_level_kw(sql, _BLOCK_KW_RE)
    if not kws or kws[0][0] != "SELECT":
        raise _Decline("not a plain SELECT block")
    sel_pos = kws[0][1]
    by_word: dict[str, int] = {}
    for w, p in kws[1:]:
        by_word.setdefault(w, p)
    if {"GROUP", "HAVING", "QUALIFY", "WINDOW", "UNION", "INTERSECT", "EXCEPT"} & by_word.keys():
        raise _Decline("top-level clause out of scope")
    # SELECT DISTINCT passes through: DISTINCT dedups the outer select
    # list's VALUES, which the rewrite leaves identical (the rank columns
    # live inside the wrap and are not selected), so it applies after the
    # window exactly as the original statement intends
    if "FROM" not in by_word:
        raise _Decline("no FROM clause")
    from_pos = by_word["FROM"]
    tail_cut = min(
        (by_word[w] for w in ("ORDER", "LIMIT", "OFFSET") if w in by_word),
        default=len(sql),
    )
    select_list = sql[sel_pos + len("SELECT") : from_pos]
    # peel a leading DISTINCT so the bare-* guard still sees the list
    # head (SELECT DISTINCT * must decline like SELECT *)
    mdist = re.match(r"(?is)^\s*DISTINCT\b", select_list)
    distinct_kw = ""
    if mdist:
        distinct_kw = select_list[: mdist.end()]
        select_list = select_list[mdist.end() :]
    inner_tail = sql[from_pos + len("FROM") : tail_cut]
    outer_tail = sql[tail_cut:]

    # ---- classify the FROM tail up front --------------------------------
    # Single relation [+ WHERE]: alias-preserving wrap (qualified refs in
    # the outer select list keep resolving).  Anything else — joins, comma
    # products, derived tables — is "join mode": the WHOLE tail goes inside
    # the rank subquery verbatim (its own aliases stay in scope there for
    # the DENSE_RANK keys and the ON/WHERE text), hidden behind one alias,
    # and the rewrite declines below if the OUTER text still holds a
    # qualified reference.
    mrel = re.match(
        r"(?is)^\s*(?P<rel>(?:[A-Za-z_]\w*|`[^`]+`)(?:\s*\.\s*(?:[A-Za-z_]\w*|`[^`]+`))*)"
        r"(?:\s+(?:AS\s+)?(?P<alias>(?!WHERE\b|ORDER\b|LIMIT\b|OFFSET\b|JOIN\b|ON\b|USING\b)"
        r"(?:[A-Za-z_]\w*|`[^`]+`)))?"
        r"(?P<rest>\s+WHERE\b.*)?\s*$",
        inner_tail,
    )
    join_mode = mrel is None
    if join_mode and not inner_tail.strip():
        raise _Decline("no FROM relation")

    # ---- bare * / alias.* in the select list leaks rank columns --------
    prev_code = ""
    for i, depth in code_positions(select_list):
        ch = select_list[i]
        if ch == "*" and depth == 0 and prev_code in ("", ",", "."):
            raise _Decline("top-level * in select list")
        if not ch.isspace():
            prev_code = ch

    # ---- rewrite each OVER (...) spec in the select list ---------------
    # key -> (rank_col_name, partition_clause_text, order_keys_text,
    #         partition_key_expr_list)
    ranks: dict[tuple[str, str], tuple[str, str, str, list[str]]] = {}
    out: list[str] = []
    last = skip = 0
    changed = False
    for m in code_matches(_PAREN_OR_OVER_RE, select_list):
        i = m.start()
        if i < skip:
            continue
        if m.group() == "(":
            span_end = _span_end(select_list, i)
            inner = select_list[i + 1 : span_end - 1]
            if re.match(r"(?is)^\s*SELECT\b", inner):
                # nested scalar subquery: its window functions belong to
                # its own block — any GROUPS frame inside is out of scope
                if _GROUPS_HINT_RE.search(inner):
                    for _, bl, br in _find_over_specs(inner):
                        if _GROUPS_FRAME_RE.search(inner[bl + 1 : br - 1]):
                            raise _Decline("GROUPS frame in nested subquery")
                skip = span_end
            continue
        j = _over_paren(select_list, m.end())
        if j is None:
            continue
        skip = _span_end(select_list, j)
        res = _rewrite_window_body(select_list[j + 1 : skip - 1])
        if res is None:
            continue
        part, order_keys, frame = res
        key = (
            re.sub(r"(?is)\s+", " ", part).strip().upper(),
            re.sub(r"(?is)\s+", " ", order_keys).strip().upper(),
        )
        if key not in ranks:
            mp = re.match(r"(?is)^PARTITION\s+BY\s+(.*)$", part)
            pks = [p.strip() for p in split_top(mp.group(1))] if mp else []
            if pks and not pks[-1]:
                pks.pop()
            ranks[key] = (f"__grp{len(ranks)}", part, order_keys, pks)
        grp, part, _, pks = ranks[key]
        if join_mode:
            # partition keys were projected inside the subquery as
            # __gpk{N}_{j}; reference those, not the original expressions
            # (whose relation aliases are hidden)
            pclause = (
                "PARTITION BY "
                + ", ".join(f"__gpk{grp[5:]}_{j}" for j in range(len(pks)))
                + " "
                if pks
                else ""
            )
        else:
            pclause = (part + " ") if part else ""
        out += [
            select_list[last:i],
            "OVER (" + pclause + "ORDER BY " + grp + " " + frame + ")",
        ]
        last, changed = skip, True
    out.append(select_list[last:])
    if not changed:
        # hint word was an identifier / in a string — nothing to do here,
        # but a GROUPS frame elsewhere in the block (outer ORDER BY, a
        # declined FROM subquery) is out of scope
        for _, bl, br in _find_over_specs(sql):
            if _GROUPS_FRAME_RE.search(sql[bl + 1 : br - 1]):
                raise _Decline("GROUPS frame outside the select list")
        return sql if pre_changed else None
    new_select_list = distinct_kw + "".join(out)

    # a GROUPS frame must not survive anywhere else in the block
    for seg in (inner_tail, outer_tail):
        for _, bl, br in _find_over_specs(seg):
            if _GROUPS_FRAME_RE.search(seg[bl + 1 : br - 1]):
                raise _Decline("GROUPS frame outside the select list")

    if join_mode:
        # ---- join / multi-relation FROM tail (verbatim wrap) ------------
        # Qualified refs in the OUTER text (select list after the OVER
        # rewrite — window args and plain expressions — or the trailing
        # ORDER BY/LIMIT) would no longer resolve behind the subquery
        # alias.  Each chain is therefore PROJECTED inside the wrap under
        # a private alias (the subquery's FROM is the original join tail
        # verbatim, so the chain resolves there exactly as it did in the
        # original outer scope) and the outer occurrence replaced with
        # that alias.  Shapes where substitution could change meaning —
        # qualified function calls, alias.* — decline inside
        # _inline_qualified_refs; anything its scanner cannot account for
        # is caught by the shadow-scan belt below.
        (new_select_list, outer_tail), qual_proj, terminals = _inline_qualified_refs(
            [new_select_list, outer_tail]
        )
        if terminals:
            # a whole unaliased select item `t.x` must still surface as
            # column `x`, not as the private alias
            new_select_list = _alias_bare_gq_items(new_select_list, terminals)
        if _has_qualified_ref(new_select_list) or _has_qualified_ref(outer_tail):
            raise _Decline("qualified column reference outside the join wrap")
        proj: list[str] = []
        for name, part, order_keys, pks in ranks.values():
            proj.extend(
                f"{e} AS __gpk{name[5:]}_{j}" for j, e in enumerate(pks)
            )
            proj.append(
                f"DENSE_RANK() OVER ({(part + ' ') if part else ''}"
                f"ORDER BY {order_keys}) AS {name}"
            )
        proj.extend(qual_proj)
        inner_sql = f"SELECT *, {', '.join(proj)} FROM{inner_tail}"
        return (
            sql[:sel_pos]
            + "SELECT"
            + new_select_list
            + f"FROM ({inner_sql}) __j "
            + outer_tail
        )

    # ---- single-relation FROM tail (alias-preserving wrap) -------------
    rel = mrel.group("rel")
    alias = mrel.group("alias")
    where = mrel.group("rest") or ""
    sub_alias = alias or rel.split(".")[-1].strip()
    rank_exprs = ", ".join(
        f"DENSE_RANK() OVER ({(part + ' ') if part else ''}ORDER BY {order_keys}) AS {name}"
        for name, part, order_keys, _pks in ranks.values()
    )
    inner_sql = (
        f"SELECT *, {rank_exprs} FROM {rel}"
        + (f" AS {alias}" if alias else "")
        + where
    )
    return (
        sql[:sel_pos]
        + "SELECT"
        + new_select_list
        + f"FROM ({inner_sql}) {sub_alias} "
        + outer_tail
    )


def _find_over_specs(sql: str) -> list[tuple[int, int, int]]:
    """Every ``OVER ( ... )`` span in code: (over_pos, lparen, end)."""
    res: list[tuple[int, int, int]] = []
    skip = 0
    for m in code_matches(_OVER_RE, sql):
        j = _over_paren(sql, m.end()) if m.start() >= skip else None
        if j is not None:
            skip = _span_end(sql, j)
            res.append((m.start(), j, skip))
    return res


def rewrite_groups_frames(sql: str) -> str | None:
    """Statement-level GROUPS-frame rewrite: main block + simple WITH
    prefix CTE bodies.  Returns the rewritten statement or None (leave
    the statement untouched — either no GROUPS frame, or a shape out of
    scope, in which case Spark's parse error stands and COVERAGE §2.B
    documents the manual recipe)."""
    if not _GROUPS_HINT_RE.search(sql):
        return None
    try:
        # WITH prefix: rewrite each CTE body independently
        m = re.match(r"(?is)^\s*WITH\s+", sql)
        prefix_out = ""
        rest = sql
        if m:
            pos = m.end()
            pieces: list[str] = [sql[:pos]]
            while True:
                h = re.compile(r"\s*([A-Za-z_]\w*)\s+AS\s*\(", re.IGNORECASE).match(sql, pos)
                if not h:
                    return None  # recursive/exotic WITH: out of scope
                body_start = h.end()  # one past '('
                body_end = _span_end(sql, body_start - 1)  # past ')'
                body = sql[body_start : body_end - 1]
                new_body = _rewrite_block_groups(body)
                pieces.append(sql[pos : body_start])
                pieces.append(new_body if new_body is not None else body)
                pieces.append(")")
                pos = body_end
                mc = re.compile(r"\s*,").match(sql, pos)
                if mc:
                    pieces.append(sql[pos : mc.end()])
                    pos = mc.end()
                    continue
                break
            prefix_out = "".join(pieces)
            rest = sql[pos:]
        new_rest = _rewrite_block_groups(rest)
        candidate = prefix_out + (new_rest if new_rest is not None else rest)
        if candidate == sql:
            return None
        # belt-and-suspenders: no GROUPS frame may survive the rewrite
        for _, bl, br in _find_over_specs(candidate):
            if _GROUPS_FRAME_RE.search(candidate[bl + 1 : br - 1]):
                return None
        return candidate
    except _Decline:
        return None
