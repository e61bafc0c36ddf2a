"""The engine's one SQL lexer.

The reference parses each statement once and rewrites the tree
(``rewrite/mod.rs``, the spatial optimizer rule ``optimizer.rs:33-113``).
This engine rewrites SQL *text* (``plans/rewrites.py``,
``plans/spatial_dispatch.py``) and classifies it on the wire
(``server/pgwire.py``), so its lexical rules are its parser.  Every
lexical decision lives here, once:

* what is code and what is a string literal, quoted identifier, dollar
  string or comment (:func:`noncode_span`; :func:`noncode_spans` is the
  one loop that walks them);
* parenthesis depth (:func:`code_positions` is the one counter);
* top-level splitting (:func:`split_top`), paren matching
  (:func:`matching_paren`) and keyword / pattern search over code only
  (:func:`code_matches`, :func:`search_code`, :func:`sub_code`);
* the masked copy every pattern check reads (:func:`masked`) and the
  comment-free copy (:func:`uncommented`).

Backtick-quoted identifiers are non-code spans (their text never counts
as a keyword or a paren), but a pattern that *starts* in code may run
over one: ``b.`col``` is a qualified column reference.
"""

from __future__ import annotations

import bisect
import functools
import re
from typing import Callable, Iterator, Optional

IDENT_RE = re.compile(r"[A-Za-z_]\w*")

# words that can legally follow a relation and must never be taken for
# its alias (`FROM t WHERE …`, `… (VALUES …) AND (y > 1)`, `FROM a NATURAL
# JOIN b`)
RESERVED_ALIAS = frozenset(
    """and or not in is between like where group order union intersect except
    join inner left right full cross natural on using having limit offset
    select from when then else end window qualify asc desc""".split()
)


def _quoted_span(sql: str, i: int) -> int:
    """``sql[i]`` is a quote character (``'``, ``"`` or backtick): return
    the index one past the closing quote.  Matches Spark's default
    tokenization: backslash escapes are live inside ``'…'`` and ``"…"``
    string literals (``escapedStringLiterals=false``), doubled quotes
    escape in all three forms, backticks know no backslash."""
    q = sql[i]
    n = len(sql)
    backslash = q in "'\""
    j = i + 1
    while j < n:
        c = sql[j]
        if backslash and c == "\\":
            j += 2
            continue
        if c == q:
            if j + 1 < n and sql[j + 1] == q:
                j += 2
                continue
            return j + 1
        j += 1
    return n


_DOLLAR_TAG_RE = re.compile(r"\$(?:[A-Za-z_][A-Za-z0-9_]*)?\$")


def noncode_span(sql: str, i: int) -> tuple[str | None, int]:
    """If ``sql[i]`` starts a non-code span, return ``(kind, end)`` with
    ``end`` one past the span; otherwise ``(None, i)``.  Kinds:

    * ``"quote"`` — single/double/backtick literal (Spark escape rules,
      via :func:`_quoted_span`);
    * ``"dollar"`` — PG dollar-quoted string (tags may contain digits
      after the first character, e.g. ``$q1$``);
    * ``"line"`` — ``--`` comment, ending BEFORE the newline (the newline
      stays code so statement splitting keeps it as whitespace);
    * ``"block"`` — ``/* */`` comment; PG block comments NEST (scan.l).

    This is the single source of truth for "what is not SQL code"; every
    scanner reaches it through :func:`noncode_spans`."""
    n = len(sql)
    ch = sql[i]
    if ch in "'\"`":
        return "quote", _quoted_span(sql, i)
    if ch == "$":
        m = _DOLLAR_TAG_RE.match(sql, i)
        if m:
            tag = m.group(0)
            end = sql.find(tag, i + len(tag))
            return "dollar", (n if end < 0 else end + len(tag))
        return None, i
    if ch == "-" and sql[i : i + 2] == "--":
        nl = sql.find("\n", i)
        return "line", (n if nl < 0 else nl)
    if ch == "/" and sql[i : i + 2] == "/*":
        depth, j = 1, i + 2
        while j < n and depth:
            if sql[j : j + 2] == "/*":
                depth, j = depth + 1, j + 2
            elif sql[j : j + 2] == "*/":
                depth, j = depth - 1, j + 2
            else:
                j += 1
        return "block", j
    return None, i


# the characters that can open a non-code span
_SPAN_START_RE = re.compile(r"['\"`$]|--|/\*")


@functools.lru_cache(maxsize=256)
def noncode_spans(sql: str) -> tuple[tuple[int, int, str], ...]:
    """``(start, end, kind)`` of every non-code span of ``sql``, in order."""
    out = []
    i = 0
    while (m := _SPAN_START_RE.search(sql, i)) is not None:
        kind, end = noncode_span(sql, m.start())
        if kind is None:
            i = m.start() + 1
        else:
            out.append((m.start(), end, kind))
            i = end
    return tuple(out)


def sub_noncode(sql: str, repl: Callable[[str, str], str]) -> str:
    """``sql`` with each non-code span replaced by ``repl(kind, text)``."""
    out, last = [], 0
    for s, e, kind in noncode_spans(sql):
        out += [sql[last:s], repl(kind, sql[s:e])]
        last = e
    out.append(sql[last:])
    return "".join(out)


def code_positions(sql: str, start: int = 0, end: Optional[int] = None) -> Iterator[tuple[int, int]]:
    """Yield ``(i, depth)`` for each code character ``sql[i]`` with
    ``start <= i < end``; ``depth`` is the parenthesis depth in force
    after it, counted from ``start`` (an opening paren counts itself, a
    closing one does not, so a pair yields ``d + 1`` and ``d``)."""
    end = len(sql) if end is None else end
    depth, i = 0, start
    for s, e, _ in (*noncode_spans(sql), (end, end, "")):
        if e <= i:
            continue
        for j in range(i, min(s, end)):
            ch = sql[j]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            yield j, depth
        if s >= end:
            return
        i = e


def matching_paren(sql: str, lp: int) -> Optional[int]:
    """Index of the ``)`` closing the ``(`` at ``sql[lp]``; None when the
    statement ends first."""
    return next((i for i, d in code_positions(sql, lp) if d == 0), None)


@functools.lru_cache(maxsize=256)
def masked(sql: str, ident: Optional[str] = None) -> str:
    """``sql`` with every string literal, dollar string and comment
    overwritten by NULs (same length), so a pattern can neither match
    inside one nor run across it; a pattern that should read them as
    whitespace writes ``[\\s\\0]``.  Backtick identifiers are kept.  With
    ``ident``, every quoted identifier instead becomes ``ident`` repeated
    to its length; a quoted identifier is a backtick span or a double-
    quoted one (PG reads ``"x"`` as a name, Spark as a string, and the
    callers of this form are safe under either reading).

    This is the only masked copy of a statement: the lexer's own
    :func:`code_matches` and every validator read it."""
    def fill(kind: str, text: str) -> str:
        if text[0] == "`" and ident is None:
            return text
        if text[0] in '`"' and ident is not None:
            return ident * len(text)
        return "\0" * len(text)

    return sub_noncode(sql, fill)


def uncommented(sql: str) -> str:
    """``sql`` with each comment replaced by one space (SQL reads a
    comment as whitespace); literals and identifiers stay verbatim."""
    return sub_noncode(sql, lambda kind, text: " " if kind in ("line", "block") else text)


def code_matches(regex: "re.Pattern[str]", sql: str, depth: Optional[int] = None) -> Iterator["re.Match[str]"]:
    """Matches of ``regex`` over ``sql``, left to right and
    non-overlapping, that start in code — at paren depth ``depth`` when
    given — and cover no string literal or comment.  A match may start
    at, and run over, a backtick identifier; when ``depth`` is given it
    must start at a code character.  Match groups read as in ``sql``."""
    spans = noncode_spans(sql)
    starts = [s for s, _, _ in spans]
    shadow = masked(sql)
    walk = code_positions(sql) if depth is not None else None
    at, d = -1, 0
    pos = 0
    while (m := regex.search(shadow, pos)) is not None:
        s = m.start()
        k = bisect.bisect_right(starts, s) - 1
        ok = (k < 0 or s >= spans[k][1] or (s == starts[k] and sql[s] == "`")) and (
            "\0" not in m.group()
        )
        if ok and walk is not None:
            while at < s:
                at, d = next(walk, (len(sql), None))
            ok = at == s and d == depth
        if ok:
            yield m
            pos = max(m.end(), s + 1)
        else:
            pos = s + 1


def search_code(regex: "re.Pattern[str]", sql: str, depth: Optional[int] = None) -> Optional["re.Match[str]"]:
    """The first of :func:`code_matches`, or None."""
    return next(code_matches(regex, sql, depth), None)


def sub_code(regex: "re.Pattern[str]", sql: str, repl: Callable[["re.Match[str]"], str]) -> str:
    """``regex.sub(repl, sql)`` over :func:`code_matches` only: string
    literals and comments pass through byte-identical."""
    out, last = [], 0
    for m in code_matches(regex, sql):
        out += [sql[last : m.start()], repl(m)]
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


_SEPARATORS = {
    ",": re.compile(","),
    ";": re.compile(";"),
    "AND": re.compile(r"(?<!\w)AND(?!\w)", re.IGNORECASE),
}


def split_top(sql: str, sep: str = ",") -> list[str]:
    """``sql`` cut at each ``sep`` (``","``, ``";"`` or the keyword
    ``"AND"``) that sits in code at paren depth 0 — a ``";"`` ends a
    statement at any depth, since an unbalanced paren must not glue two
    statements together.  The pieces are unstripped, so joined back with
    the separators they are ``sql``."""
    pieces, last = [], 0
    for m in code_matches(_SEPARATORS[sep], sql, depth=None if sep == ";" else 0):
        pieces.append(sql[last : m.start()])
        last = m.end()
    pieces.append(sql[last:])
    return pieces
