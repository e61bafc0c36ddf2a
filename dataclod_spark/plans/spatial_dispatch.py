"""SQL-path spatial join dispatch — SURVEY.md §2.A.1 / §7 Phase 4 v2.

The reference's optimizer rewrites ``JOIN ... ON ST_Intersects(a.g, b.g)``
into its SpatialJoinExec (``spatial/src/join/planner/optimizer.rs:33-113``;
recognized predicate set incl. the ``ST_Distance(a,b) < d`` pattern in
``spatial_expr_utils.rs:20-76``).  Without that dispatch, Spark plans the
same SQL as a BroadcastNestedLoopJoin evaluating the predicate UDF on the
full cross product — O(n·m) rows through Python.

This module is the Spark-side analogue, applied at the SQL-text level in
``EngineSession.sql`` (the engine's only SQL entry, mirroring where the
reference hooks its logical rewrite): a join whose ON condition is a
recognized spatial predicate is rewritten into the *same* grid equi-join the
DataFrame operator ``operators.spatial_join`` produces —

  1. each side gains flat bbox columns ``__bbx0…__bbe`` (one
     Arrow-batched UDF, or codegen expressions over a registered bbox) and
     explodes to its grid cells (pure-JVM quantile-bucket arithmetic over
     boundary literals sampled from the build side);
  2. the ON condition becomes ``a.__cell = b.__cell`` + bbox-overlap
     conjuncts + reference-point dedup + the original predicate as the
     exact refine filter.

Catalyst then plans a shuffled hash / sort-merge join on the cell id with
the refine UDF as a post-join filter — the scalable plan shape — instead of
a nested-loop cross product.

Scope (conservative — anything else falls back to default planning
unchanged, which is always correct, just slower):
* single ``FROM <rel> [AS] a [INNER] JOIN <rel> [AS] b ON <pred>`` where
  ``<rel>`` is a named relation — a table, temp view, or a CTE defined in
  the query's own WITH clause (resolved against the WITH prefix);
* ``<pred>`` is one of the reference's join predicates over ``alias.column``
  geometry references, optionally AND-ed with extra conjuncts (kept as
  plain join filters);
* LEFT/RIGHT/FULL OUTER spatial joins (single spatial conjunct) route
  through the DataFrame operator's outer completion
  (:func:`try_outer_spatial_join`): the joined frame is registered as a
  temp view and the statement's alias-qualified references are rewritten
  against it — mirroring ``optimizer.rs:33-113`` + ``exec.rs:47-131``
  supporting every join type.

Every lexical decision (literals, comments, paren depth, top-level
splitting, keyword search over code) comes from ``plans/sqltext.py``.
"""

from __future__ import annotations

import itertools
import re
from typing import Optional

from dataclod_spark.plans.sqltext import (
    IDENT_RE,
    RESERVED_ALIAS,
    code_matches,
    code_positions,
    masked,
    matching_paren,
    search_code,
    split_top,
    sub_code,
    uncommented,
)

# join predicates recognized by the reference's planner
# (spatial_expr_utils.rs:20-76)
_SYMMETRIC = {
    "st_intersects", "st_touches", "st_overlaps", "st_equals",
    "st_crosses", "bbox_intersects",
}
_ASYMMETRIC = {"st_contains", "st_within", "st_covers", "st_coveredby", "st_covered_by"}
_JOIN_PREDICATES = _SYMMETRIC | _ASYMMETRIC

_FROM_JOIN_RE = re.compile(
    r"\bFROM\s+(?P<lt>[A-Za-z_][\w.]*)\s+(?:AS\s+)?(?P<la>[A-Za-z_]\w*)\s+"
    r"(?:INNER\s+)?JOIN\s+(?P<rt>[A-Za-z_][\w.]*)\s+(?:AS\s+)?(?P<ra>[A-Za-z_]\w*)\s+"
    r"ON\s+",
    re.IGNORECASE,
)

# ST_Pred(a.g, b.g[, extra literal args])
_PRED_CALL_RE = re.compile(
    r"^(?P<fn>ST_\w+|BBox_Intersects)\s*\(\s*"
    r"(?P<a1>[A-Za-z_]\w*)\.(?P<c1>[A-Za-z_]\w*)\s*,\s*"
    r"(?P<a2>[A-Za-z_]\w*)\.(?P<c2>[A-Za-z_]\w*)\s*"
    r"(?:,\s*(?P<extra>[0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)\s*)?\)$",
    re.IGNORECASE,
)

# ST_Distance(a.g, b.g) < d  /  <= d   (spatial_expr_utils.rs:29-36)
_DIST_CMP_RE = re.compile(
    r"^(?P<call>ST_Distance\s*\(\s*[A-Za-z_]\w*\.[A-Za-z_]\w*\s*,\s*"
    r"[A-Za-z_]\w*\.[A-Za-z_]\w*\s*\))\s*(?P<op><=|<)\s*"
    r"(?P<d>[0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)$",
    re.IGNORECASE,
)

# fn name -> exact-verdict predicate key (``bbox`` = the bbox conjuncts ARE
# the whole predicate; no refine stage at all)
_PRED_KEY = {
    "st_intersects": "intersects",
    "bbox_intersects": "bbox",
    "st_touches": "touches",
    "st_overlaps": "overlaps",
    "st_crosses": "crosses",
    "st_equals": "equals",
    "st_contains": "contains",
    "st_within": "within",
    "st_covers": "covers",
    "st_coveredby": "covered_by",
    "st_covered_by": "covered_by",
    "st_dwithin": "dwithin",
    "st_distance": "dwithin",
}

_ON_END_KEYWORDS = re.compile(
    r"(?<!\w)(WHERE|GROUP\s+BY|ORDER\s+BY|HAVING|LIMIT|UNION|INTERSECT|EXCEPT|WINDOW"
    r"|(?:LEFT|RIGHT|FULL|INNER|CROSS)\s+(?:OUTER\s+)?JOIN|JOIN)\b",
    re.IGNORECASE,
)


def _scan_on_clause(sql: str, start: int) -> tuple[str, int]:
    """Return (on_text, end_index): the ON expression from ``start`` up to
    the next top-level clause keyword, the closing paren of an enclosing
    group (the join sits inside a derived table / CTE body), or the end
    of the string.  Literals and comments never end it."""
    end = len(sql)
    for i, depth in code_positions(sql, start):
        if depth < 0 or (depth == 0 and _ON_END_KEYWORDS.match(sql, i)):
            end = i
            break
    return sql[start:end].strip(), end


def _split_top_and(expr: str) -> list[str]:
    """Split an expression on top-level AND keywords (outside literals),
    unwrapping each conjunct's enclosing parens."""
    parts = (p.strip() for p in split_top(expr, "AND"))
    return [p[1:-1].strip() if _is_wrapped(p) else p for p in parts if p]


_SUBQUERY_OPEN_RE = re.compile(r"\([\s\0]*SELECT\b", re.IGNORECASE)


def _subquery_spans(sql: str) -> list[tuple[int, int]]:
    """(start, end) index pairs of every parenthesized ``(SELECT …)``
    group — subqueries and CTE bodies; expression parens are excluded."""
    opens = _SUBQUERY_OPEN_RE.finditer(masked(sql, ident=" "))
    spans = ((m.start(), matching_paren(sql, m.start())) for m in opens)
    return [(s, e) for s, e in spans if e is not None]


_SETOP_RE = re.compile(r"(?<!\w)(UNION|INTERSECT|EXCEPT)\b", re.IGNORECASE)


def _setop_positions(sql: str) -> list[int]:
    """Indexes of every depth-0 UNION/INTERSECT/EXCEPT keyword (outside
    literals) — the set-op arm boundaries of the statement."""
    return [m.start() for m in code_matches(_SETOP_RE, sql, depth=0)]


def _arm_bounds(sql: str, pos: int) -> tuple[int, int]:
    """(start, end) of the set-op arm containing position ``pos``.
    View-rewriting dispatches substitute alias references only within
    this window — the other arms have their own FROMs whose identical
    aliases must stay untouched."""
    start, end = 0, len(sql)
    for p in _setop_positions(sql):
        if p <= pos:
            start = p
        else:
            end = p
            break
    return start, end


def _has_top_level_setop(sql: str) -> bool:
    """True when a depth-0 UNION/INTERSECT/EXCEPT exists outside literals
    — each set-op arm has its own FROM, so single-relation rewrites must
    decline rather than attach the first arm's table metadata to every
    arm's predicates."""
    return bool(_setop_positions(sql))


def _cols_sql(alias: str, cols: list[str]) -> str:
    """Explicit alias-qualified column list for a star expansion."""
    return ", ".join(f"{alias}.`{c}`" for c in cols)


_SELECT_KW_RE = re.compile(r"\bSELECT\b", re.IGNORECASE)
# aliases may be backtick-quoted (`b`.*) — \b can't sit before a backtick,
# so the any-position form uses a lookbehind instead
_ALIAS_STAR_RE = re.compile(r"^`?([A-Za-z_]\w*)`?\s*\.\s*\*$")
_ALIAS_STAR_ANY_RE = re.compile(r"(?<![\w`])`?([A-Za-z_]\w*)`?\s*\.\s*\*")
_COUNT_STAR_RE = re.compile(r"\bcount\s*\(\s*\*\s*\)", re.IGNORECASE)
_ARG_STAR_RE = re.compile(r"[(,]\s*\*\s*[),]")


def _star_leaks_into_expression(code: str, expansions: dict[str, str]) -> bool:
    """True when a select-list item that is NOT itself a star would still
    expand one inside an expression — ``struct(a.*)`` / ``xxhash64(*)``:
    after the FROM is replaced by the derived grid side, such stars
    silently gain the rewrite's internal ``__cell``/``__bb*`` columns
    (review find, round 5).  ``count(*)`` is exempt (it counts rows, no
    schema).  ``a * b`` multiplication never sits in argument position
    (``(``/``,`` before AND ``)``/``,`` after), so it never trips this.

    String literals and comments are blinded first (a regex literal
    ``'b.*'`` or ``'(*)'`` inside instr() is data, not a star — matching
    it falsely declined the dispatch, which for OUTER spatial joins means
    an unplannable fallback: second-pass review find, round 5); backtick
    identifier spans stay visible so quoted alias stars are caught."""
    # literals are NUL runs, not spaces: a space placeholder turned
    # ('a' * 'b') into '(  *  )', which the argument-position star regex
    # matched — a real multiplication of two literals falsely declined
    # the dispatch (third-pass find)
    blinded = masked(code)
    for am in _ALIAS_STAR_ANY_RE.finditer(blinded):
        if am.group(1).lower() in expansions:
            return True
    return bool(_ARG_STAR_RE.search(_COUNT_STAR_RE.sub("count(1)", blinded)))


def _expand_select_stars(
    prefix: str, expansions: dict[str, str], all_sides: Optional[list[str]]
) -> Optional[str]:
    """Expand ``*`` / ``alias.*`` items of the select list OWNING the FROM
    being rewritten to explicit column lists.  The grid rewrite substitutes
    derived relations carrying internal ``__cell``/``__bb*``/``__ix0``/
    ``__iy0`` columns, so a star over a rewritten side would silently
    change the query's output schema.

    ``prefix`` is everything before the FROM being rewritten (may include a
    WITH chain and enclosing subqueries).  The owning select list is the
    LAST ``SELECT`` at the same paren depth as the FROM (= the depth at the
    end of the prefix): when the spatial join sits inside a derived table
    ``(SELECT * FROM a JOIN b ON ST_..) q``, the inner star is the one that
    must expand — earlier same-depth SELECTs belong to already-closed
    sibling groups.  ``expansions`` maps lowercased alias → explicit column
    SQL; ``all_sides`` is the full left-to-right expansion for a bare
    ``*``, or None when the caller cannot produce one (bare ``*`` then
    returns None = decline the dispatch).  Items that are not exactly ``*``
    or ``alias.*`` after comment stripping pass through byte-identical (a
    depth-0 ``*`` inside an expression is multiplication; ``count(*)``
    sits inside parens); when nothing matches, the prefix is returned
    unchanged."""
    from_depth = 0
    for _, from_depth in code_positions(prefix):
        pass
    # locate the owning SELECT: last SELECT keyword at the FROM's depth
    sel_end = None
    for m in code_matches(_SELECT_KW_RE, prefix, depth=from_depth):
        sel_end = m.end()
    if sel_end is None:
        return prefix  # no owning select list (shouldn't happen) — unchanged
    head, body = prefix[:sel_end], prefix[sel_end:]
    lead = ""
    lm = re.match(r"\s*(DISTINCT|ALL)\b", body, re.IGNORECASE)
    if lm:
        lead, body = body[: lm.end()], body[lm.end() :]
    items = split_top(body)
    out_items: list[str] = []
    changed = False
    for it in items:
        # comments dropped: `* -- note` must still read as a bare star, or
        # the unexpanded star would leak the rewrite's internal columns
        s = uncommented(it).strip()
        if s == "*":
            if all_sides is None:
                return None
            out_items.append(" " + ", ".join(all_sides))
            changed = True
            continue
        am = _ALIAS_STAR_RE.match(s)
        if am and am.group(1).lower() in expansions:
            out_items.append(" " + expansions[am.group(1).lower()])
            changed = True
        else:
            if _star_leaks_into_expression(s, expansions):
                return None  # decline the dispatch — schema would change
            # byte-identical pass-through: stripping would detach a
            # trailing `-- comment` from its newline and comment out the
            # FROM clause the caller appends
            out_items.append(it)
    if not changed:
        return prefix
    return head + lead + ",".join(out_items) + " "


def _is_wrapped(p: str) -> bool:
    """True when one paren group encloses all of ``p``."""
    return p.startswith("(") and matching_paren(p, 0) == len(p) - 1


def _match_spatial_conjunct(c: str):
    """Recognize one conjunct as a dispatchable spatial predicate.

    Returns (alias1, col1, alias2, col2, expand_distance, pred_key, strict)
    or None.  ``strict`` marks the ``ST_Distance(..) < d`` form (boundary
    excluded); the ``<=`` / ST_DWithin forms are inclusive.
    """
    m = _DIST_CMP_RE.match(c)
    if m:
        inner = _PRED_CALL_RE.match(m.group("call").strip())
        if inner:
            return (
                inner.group("a1"), inner.group("c1"),
                inner.group("a2"), inner.group("c2"),
                float(m.group("d")), "dwithin", m.group("op") == "<",
            )
        return None
    m = _PRED_CALL_RE.match(c)
    if not m:
        return None
    fn = m.group("fn").lower()
    if fn == "st_dwithin":
        if m.group("extra") is None:
            return None
        return (
            m.group("a1"), m.group("c1"), m.group("a2"), m.group("c2"),
            float(m.group("extra")), "dwithin", False,
        )
    if fn in _JOIN_PREDICATES and m.group("extra") is None:
        return (
            m.group("a1"), m.group("c1"), m.group("a2"), m.group("c2"),
            0.0, _PRED_KEY[fn], False,
        )
    return None


def _side_sql(
    table: str,
    geom_col: str,
    grid,
    expand: float,
    repartition: int = 0,
    bbox_meta=None,
) -> str:
    """Derived relation with the flat bbox columns (``__bbx0``, ``__bby0``,
    ``__bbx1``, ``__bby1``, ``__bbe``) + one ``__cell`` row per grid cell
    the (expanded) bbox intersects — the grid's side projection
    (``_Grid.cells_sql``), nested as subqueries.  The min cell indices stay
    exposed as ``__ix0``/``__iy0`` so the per-pair reference-point dedup in
    the ON clause is O(1).

    ``repartition`` is the side's spread width
    (``spatial_join._spread_width``, 0 for none): a REPARTITION hint below
    the bbox UDF, as the DataFrame operator spreads its sides.

    ``bbox_meta`` (session.register_bbox) replaces the ``__st_bbox`` pandas
    UDF with pure codegen expressions over the view's own columns — the
    bbox pass then costs zero Python (and lets Catalyst prune the geometry
    column entirely when the refine stage is skipped too)."""
    from dataclod_spark.operators.spatial_join import _UDF_BBOX, _flat_bbox_sql

    src = table
    if repartition:
        src = f"(SELECT /*+ REPARTITION({int(repartition)}) */ * FROM {table})"
    if bbox_meta is not None:
        rel = f"(SELECT *, {', '.join(_flat_bbox_sql(bbox_meta.bbox))} FROM {src})"
    else:
        rel = (
            f"(SELECT * EXCEPT (__bb), {', '.join(_flat_bbox_sql(_UDF_BBOX))} FROM "
            f"(SELECT *, __st_bbox(`{geom_col}`) AS __bb FROM {src}))"
        )
    for i, items in enumerate(grid.cells_sql(expand), 1):
        rel = f"(SELECT {', '.join(items)} FROM {rel} __s{i})"
    return rel


_WITH_START_RE = re.compile(r"^\s*WITH\s+", re.IGNORECASE)
_CTE_HEAD_RE = re.compile(r"\s*(?P<name>[A-Za-z_]\w*)\s+AS\s*\(", re.IGNORECASE)

_outer_view_counter = itertools.count()


def _parse_with_prefix(sql: str) -> tuple[str, list[str]]:
    """Split a leading ``WITH a AS (...), b AS (...)`` prefix off ``sql``.

    Returns (prefix_text, cte_names); prefix_text is '' when the query has
    no WITH clause.  Only simple (non-recursive, unparenthesized-name) CTE
    lists are recognized — anything else returns ('', [])."""
    m = _WITH_START_RE.match(sql)
    if not m:
        return "", []
    pos = m.end()
    names: list[str] = []
    while True:
        h = _CTE_HEAD_RE.match(sql, pos)
        if not h:
            return "", []
        names.append(h.group("name"))
        close = matching_paren(sql, h.end() - 1)
        if close is None:
            return "", []
        pos = close + 1
        nxt = re.match(r"\s*,", sql[pos:])
        if nxt:
            pos += nxt.end()
            continue
        return sql[:pos], names


def _resolve_relation(session, sql: str, name: str):
    """DataFrame for a join side: a CTE from the query's own WITH prefix,
    else a catalog table/view (planned but unexecuted — used for schema
    checks, grid sampling, and the outer path's operator input).  CTE
    lookup comes FIRST: SQL scoping lets a CTE shadow a catalog table of
    the same name, and resolving the catalog table instead would run the
    outer spatial join against the unfiltered base relation."""
    prefix, names = _parse_with_prefix(sql)
    if prefix and name.lower() in {n.lower() for n in names}:
        try:
            return session.spark.sql(f"{prefix} SELECT * FROM {name}")
        except Exception:
            return None
    try:
        return session.spark.table(name)
    except Exception:
        return None


def _get_grid(session, rt, rgeom, rdf, rmeta, ldf, lgeom, lmeta):
    """Session-cached quantile grid sampled from the build (right) side,
    falling back to the probe side when the build sample is empty."""
    from dataclod_spark.operators.spatial_join import _sample_grid

    cache_key = (rt.lower(), rgeom.lower(), session.spatial_join_cells)
    grid = session._grid_cache.get(cache_key)
    if grid is None:
        grid = session._grid_cache[cache_key] = _sample_grid(
            rdf, rgeom, rmeta and rmeta.bbox, ldf, lgeom, lmeta and lmeta.bbox,
            session.spatial_join_cells,
        )
    return grid


def _operator_args(session, lt, lgeom, rt, rgeom, expand, predicate) -> dict:
    """``spatial_join`` arguments for a dispatched join of two named
    relations: geometry columns, distance, the session's cell budget, the
    registered bbox operands (exactness flag included), and
    ``refine="none"`` when both sides are declared bbox-exact."""
    lmeta, rmeta = session.bbox_meta(lt, lgeom), session.bbox_meta(rt, rgeom)
    both_exact = lmeta is not None and lmeta.exact and rmeta is not None and rmeta.exact
    return dict(
        left_geom=lgeom,
        right_geom=rgeom,
        distance=(expand if predicate == "dwithin" else None),
        cell_target=session.spatial_join_cells,
        left_bbox=lmeta and lmeta.bbox,
        right_bbox=rmeta and rmeta.bbox,
        refine="none" if both_exact else "auto",
    )


def _grid_on_parts(
    la, ra, a1, c1, a2, c2, grid, e, pred_key, strict,
    lmeta, rmeta, conjuncts, spatial_idx,
) -> list[str]:
    """ON-clause conjuncts of the grid equi-join: the grid's candidate
    conjuncts (cell equality, bbox overlap, reference-point dedup), the
    predicate-specific bbox tightening, the NULL-masked exact refine, and
    any extra user conjuncts."""
    from dataclod_spark.operators.spatial_join import _tighten_sql, _verdict_sql

    def bb(a: str) -> tuple:
        return tuple(f"{a}.__bb{f}" for f in ("x0", "y0", "x1", "y1"))

    on_parts = grid.candidate_sql(f"{la}.", f"{ra}.", bb(la), bb(ra), e)
    # predicate-direction bbox refs (a1 holds the predicate's 1st argument)
    b1, b2 = bb(a1), bb(a2)
    tight = _tighten_sql(pred_key, b1, b2)
    if tight is not None:
        on_parts.append(tight)

    # the spatial conjunct itself: bbox-exact pairs (points / axis rects)
    # resolve with the pure-JVM verdict; only the rest cross into the ST_*
    # pandas UDF, with NULL-masked inputs so the batch carries no geometry
    # bytes for JVM-decided pairs (≈ the reference's point/rect refine fast
    # paths; optimizer.rs keeps the predicate as the refine filter)
    if pred_key == "bbox":
        spatial_sql = None  # the bbox conjuncts ARE the predicate
    elif lmeta is not None and lmeta.exact and rmeta is not None and rmeta.exact:
        # both sides declared bbox-exact: the pure-JVM verdict IS the exact
        # predicate — no refine stage, and (if unprojected) the geometry
        # column is pruned from the scan entirely
        spatial_sql = _verdict_sql(pred_key, b1, b2, e, strict)
    else:
        both = f"({la}.__bbe AND {ra}.__bbe)"
        verdict = _verdict_sql(pred_key, b1, b2, e, strict)
        g1 = f"IF(NOT {both}, {a1}.`{c1}`, NULL)"
        g2 = f"IF(NOT {both}, {a2}.`{c2}`, NULL)"
        dm = _DIST_CMP_RE.match(conjuncts[spatial_idx])
        if dm:
            masked = f"ST_Distance({g1}, {g2}) {dm.group('op')} {dm.group('d')}"
        else:
            pm = _PRED_CALL_RE.match(conjuncts[spatial_idx])
            extra = f", {pm.group('extra')}" if pm.group("extra") else ""
            masked = f"{pm.group('fn')}({g1}, {g2}{extra})"
        spatial_sql = f"IF({both}, {verdict}, coalesce({masked}, false))"
    if spatial_sql is not None:
        on_parts.append(spatial_sql)
    # any extra conjuncts ride along as join filters after the cell
    # equi-join — re-parenthesized: _split_top_and strips a conjunct's
    # wrapping parens, and an OR spliced bare into the AND-joined ON
    # clause would change precedence (silently wrong rows)
    on_parts.extend(
        f"({conjuncts[i]})" for i in range(len(conjuncts)) if i != spatial_idx
    )
    return on_parts


def try_rewrite_spatial_join(session, sql: str) -> Optional[str]:
    """Rewrite ``FROM a JOIN b ON ST_Pred(...)`` into the grid equi-join.

    ``session`` is the EngineSession (used to sample the build side for the
    grid).  Returns the rewritten SQL, or None when the query does not match
    the conservative dispatch pattern (caller falls back to default
    planning).

    Multi-join queries dispatch when the FIRST join of the chain is the
    spatial one (``FROM a JOIN b ON ST_pred(..) JOIN dim d ON ..``): the
    ON-clause scan stops at the next top-level JOIN keyword, so only the
    spatial segment is rewritten and the remaining joins ride along
    verbatim (left-associative parse order is unchanged).
    """
    m = search_code(_FROM_JOIN_RE, sql)
    if not m:
        return None
    lt, la, rt, ra = m.group("lt"), m.group("la"), m.group("rt"), m.group("ra")
    if la.lower() in RESERVED_ALIAS or ra.lower() in RESERVED_ALIAS:
        return None
    on_text, on_end = _scan_on_clause(sql, m.end())
    conjuncts = _split_top_and(on_text)
    spatial_idx = None
    parsed = None
    for i, c in enumerate(conjuncts):
        p = _match_spatial_conjunct(c)
        if p is not None:
            spatial_idx = i
            parsed = p
            break
    if parsed is None:
        return None
    a1, c1, a2, c2, expand, pred_key, strict = parsed
    aliases = {a1.lower(), a2.lower()}
    if aliases != {la.lower(), ra.lower()}:
        return None
    lgeom = c1 if a1.lower() == la.lower() else c2
    rgeom = c2 if a2.lower() == ra.lower() else c1

    rdf = _resolve_relation(session, sql, rt)
    ldf = _resolve_relation(session, sql, lt)
    if rdf is None or ldf is None:
        return None
    if rgeom not in rdf.columns or lgeom not in ldf.columns:
        return None
    # registered bbox expressions (session.register_bbox): bbox pass and
    # grid sampling become pure JVM on that side
    lmeta, rmeta = session.bbox_meta(lt, lgeom), session.bbox_meta(rt, rgeom)
    grid = _get_grid(session, rt, rgeom, rdf, rmeta, ldf, lgeom, lmeta)
    from dataclod_spark.operators.spatial_join import _spread_width

    e = float(expand)
    on_parts = _grid_on_parts(
        la, ra, a1, c1, a2, c2, grid, e, pred_key, strict,
        lmeta, rmeta, conjuncts, spatial_idx,
    )
    new_from = (
        f"FROM {_side_sql(lt, lgeom, grid, e, _spread_width(ldf), lmeta)} {la} "
        f"JOIN {_side_sql(rt, rgeom, grid, 0.0, _spread_width(rdf), rmeta)} {ra} "
        f"ON {' AND '.join(on_parts)} "
    )
    # the derived sides carry internal __cell/__bb* columns: stars in the
    # outer select list must expand to the ORIGINAL columns or the result
    # schema silently changes.  A bare `*` is only expandable when the two
    # spatial relations are the WHOLE from-list: with ride-along joins
    # after the rewritten ON, [lsql, rsql] would drop the later relations'
    # columns — decline and let default planning keep the schema.
    lsql, rsql = _cols_sql(la, ldf.columns), _cols_sql(ra, rdf.columns)
    tail_has_join = re.match(
        r"\s*(?:(?:LEFT|RIGHT|FULL|INNER|CROSS)\s+(?:OUTER\s+)?)?JOIN\b",
        sql[on_end:],
        re.IGNORECASE,
    )
    prefix = _expand_select_stars(
        sql[: m.start()],
        {la.lower(): lsql, ra.lower(): rsql},
        None if tail_has_join else [lsql, rsql],
    )
    if prefix is None:
        return None
    return prefix + new_from + sql[on_end:]


_CHAIN_FROM_RE = re.compile(
    r"\bFROM\s+(?P<t>[A-Za-z_][\w.]*)\s+(?:AS\s+)?(?P<a>[A-Za-z_]\w*)\s+",
    re.IGNORECASE,
)
_CHAIN_JOIN_RE = re.compile(
    r"\s*(?:INNER\s+)?JOIN\s+(?P<t>[A-Za-z_][\w.]*)\s+(?:AS\s+)?"
    r"(?P<a>[A-Za-z_]\w*)\s+ON\s+",
    re.IGNORECASE,
)


def try_chain_spatial_join(session, sql: str) -> Optional[str]:
    """Dispatch a spatial join sitting at ANY position of an inner-join
    chain — ``FROM dim d JOIN pts p ON d.k = p.k JOIN boxes b ON
    ST_Pred(p.geom, b.geom)`` — where :func:`try_rewrite_spatial_join`
    only handles the chain's first join.

    The reference's optimizer rule matches the spatial Join node wherever
    it appears in the logical plan (``optimizer.rs:33-113``); this is the
    SQL-text equivalent: parse the FROM chain of named inner-join
    relations, find the first ON carrying a spatial conjunct between the
    newly joined alias and any earlier alias, swap both relations for
    their cell-exploded derived forms, and rewrite that ON into the grid
    equi-join.  Earlier/later joins ride along verbatim — the exploded
    copies of the probe side are collapsed by the reference-point dedup in
    the rewritten ON, so inner-chain multiplicities are unchanged.
    """
    fm = search_code(_CHAIN_FROM_RE, sql)
    if not fm or fm.group("a").lower() in RESERVED_ALIAS:
        return None
    # rels: (table, alias, span of the "table alias" text)
    rels = [(fm.group("t"), fm.group("a"), (fm.start("t"), fm.end("a")))]
    joins = []  # (table, alias, rel_span, on_span, on_text)
    pos = fm.end("a")
    while True:
        jm = _CHAIN_JOIN_RE.match(sql, pos)
        if not jm:
            break
        if jm.group("a").lower() in RESERVED_ALIAS:
            return None
        on_text, on_end = _scan_on_clause(sql, jm.end())
        rels.append((jm.group("t"), jm.group("a"), (jm.start("t"), jm.end("a"))))
        joins.append((jm.group("t"), jm.group("a"), (jm.start("t"), jm.end("a")),
                      (jm.end(), on_end), on_text))
        pos = on_end
    if len(joins) < 2:
        return None  # single-join chains are try_rewrite_spatial_join's case
    aliases = [a.lower() for _, a, _ in rels]
    if len(set(aliases)) != len(aliases):
        return None

    for k in range(1, len(joins)):  # k=0 == first join == already handled
        jt, ja, jrel_span, jon_span, jon_text = joins[k]
        conjuncts = _split_top_and(jon_text)
        for si, c in enumerate(conjuncts):
            p = _match_spatial_conjunct(c)
            if p is None:
                continue
            a1, c1, a2, c2, expand, pred_key, strict = p
            pair = {a1.lower(), a2.lower()}
            if ja.lower() not in pair:
                continue
            other = (pair - {ja.lower()}).pop() if len(pair) == 2 else None
            if other is None or other not in aliases[: k + 1]:
                continue
            ra = ja
            la_idx = aliases.index(other)
            lt, la, lrel_span = rels[la_idx][0], rels[la_idx][1], rels[la_idx][2]
            lgeom = c1 if a1.lower() == la.lower() else c2
            rgeom = c2 if a2.lower() == ra.lower() else c1
            ldf = _resolve_relation(session, sql, lt)
            rdf = _resolve_relation(session, sql, jt)
            if ldf is None or rdf is None:
                return None
            if lgeom not in ldf.columns or rgeom not in rdf.columns:
                return None
            lmeta, rmeta = session.bbox_meta(lt, lgeom), session.bbox_meta(jt, rgeom)
            grid = _get_grid(session, jt, rgeom, rdf, rmeta, ldf, lgeom, lmeta)
            from dataclod_spark.operators.spatial_join import _spread_width

            e = float(expand)
            on_parts = _grid_on_parts(
                la, ra, a1, c1, a2, c2, grid, e, pred_key, strict,
                lmeta, rmeta, conjuncts, si,
            )
            # splice: both relation texts swapped for their exploded forms,
            # the spatial ON replaced, everything else verbatim
            pieces = [
                (lrel_span, f"{_side_sql(lt, lgeom, grid, e, _spread_width(ldf), lmeta)} {la}"),
                (jrel_span, f"{_side_sql(jt, rgeom, grid, 0.0, _spread_width(rdf), rmeta)} {ra}"),
                (jon_span, " AND ".join(on_parts) + " "),
            ]
            pieces.sort(key=lambda pr: pr[0][0])
            out, cur = [], 0
            for (s0, s1), txt in pieces:
                out.append(sql[cur:s0])
                out.append(txt)
                cur = s1
            out.append(sql[cur:])
            rewritten = "".join(out)
            # star discipline for the two swapped (derived) sides; a bare
            # `*` would need every chain relation's columns — decline and
            # let default planning produce the correct schema
            prefix = _expand_select_stars(
                sql[: fm.start()],
                {la.lower(): _cols_sql(la, ldf.columns),
                 ra.lower(): _cols_sql(ra, rdf.columns)},
                None,
            )
            if prefix is None:
                return None
            return prefix + rewritten[fm.start():]
    return None


_OUTER_FROM_JOIN_RE = re.compile(
    r"\bFROM\s+(?P<lt>[A-Za-z_][\w.]*)\s+(?:AS\s+)?(?P<la>[A-Za-z_]\w*)\s+"
    r"(?P<jt>LEFT|RIGHT|FULL)\s+(?:OUTER\s+)?"
    r"JOIN\s+(?P<rt>[A-Za-z_][\w.]*)\s+(?:AS\s+)?(?P<ra>[A-Za-z_]\w*)\s+"
    r"ON\s+",
    re.IGNORECASE,
)

# asymmetric predicates flip when the SQL lists the right alias's geometry
# as the predicate's first argument
_SWAPPED = {
    "contains": "within",
    "within": "contains",
    "covers": "covered_by",
    "covered_by": "covers",
    "intersects": "intersects",
    "touches": "touches",
    "overlaps": "overlaps",
    "equals": "equals",
    "crosses": "crosses",
    "dwithin": "dwithin",
}


# identifiers an extra outer-join conjunct may contain besides
# alias-qualified column refs: operators/keywords and total scalar
# functions.  Anything else (unqualified columns, subqueries, UDFs)
# declines the dispatch — conservative by construction.
_OUTER_CONJ_ALLOWED = {
    "and", "or", "not", "is", "null", "in", "between", "like", "rlike",
    "true", "false", "case", "when", "then", "else", "end", "cast", "as",
    "int", "bigint", "integer", "smallint", "tinyint", "double", "float",
    "decimal", "string", "varchar", "boolean", "date", "timestamp",
    "abs", "coalesce", "nullif", "greatest", "least", "mod", "pmod",
    "round", "floor", "ceil", "ceiling", "sign", "sqrt", "pow", "power",
    "upper", "lower", "length", "substr", "substring", "concat", "trim",
    "ltrim", "rtrim", "instr", "left", "right", "lpad", "rpad", "split",
    "year", "month", "day", "hour", "minute", "second", "to_date",
    "to_timestamp", "date_add", "date_sub", "datediff", "if", "ifnull",
    "nvl", "exp", "ln", "log", "log10", "log2",
}


def _alias_ref_re(*aliases: str) -> "re.Pattern[str]":
    """``alias.col`` / ``alias.`col``` / ``alias.*`` for any of
    ``aliases``: group 1 is the alias, group 2 the part after the dot as
    written, group 3 the bare column (None for the star).  Apply it with
    ``sqltext.sub_code``/``code_matches`` so text inside literals and
    comments is never taken for a reference."""
    names = "|".join(re.escape(a) for a in aliases)
    return re.compile(rf"\b({names})\s*\.\s*(\*|`?(\w+)`?)", re.IGNORECASE)


# any qualified column reference: (alias, column)
_QUAL_REF_RE = re.compile(r"\b([A-Za-z_]\w*)\s*\.\s*`?(\w+)`?")


def _map_outer_conjunct(
    c: str, la: str, ra: str, lcols: set, rcols: set
) -> Optional[str]:
    """Map an extra ON conjunct's ``alias.col`` references onto the
    spatial-join OUTPUT columns (left names; right names suffixed
    ``_right`` on overlap), validating that every other identifier is a
    whitelisted keyword/function.  Returns the mapped SQL expression, or
    None when the conjunct is out of the conservative scope."""
    qual_re = _alias_ref_re(la, ra)
    bad = False

    def _sub(mm: re.Match) -> str:
        nonlocal bad
        left = mm.group(1).lower() == la.lower()
        col = mm.group(3)
        if col is None or col not in (lcols if left else rcols):
            bad = True
            return mm.group(0)
        return f"`{col}_right`" if not left and col in lcols else f"`{col}`"

    mapped = sub_code(qual_re, c, _sub)  # outside literals/comments only
    if bad:
        return None
    # validate the residue of the ORIGINAL conjunct: drop the alias-
    # qualified refs substituted above, then (a) DECLINE on any other
    # backtick span — an unqualified backticked column (`flag` = 1) is an
    # identifier, not a literal, and stripping it as a quote span let it
    # bypass the whitelist entirely: a query Spark would reject as
    # ambiguous got silently rewritten against the join output (review
    # find, round 5) — and (b) whitelist every remaining bare identifier
    # outside literals and comments
    residue = masked(sub_code(qual_re, c, lambda mm: " "))
    if "`" in residue:
        return None
    for ident in IDENT_RE.findall(residue):
        if ident.lower() not in _OUTER_CONJ_ALLOWED:
            return None
    return mapped


def try_outer_spatial_join(session, sql: str) -> Optional[tuple[str, str]]:
    """Rewrite ``FROM a LEFT|RIGHT|FULL JOIN b ON ST_Pred(...)`` through the
    DataFrame spatial-join operator (which owns outer completion —
    anti-join recovery of unmatched rows), exposed back to SQL as a temp
    view with the statement's alias-qualified references rewritten.

    Scope: one spatial conjunct plus optional extra conjuncts over the two
    aliases (routed to the operator's ``extra_condition`` join filter —
    ON-clause semantics, applied before outer completion); named
    relations; no ``ST_Distance < d`` strict form (the operator's dwithin
    is boundary-inclusive).  Subsequent joins after the outer spatial one
    ride along against the temp view.  Without this dispatch these
    queries are not merely slow but UNPLANNABLE: Spark rejects a Python
    UDF in an outer-join condition outright.
    Returns the rewritten SQL and the temp view it reads (the caller drops
    the view once the statement is analyzed), or None (fall back to
    default planning)."""
    m = search_code(_OUTER_FROM_JOIN_RE, sql)
    if not m:
        return None
    lt, la, rt, ra = m.group("lt"), m.group("la"), m.group("rt"), m.group("ra")
    how = m.group("jt").lower()
    if la.lower() in RESERVED_ALIAS or ra.lower() in RESERVED_ALIAS:
        return None
    on_text, on_end = _scan_on_clause(sql, m.end())
    conjuncts = _split_top_and(on_text)
    spatial_idx, parsed = None, None
    for ci, c in enumerate(conjuncts):
        p_ = _match_spatial_conjunct(c)
        if p_ is not None:
            if spatial_idx is not None:
                return None  # two spatial conjuncts — out of scope
            spatial_idx, parsed = ci, p_
    if parsed is None:
        return None
    extra = [c for ci, c in enumerate(conjuncts) if ci != spatial_idx]
    a1, c1, a2, c2, expand, pred_key, strict = parsed
    if strict or pred_key == "bbox":
        return None
    aliases = {a1.lower(), a2.lower()}
    if aliases != {la.lower(), ra.lower()}:
        return None
    if a1.lower() == la.lower():
        lgeom, rgeom, predicate = c1, c2, pred_key
    else:
        lgeom, rgeom, predicate = c2, c1, _SWAPPED[pred_key]

    ldf = _resolve_relation(session, sql, lt)
    rdf = _resolve_relation(session, sql, rt)
    if ldf is None or rdf is None:
        return None
    if lgeom not in ldf.columns or rgeom not in rdf.columns:
        return None
    extra_cond = None
    if extra:
        lcols_set, rcols_set = set(ldf.columns), set(rdf.columns)
        mapped_parts = []
        for c in extra:
            mc = _map_outer_conjunct(c, la, ra, lcols_set, rcols_set)
            if mc is None:
                return None
            mapped_parts.append(f"({mc})")
        extra_cond = " AND ".join(mapped_parts)

    from dataclod_spark.operators.spatial_join import spatial_join

    lcols = set(ldf.columns)

    def _map_ref(alias: str, col: str) -> str:
        if alias.lower() == la.lower():
            return col
        return f"{col}_right" if col in lcols else col

    # star discipline FIRST — before the eager join build: the view's
    # overlap columns carry the _right suffix, so `b.*` (and b's slice of
    # a bare `*`) must alias them BACK to the original names or the
    # result schema silently changes; and when the expansion declines,
    # declining HERE means no grid-sampling jobs ran and no temp view
    # leaked for a query we then hand back to default planning (review
    # find, round 5).
    star_l = ", ".join(f"`{c}`" for c in ldf.columns)
    star_r = ", ".join(
        f"`{m_}` AS `{c}`" if (m_ := _map_ref(ra, c)) != c else f"`{c}`"
        for c in rdf.columns
    )
    tail_has_join = re.match(
        r"\s*(?:(?:LEFT|RIGHT|FULL|INNER|CROSS)\s+(?:OUTER\s+)?)?JOIN\b",
        sql[on_end:],
        re.IGNORECASE,
    )
    prefix = _expand_select_stars(
        sql[: m.start()],
        {la.lower(): star_l, ra.lower(): star_r},
        None if tail_has_join else [star_l, star_r],
    )
    if prefix is None:
        return None

    joined = spatial_join(
        ldf,
        rdf,
        predicate,
        how=how,
        extra_condition=extra_cond,
        **_operator_args(session, lt, lgeom, rt, rgeom, expand, predicate),
    )
    view = f"__spatial_outer_join_{next(_outer_view_counter)}"
    joined.createOrReplaceTempView(view)
    rest = prefix + f"FROM {view} " + sql[on_end:]
    # rewrite remaining alias-qualified references (a.x / b.`x` / a.* in
    # clauses outside the owning select list) against the view, in code
    # only — but only within THIS set-op arm: a later UNION/INTERSECT/
    # EXCEPT arm has its own FROM whose identical aliases must stay
    # untouched (the fixpoint loop in session.sql rewrites that arm on its
    # own pass)
    arm_start, cut = _arm_bounds(rest, len(prefix))
    head, arm, rest_tail = rest[:arm_start], rest[arm_start:cut], rest[cut:]
    star_r_bare = ", ".join(_map_ref(ra, c) for c in rdf.columns)
    arm = sub_code(
        _alias_ref_re(la, ra), arm,
        lambda mm: _map_ref(mm.group(1), mm.group(3)) if mm.group(3)
        else star_l.replace("`", "") if mm.group(1).lower() == la.lower() else star_r_bare,
    )
    return head + arm + rest_tail, view


_EXISTS_RE = re.compile(
    r"\bFROM\s+(?P<lt>[A-Za-z_][\w.]*)(?:\s+(?:AS\s+)?(?P<la>[A-Za-z_]\w*))?\s+"
    r"WHERE\s+(?P<neg>NOT\s+)?EXISTS\s*\(",
    re.IGNORECASE,
)

_EXISTS_SUB_RE = re.compile(
    r"^\s*SELECT\s+.+?\s+FROM\s+(?P<rt>[A-Za-z_][\w.]*)(?:\s+(?:AS\s+)?"
    r"(?P<ra>[A-Za-z_]\w*))?\s+WHERE\s+(?P<conds>.+)$",
    re.IGNORECASE | re.DOTALL,
)


def try_exists_spatial_join(session, sql: str) -> Optional[tuple[str, str]]:
    """Rewrite a correlated spatial ``[NOT] EXISTS`` into the grid
    semi/anti join.

    The reference's SpatialJoinExec supports semi/anti join types
    (``spatial/src/join/exec.rs:47-131``) and its optimizer rewrites any
    join shape carrying a spatial predicate — including the ExistenceJoins
    DataFusion decorrelates ``EXISTS`` subqueries into
    (``optimizer.rs:33-113``).  Without dispatch, Spark plans

        SELECT .. FROM a WHERE [NOT] EXISTS
          (SELECT 1 FROM b WHERE ST_Pred(a.g, b.g))

    as a BroadcastNestedLoopJoin ExistenceJoin running the predicate UDF
    over the full cross product.  This routes it through the DataFrame
    operator's ``left_semi`` / ``left_anti`` path (same grid build/probe,
    same refine) and rewrites the statement against a temp view.

    Scope (conservative): the outer FROM is a single named relation and the
    EXISTS is the first WHERE predicate (optionally ``AND <rest>`` after
    it, which stays a post-filter on the outer side); the subquery is
    ``SELECT .. FROM <rel> <alias> WHERE <spatial pred> [AND <right-only
    conjuncts>]`` — right-only conjuncts become a pre-filter on the inner
    side; any conjunct touching the outer alias beyond the spatial
    predicate falls back.

    Returns the rewritten SQL and the temp view it reads (the caller drops
    the view once the statement is analyzed), or None.
    """
    m = search_code(_EXISTS_RE, sql)
    if not m:
        return None
    lt, la, neg = m.group("lt"), m.group("la"), bool(m.group("neg"))
    if la is None:
        la = lt  # no alias: the subquery correlates by table name
    elif la.lower() in RESERVED_ALIAS:
        return None
    close = matching_paren(sql, m.end() - 1)
    if close is None:
        return None
    sub, sub_end = sql[m.end() : close], close + 1
    sm = _EXISTS_SUB_RE.match(sub)
    if not sm:
        return None
    rt, ra, conds = sm.group("rt"), sm.group("ra"), sm.group("conds")
    if ra is None:
        ra = rt  # no alias: predicate references the inner table name
    elif ra.lower() in RESERVED_ALIAS:
        return None
    if ra.lower() == la.lower():
        return None
    conjuncts = _split_top_and(conds)
    spatial_idx, parsed = None, None
    for ci, c in enumerate(conjuncts):
        p = _match_spatial_conjunct(c)
        if p is not None and {p[0].lower(), p[2].lower()} == {la.lower(), ra.lower()}:
            spatial_idx, parsed = ci, p
            break
    if parsed is None:
        return None
    a1, c1, a2, c2, expand, pred_key, strict = parsed
    if strict or pred_key == "bbox":
        return None
    if a1.lower() == la.lower():
        lgeom, rgeom, predicate = c1, c2, pred_key
    else:
        lgeom, rgeom, predicate = c2, c1, _SWAPPED[pred_key]

    ldf = _resolve_relation(session, sql, lt)
    rdf = _resolve_relation(session, sql, rt)
    if ldf is None or rdf is None:
        return None
    if lgeom not in ldf.columns or rgeom not in rdf.columns:
        return None

    # classify non-spatial conjuncts: inner-only refs become a pre-filter
    # on the inner side (cheapest); conjuncts correlating the outer alias
    # route through the inner-join + row-id path below (Spark itself cannot
    # plan these at all — PYTHON_UDF_IN_ON_CLAUSE — so there is no slower
    # fallback to fall back to); bare identifiers that could name an
    # outer-only column are ambiguous → fall back to default planning's
    # error, which names the real problem
    lcols_lower = {c.lower() for c in ldf.columns}
    rcols_lower = {c.lower() for c in rdf.columns}
    extras = [c for ci, c in enumerate(conjuncts) if ci != spatial_idx]
    right_filters: list[str] = []
    correlated_filters: list[str] = []
    refs_re = _alias_ref_re(la, ra)
    for extra in extras:
        refs = [mm.groups() for mm in code_matches(_QUAL_REF_RE, extra)]
        aliases = {a.lower() for a, _ in refs}
        if not aliases <= {la.lower(), ra.lower()}:
            return None
        for a, col in refs:
            have = lcols_lower if a.lower() == la.lower() else rcols_lower
            if col.lower() not in have:
                return None
        # backtick text stays: an unqualified `col` names a column too
        stripped = masked(sub_code(refs_re, extra, lambda mm: " "))
        bare = {b.lower() for b in IDENT_RE.findall(stripped)}
        if la.lower() in aliases:
            if bare & (lcols_lower | rcols_lower):
                return None
            correlated_filters.append(extra)
        else:
            if (bare & lcols_lower) - rcols_lower:
                return None
            right_filters.append(sub_code(_alias_ref_re(ra), extra, lambda mm: mm.group(2)))

    from dataclod_spark.operators.spatial_join import _rowid_sql, spatial_join

    for flt in right_filters:
        try:
            rdf = rdf.where(flt)
        except Exception:
            return None

    common = _operator_args(session, lt, lgeom, rt, rgeom, expand, predicate)
    how = "left_anti" if neg else "left_semi"
    if not correlated_filters:
        joined = spatial_join(ldf, rdf, predicate, how=how, **common)
    else:
        # correlated extras join the semi/anti condition itself: run the
        # inner grid join, apply them post-join, then semi/anti the outer
        # side on the operator's deterministic row-id convention (two
        # xxhash64 seeds over the natural columns — recompute-stable,
        # identical rows share a verdict, which is exactly semi/anti
        # semantics)
        inner = spatial_join(ldf, rdf, predicate, how="inner", **common)
        overlap = set(ldf.columns) & set(rdf.columns)

        def _qref(mm: re.Match) -> str:
            alias, col = mm.group(1), mm.group(3)
            if col is None:
                return mm.group(0)
            if alias.lower() == la.lower():
                return col
            return f"{col}_right" if col in overlap else col

        flt = " AND ".join(f"({sub_code(refs_re, c, _qref)})" for c in correlated_filters)
        eid = f"{_rowid_sql(ldf.columns)} AS __eid"
        try:
            matched = inner.where(flt).selectExpr(eid).distinct()
        except Exception:
            return None
        joined = ldf.selectExpr("*", eid).join(matched, "__eid", how).drop("__eid")
    view = f"__spatial_semi_join_{next(_outer_view_counter)}"
    joined.createOrReplaceTempView(view)

    tail = sql[sub_end:]
    tm = re.match(r"\s*AND\b", tail, re.IGNORECASE)
    if tm:
        tail = " WHERE " + tail[tm.end() :]
    rest = sql[: m.start()] + f"FROM {view}" + tail
    # alias substitution only within THIS set-op arm (other arms own their
    # identical aliases; the session fixpoint loop rewrites them later)
    arm_start, cut = _arm_bounds(rest, m.start())
    head, arm, rest_tail = rest[:arm_start], rest[arm_start:cut], rest[cut:]
    star_l = ", ".join(ldf.columns)
    arm = sub_code(_alias_ref_re(la), arm, lambda mm: mm.group(3) or star_l)
    return head + arm + rest_tail, view


# ST_Pred(alias.col | col, ST_GeomFromText('WKT'[, srid])[, d]) — both
# argument orders; used for scan-level filter pushdown
_LIT_PRED_RE = re.compile(
    r"(?P<fn>ST_\w+)\s*\(\s*"
    r"(?:"
    r"(?:(?P<al>[A-Za-z_]\w*)\s*\.\s*)?(?P<col>[A-Za-z_]\w*)"
    r"\s*,\s*"
    r"ST_GeomFromText\s*\(\s*'(?P<wkt>[^']+)'\s*(?:,\s*\d+\s*)?\)"
    r"|"
    r"ST_GeomFromText\s*\(\s*'(?P<wkt2>[^']+)'\s*(?:,\s*\d+\s*)?\)"
    r"\s*,\s*"
    r"(?:(?P<al2>[A-Za-z_]\w*)\s*\.\s*)?(?P<col2>[A-Za-z_]\w*)"
    r")"
    r"(?:\s*,\s*(?P<d>[0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?))?\s*\)",
    re.IGNORECASE,
)

_FROM_SINGLE_RE = re.compile(
    r"\bFROM\s+(?P<t>[A-Za-z_][\w.]*)(?:\s+(?:AS\s+)?(?P<a>[A-Za-z_]\w*))?",
    re.IGNORECASE,
)

_JOIN_TOKEN_RE = re.compile(r"\bJOIN\b", re.IGNORECASE)


def try_spatial_filter_pushdown(session, sql: str) -> Optional[str]:
    """Inject codegen bbox conjuncts for spatial predicates against literal
    geometries — the PostGIS "region query" (``WHERE ST_Intersects(t.geom,
    ST_GeomFromText('POLYGON …'))``).

    The reference gets this for free: its predicates are native expressions
    DataFusion folds and pushes down.  Here the predicate is a pandas UDF,
    which Catalyst can neither fold nor push — every row crosses into
    Python.  When the session has bbox covering columns registered for the
    scanned view (``register_bbox`` ≈ GeoParquet bbox metadata), this
    rewrite ANDs pure-column bbox conjuncts derived from the literal's
    envelope in front of the predicate.  Those conjuncts reach the parquet
    scan as PushedFilters → row-group skipping at 100 TB; the UDF remains
    only as the exact refine over surviving rows.  If the covering is
    ``exact`` and the literal is an axis rectangle, the conjuncts ARE the
    predicate and the UDF is dropped (zero Python in the plan).

    Scope: single-relation FROM (no JOIN); literal via ST_GeomFromText.
    Unmatched predicates are left untouched — the rewrite only ever ANDs
    necessary conditions, so it is correctness-preserving everywhere.
    """
    if not _LIT_PRED_RE.search(sql):
        return None
    # any JOIN anywhere (token match, not whitespace-fragile substring)
    # declines the single-relation rewrite; declining is always safe
    if search_code(_JOIN_TOKEN_RE, sql):
        return None
    # set-op arms each have their own FROM: attaching the first arm's
    # covering metadata to the other arms' predicates would be wrong
    if _has_top_level_setop(sql):
        return None
    # the FROM this rewrite resolves covering metadata against must be the
    # statement's own (depth-0) FROM — a match inside a CTE body, a
    # subquery, or a string literal would attach the wrong table's
    # covering columns
    fm = search_code(_FROM_SINGLE_RE, sql, depth=0)
    if not fm:
        return None
    table = fm.group("t")
    alias = fm.group("a")
    if alias and alias.lower() in RESERVED_ALIAS:
        alias = None
    # predicates inside subqueries scan OTHER relations: only rewrite
    # matches that sit outside every (SELECT ...) span
    sub_spans = _subquery_spans(sql)

    from dataclod_spark.geo.core import POINT, wkt_parse
    from dataclod_spark.geo.algos import axis_rect, bounds as gbounds
    from dataclod_spark.operators.spatial_join import (
        _sql_double,
        _tighten_sql,
        _verdict_sql,
    )

    changed = False

    def _repl(mm: re.Match) -> str:
        nonlocal changed
        if any(s < mm.start() < e_ for s, e_ in sub_spans):
            return mm.group(0)
        fn = mm.group("fn").lower()
        col_first = mm.group("col") is not None
        al = mm.group("al") if col_first else mm.group("al2")
        col = mm.group("col") if col_first else mm.group("col2")
        wkt = mm.group("wkt") if col_first else mm.group("wkt2")
        dtxt = mm.group("d")
        orig = mm.group(0)
        if fn == "st_dwithin":
            if dtxt is None:
                return orig
            pred_key = "dwithin"
        elif fn in _PRED_KEY and dtxt is None:
            pred_key = _PRED_KEY[fn]
        else:
            return orig
        if pred_key == "bbox":
            return orig
        if al is not None and (alias is None or al.lower() != alias.lower()):
            return orig
        meta = session.bbox_meta(table, col)
        if meta is None:
            return orig
        try:
            lit = wkt_parse(wkt)
            lb = gbounds(lit)
        except Exception:
            return orig
        if lb is None:
            return orig
        e = float(dtxt) if pred_key == "dwithin" else 0.0
        lit_box = tuple(
            _sql_double(v) for v in (lb[0] - e, lb[1] - e, lb[2] + e, lb[3] + e)
        )
        col_box = tuple(f"({c})" for c in (meta.xmin, meta.ymin, meta.xmax, meta.ymax))
        # predicate direction: col-first means the column geometry is the
        # predicate's first argument
        key = pred_key if col_first else _SWAPPED[pred_key]
        # covering conjuncts: the predicate's bbox tightening, else overlap
        conj = _tighten_sql(key, col_box, lit_box) or _verdict_sql(
            "intersects", col_box, lit_box
        )
        changed = True
        # exact elimination: covering is exact (bbox IS the geometry) and
        # the literal is a point or an axis rectangle → the JVM verdict IS the
        # predicate (NOT the closed-interval covering conjuncts alone:
        # ST_Within is false for a point ON the boundary, so within/
        # contains need the verdict table's open-interval point cases).  The
        # simple covering conjuncts still ride along — they are the part
        # that reaches the parquet scan as PushedFilters.
        if (
            meta.exact
            and (lit.kind == POINT or axis_rect(lit) is not None)
            and key in ("intersects", "within", "covered_by", "contains", "covers")
        ):
            return f"({conj} AND {_verdict_sql(key, col_box, lit_box)})"
        return f"({conj} AND {orig})"

    out = _LIT_PRED_RE.sub(_repl, sql)
    return out if changed else None
