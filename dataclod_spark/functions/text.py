"""Text-analysis column builders — large-scale training-data pipeline ops.

Beyond the reference surface (driver north-star): language-ID (marker-word
heuristic), quality scoring (length/punctuation/stopword ratios), token
counting (whitespace regex), and document fingerprinting (md5 of normalized
text).  Everything here is a pure ``pyspark.sql.functions`` expression —
JVM-side, whole-stage-codegen'd, no Python in the row path — so the same
pipeline runs unchanged over 100 TB of documents.

Each builder has an exactly-matching ANSI-SQL spelling used by the DuckDB
oracles in ``dataclod_spark.queries.text`` — keep the two in sync.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Marker stopwords per language for the n-gram/marker language-ID heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "is", "and", "of", "to"),
    "de": ("der", "die", "und", "ist", "das"),
    "es": ("el", "los", "y", "es", "de"),
    "fr": ("le", "la", "et", "est", "les"),
}
# Deterministic priority order for argmax ties.
LANG_PRIORITY = ("en", "de", "es", "fr")

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")


def explode_nonnull(df, keep: list, arr: Column, alias: str):
    """``explode`` an EXPENSIVE array without Catalyst's inferred-filter tax.

    ``InferFiltersFromGenerate`` rewrites ``explode(e)`` into
    ``Filter(size(e) > 0 AND isnotnull(e)) → Generate`` — and that filter
    is then pushed below the projection chain with the whole array
    expression INLINED TWICE, re-evaluated per source row (and, when the
    scan is being spread, *below* the repartition exchange, i.e. on the
    unsplit scan's task count).  Measured on d6's gram pass at sf0.1: the
    tokenize→gram chain ran 3× per row, ~2× of it serial — the inferred
    filter cost more than the whole rest of the query.

    The rule skips OUTER generates, so ``explode_outer`` + an explicit
    ``isnotnull`` on the generator OUTPUT (unpushable by construction)
    keeps the chain evaluated exactly once.  Equivalent to ``explode``
    ONLY when the array's elements are provably non-null (hashes,
    ``concat_ws``, structs) — a null ELEMENT would survive ``explode``
    but be dropped here; use :func:`posexplode_nonnull` when element
    nullability is not provable.
    """
    return df.select(*keep, F.explode_outer(arr).alias(alias)).filter(
        F.col(alias).isNotNull()
    )


def posexplode_nonnull(df, keep: list, arr: Column, pos_alias: str, alias: str):
    """``posexplode`` variant of :func:`explode_nonnull`.

    Filters on the POSITION output instead of the value, so it is exactly
    ``posexplode``-equivalent even for arrays containing null elements
    (the position is null only for the outer-emitted empty/null-array
    row, never for a real element)."""
    return df.select(
        *keep, F.posexplode_outer(arr).alias(pos_alias, alias)
    ).filter(F.col(pos_alias).isNotNull())


def normalize_text(col: Column) -> Column:
    """lower + whitespace-collapse + trim. SQL: lower(trim(regexp_replace(x,'\\s+',' ','g')))."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def tokens(col: Column) -> Column:
    """Whitespace tokens of normalized text. SQL: string_split_regex(norm, '\\s+')."""
    return F.split(normalize_text(col), r"\s+")


def token_count(col: Column) -> Column:
    """Token count; 0 for empty/blank text."""
    return F.when(F.length(normalize_text(col)) == 0, F.lit(0)).otherwise(
        F.size(tokens(col))
    )


def stopword_ratio(col: Column) -> Column:
    """Fraction of tokens that are stopwords (0 when no tokens)."""
    toks = tokens(col)
    stops = F.filter(toks, lambda t: t.isin(*STOPWORDS))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        F.size(stops).cast("double") / F.size(toks)
    )


def alpha_ratio(col: Column) -> Column:
    """Fraction of characters that are a-z or space, over normalized text."""
    norm = normalize_text(col)
    alpha = F.length(F.regexp_replace(norm, r"[^a-z ]", ""))
    return F.when(F.length(norm) == 0, F.lit(0.0)).otherwise(
        alpha.cast("double") / F.length(norm)
    )


def quality_score(col: Column) -> Column:
    """Composite quality score in [0,1]:
    0.4·min(tokens/50, 1) + 0.3·(1 − stopword_ratio) + 0.3·alpha_ratio.

    Computed as ONE integer-arithmetic ratio (num/den over exact BIGINT
    counts) so the resulting double is bit-identical across engines — no
    intermediate float combination, no rounding, no half-boundary ambiguity:
        num = 4·min(nt,50)·nt·nc + 3·(nt−st)·50·nc + 3·al·50·nt
        den = 500·nt·nc
    where nt=token count, st=stopword count, al=[a-z ] char count,
    nc=normalized char count.  Empty docs score 0.0.
    """
    norm = normalize_text(col)
    toks = tokens(col)
    nt = F.size(toks).cast("long")
    st = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("long")
    al = F.length(F.regexp_replace(norm, r"[^a-z ]", "")).cast("long")
    nc = F.length(norm).cast("long")
    num = (
        4 * F.least(nt, F.lit(50).cast("long")) * nt * nc
        + 3 * (nt - st) * 50 * nc
        + 3 * al * 50 * nt
    )
    den = 500 * nt * nc
    return F.when((F.length(norm) == 0) | (nt == 0), F.lit(0.0)).otherwise(
        num.cast("double") / den
    )


def marker_count(col: Column, markers: tuple[str, ...]) -> Column:
    """Number of tokens that are in the marker set."""
    return F.size(F.filter(tokens(col), lambda t: t.isin(*markers)))


def langid(col: Column) -> Column:
    """Marker-word language-ID: argmax of per-language marker counts, ties
    broken by LANG_PRIORITY order; 'und' (undetermined) when all zero."""
    scores = {lang: marker_count(col, LANG_MARKERS[lang]) for lang in LANG_PRIORITY}
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # build CASE in reverse priority so earlier langs win ties
    for lang in reversed(LANG_PRIORITY):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 hex of normalized text."""
    return F.md5(normalize_text(col).cast("binary"))


# Character-trigram profiles per language (top frequent trigrams incl.
# spaces, the classic Cavnar–Trenkle n-gram shape).  Space-padded text
# makes word-boundary trigrams ("th", "de ") count like the real method.
LANG_TRIGRAMS: dict[str, tuple[str, ...]] = {
    "en": (" th", "the", "he ", " an", "and", "nd ", " of", "of ", "ing", "ng "),
    "de": (" de", "der", "er ", "ie ", " di", "die", "und", " un", "nd ", "ch "),
    "es": (" de", "de ", " la", "la ", "os ", " lo", "los", " es", "es ", "as "),
    "fr": (" le", "le ", " la", " et", "et ", "es ", " de", "de ", "la ", "nt "),
}


def _char_trigrams_from(padded: Column) -> Column:
    """Overlapping trigrams of an already-staged padded string (pass an
    attribute in hot paths — see the lambda-inlining notes elsewhere).

    Blank text pads to two spaces and must yield NO trigrams — the short
    branch is explicit because ``sequence(1, 0)`` is the DESCENDING array
    [1, 0] in Spark (the old ``greatest(len-2, 0)`` bound produced two
    junk '  ' trigrams per blank doc, where the DuckDB oracle's
    ``range(1, len-1)`` is empty)."""
    return F.when(
        F.length(padded) < 3, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(padded) - 2),
            lambda i: padded.substr(i, F.lit(3)),
        )
    )


def _pad_norm(col: Column) -> Column:
    """' ' + normalized text + ' ' — word-boundary trigrams count like the
    real Cavnar-Trenkle method."""
    return F.concat(F.lit(" "), normalize_text(col), F.lit(" "))


def char_trigrams(col: Column) -> Column:
    """All character trigrams of ' ' + normalized text + ' ' (overlapping,
    non-distinct — frequency matters for profile scoring).  Pure JVM array
    arithmetic.  SQL twin: list_transform(range(1, len(p)-1),
    i -> substr(p, i, 3)) over the same padded string."""
    return _char_trigrams_from(_pad_norm(col))


def _trigram_score_from(trigrams: Column, lang: str) -> Column:
    """Profile-hit count over an already-staged trigram array column."""
    profile = LANG_TRIGRAMS[lang]
    return F.size(F.filter(trigrams, lambda t: t.isin(*profile)))


def _langid_ngram_from(trigrams: Column) -> Column:
    """Argmax of profile-hit counts over a staged trigram array; ties
    broken by LANG_PRIORITY, 'und' when all zero."""
    scores = {lang: _trigram_score_from(trigrams, lang) for lang in LANG_PRIORITY}
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in reversed(LANG_PRIORITY):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def langid_ngram(col: Column) -> Column:
    """Character-trigram language-ID (single-expression form — the
    scores/argmax reference the trigram array ~12×, so over raw text the
    normalize regex would re-run per element per reference; hot paths use
    :func:`with_langid_ngram`)."""
    return _langid_ngram_from(char_trigrams(col))


def with_langid_ngram(df, text_col: str = "text", out: str = "lang_detected"):
    """Stage the padded-normalized string and the trigram array as real
    columns, then compute the argmax from the (cheap) array attribute —
    the O(len) form of :func:`langid_ngram` (measured 73 s → ~1 s per 5k
    docs at sf0.1; see winnow_fingerprint_rows for the inlining trap)."""
    staged = df.withColumn("__pad", _pad_norm(F.col(text_col))).withColumn(
        "__tri", _char_trigrams_from(F.col("__pad"))
    )
    return staged.withColumn(out, _langid_ngram_from(F.col("__tri"))).drop(
        "__pad", "__tri"
    )


# GPT-2-style pre-tokenizer pattern, restricted to constructs shared by
# Java regex (Spark) and RE2 (DuckDB) — no lookahead, ASCII classes — so
# the differential oracle tokenizes identically:
# contractions | optional-space letters | optional-space digits |
# optional-space other-punct runs
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s']+"


def bpe_tokens(col: Column) -> Column:
    """BPE-ish pre-tokenization (the merge step of a real BPE runs on these
    pieces; counting them approximates LLM token counts far better than
    whitespace splitting)."""
    return F.regexp_extract_all(F.lower(col), F.lit(BPE_PATTERN), F.lit(0))


def bpe_token_count(col: Column) -> Column:
    return F.size(bpe_tokens(col))


# rolling-hash fingerprint parameters (winnowing-style k-gram selection)
ROLLING_K = 3
ROLLING_BASE = 31


def _token_values(col: Column) -> Column:
    """Deterministic per-token 32-bit values (md5-derived, engine-neutral)."""
    return F.transform(
        tokens(col), lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint")
    )


def _kgram_hashes_from(vals: Column, k: int = ROLLING_K) -> Column:
    """Polynomial hash of every k-gram of a token-value array (values
    < 2^47, so exact in any int64 engine); empty array below k values.

    Shape matters: the k-gram combine is ``zip_with`` over k shifted
    slices, NOT ``transform(sequence, i -> element_at(vals, i+j))``.  A
    lambda that references the (expensive, md5-per-token) ``vals``
    expression gets it *inlined per element* by Catalyst — O(n²) hash
    evaluations per row; here ``vals`` is referenced k+1 times at top
    level and each lambda touches only its own arguments.
    """
    n = F.size(vals)
    m = F.greatest(n - (k - 1), F.lit(0))
    h = F.slice(vals, 1, m)
    for j in range(1, k):
        h = F.zip_with(
            h,
            F.slice(vals, j + 1, m),
            lambda acc, v: acc * ROLLING_BASE + v,
        )
    return F.when(n >= k, h).otherwise(F.array().cast("array<bigint>"))


def _kgram_hashes(col: Column, k: int = ROLLING_K) -> Column:
    """K-gram hashes straight from a text column."""
    return _kgram_hashes_from(_token_values(col), k)


def rolling_fingerprint(col: Column, k: int = ROLLING_K) -> Column:
    """Winnowing-style document fingerprint: polynomial rolling hash over
    every token k-gram, fingerprint = minimum window hash (robust to
    insertions far from the minimizing window — unlike whole-document
    hashing, near-identical documents keep equal fingerprints).

    All JVM expression code: transform/sequence/aggregate over the token
    array; values stay < 2^47 so no modulus is needed (bit-identical in
    any int64 engine).  NULL for documents with fewer than k tokens.
    """
    hashes = _kgram_hashes(col, k)
    return F.when(F.size(hashes) >= 1, F.array_min(hashes)).otherwise(F.lit(None))


# winnowing window: every w consecutive k-gram hashes contribute their
# minimum; any shared token run of length >= k + w - 1 is guaranteed to
# share a fingerprint (Schleimer/Wilkerson/Aiken 2003 winnowing property)
WINNOW_W = 4


def _window_mins(hashes: Column, w: int = WINNOW_W) -> Column:
    """Distinct sliding-window minima: ``least`` folded across w shifted
    slices (same construction as :func:`_kgram_hashes`, same reason —
    per-window lambdas must not reference the O(n)-cost hash array or
    Catalyst inlines it per element)."""
    nh = F.size(hashes)
    mw = F.greatest(nh - (w - 1), F.lit(0))
    mins = F.slice(hashes, 1, mw)
    for j in range(1, w):
        mins = F.zip_with(
            mins, F.slice(hashes, j + 1, mw), lambda a, b: F.least(a, b)
        )
    return (
        F.when(nh >= w, F.array_distinct(mins))
        .when(nh >= 1, F.array(F.array_min(hashes)))
        .otherwise(F.array().cast("array<bigint>"))
    )


def winnow_fingerprint_rows(
    df, id_col: str = "doc_id", text_col: str = "text",
    k: int = ROLLING_K, w: int = WINNOW_W,
):
    """``(id, fp)`` rows — one per distinct winnowing fingerprint: the
    distinct minima of every sliding window of ``w`` consecutive k-gram
    hashes.  Documents sharing a token run of length ≥ k + w - 1
    necessarily share a fingerprint — the scalable substring-dedup
    primitive (suffix arrays don't distribute).  A document with ≥1 but
    < w k-grams keeps its single global minimum; one with no k-gram has
    no row.

    Performance shape (measured 30× at sf0.1): the token-value and k-gram
    arrays are staged as real columns and the window-min expression is
    exploded INLINE over those attributes.  Exploding an *aliased* array
    column instead makes Catalyst substitute the whole expression chain
    into the Generate node — every one of the ~40 cross-references then
    re-evaluates its child, and the fingerprint pass goes from ~0.5 s to
    ~17 s per 5k docs.  Never ``withColumn("fps", ...)`` then
    ``explode("fps")`` with expensive array expressions.
    """
    staged = df.withColumn("__tv", _token_values(F.col(text_col))).withColumn(
        "__wh", _kgram_hashes_from(F.col("__tv"), k)
    )
    # explode_nonnull (fp elements are xxhash64 bigints, never null): plain
    # explode's inferred pre-filter would inline the window-min chain 2×
    return explode_nonnull(
        staged, [F.col(id_col).alias("id")], _window_mins(F.col("__wh"), w), "fp"
    )


def distinct_token_count(col: Column) -> Column:
    """Number of distinct tokens; 0 for blank text."""
    return F.when(F.length(normalize_text(col)) == 0, F.lit(0)).otherwise(
        F.size(F.array_distinct(tokens(col)))
    )


def repetition_ratio(col: Column) -> Column:
    """Intra-document repetition: 1 − distinct_tokens/tokens (0 for blank).

    The boilerplate/dedup-within-doc signal used by training-data quality
    filters; kept as an exact integer ratio so the double is bit-identical
    across engines: (n_tokens − n_distinct) / n_tokens.
    """
    nt = token_count(col)
    nd = distinct_token_count(col)
    return F.when(nt == 0, F.lit(0.0)).otherwise((nt - nd).cast("double") / nt)


def word_ngram_stream_from(toks: Column, n: int) -> Column:
    """ALL space-joined word n-grams of an already-staged token array, in
    order and NON-distinct (frequency matters for repetition metrics —
    the distinct counterpart is ``operators.dedup._word_ngrams_from``).

    Fewer than ``n`` tokens → EMPTY array; the branch is explicit because
    ``sequence(1, 0)`` is the DESCENDING [1, 0] in Spark.  Stage ``toks``
    as a real column first: the per-gram lambda slices it, and an inlined
    tokenizer regex would re-run per element.
    """
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))


def ngram_repetition_from(grams: Column) -> Column:
    """``struct(top_cover bigint, dup_cover bigint)`` repetition stats of a
    staged gram array (Gopher-style repetition signals, Rae et al. 2021
    §A1.1): ``top_cover`` = max over distinct grams of count·len(gram)
    (characters covered by the most-covering gram — deterministic where
    "most frequent, ties unspecified" is not), ``dup_cover`` = total
    count·len over grams occurring more than once.

    Zero-shuffle by construction: sort the array, then one run-length
    ``aggregate`` fold — per-document map work, no explode, no groupBy.
    The equivalent unnest+GROUP BY formulation (what the DuckDB oracle
    spells) shuffles the whole gram stream; at 100 TB a per-doc metric
    must never leave its row.
    """
    s = F.array_sort(grams)
    init = F.named_struct(
        F.lit("prev"), F.lit(None).cast("string"),
        F.lit("run"), F.lit(0).cast("bigint"),
        F.lit("top"), F.lit(0).cast("bigint"),
        F.lit("dup"), F.lit(0).cast("bigint"),
    )

    def _close(acc):
        """top/dup after closing the run in progress (no-op before the
        first element, when prev is still null)."""
        top = F.greatest(acc["top"], acc["run"] * F.length(acc["prev"]))
        dup = acc["dup"] + F.when(
            acc["run"] > 1, acc["run"] * F.length(acc["prev"])
        ).otherwise(F.lit(0))
        return (
            F.when(acc["prev"].isNull(), acc["top"]).otherwise(top),
            F.when(acc["prev"].isNull(), acc["dup"]).otherwise(dup),
        )

    def step(acc, x):
        same = acc["prev"].isNotNull() & (x == acc["prev"])
        top, dup = _close(acc)
        return F.named_struct(
            F.lit("prev"), x,
            F.lit("run"), F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("bigint")),
            F.lit("top"), F.when(same, acc["top"]).otherwise(top),
            F.lit("dup"), F.when(same, acc["dup"]).otherwise(dup),
        )

    def finish(acc):
        top, dup = _close(acc)
        return F.named_struct(F.lit("top_cover"), top, F.lit("dup_cover"), dup)

    return F.aggregate(s, init, step, finish)


# ---------------------------------------------------------------------------
# PII / denylist scrubbing (training-data pipeline hygiene pass)
# ---------------------------------------------------------------------------
# Patterns are kept to the regex subset with identical semantics in Java
# (Spark codegen) and RE2 (DuckDB oracle): character classes, bounded
# repetition, \b word boundaries, (?i) inline flags, non-capturing groups
# — no backreferences or lookaround.
#
# email is (?i): regexp_replace is case-sensitive and a lowercase-only
# scrub silently leaks 'John.Doe@Example.COM' (review find, round 5).
# phone requires ≥ 9 digits with at most 2 separator chars between
# consecutive digits: the old '[0-9() -]{7,}' run matched every ISO date
# and page range (8 digits), corrupting them to <PHONE>; a single date is
# now safe, at the cost of 7-digit local numbers — and two dates fused by
# a single space still over-match, the inherent limit of a context-free
# pattern (production validators use checksum/context passes on top).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+?[0-9](?:[() -]{0,2}[0-9]){8,}", "<PHONE>"),
)

_REGEX_META = set("\\.^$|?*+()[]{}")
_WORD_CHARS = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_")


def regex_quote(term: str) -> str:
    """Escape regex metacharacters (Java ∩ RE2 portable — no \\Q..\\E)."""
    return "".join("\\" + c if c in _REGEX_META else c for c in term)


def denylist_pattern(term: str) -> str:
    """Literal-term scrub pattern: metacharacters escaped, ``\\b`` anchors
    where the terminal char is a word char, and — because ``\\b`` after a
    non-word char like '+' would require the NEXT char to be a word char
    ('\\bc\\+\\+\\b' never matches 'uses c++ here'; review find, round 5:
    unescaped splicing turned denylist=('c++',) into a possessive
    quantifier that redacted every bare 'c') — a CAPTURING ``([^\\w]|$)``
    boundary emulation at a non-word-char end (lookahead is outside the
    Java∩RE2 portable subset, so the boundary char is consumed by the
    match; 'c++x' is correctly NOT a hit).  Replacements must re-emit the
    captured char: use :func:`denylist_replacement` for the
    dialect-correct backreference instead of a bare literal."""
    if not term:
        raise ValueError("empty denylist term")
    pre = r"\b" if term[0] in _WORD_CHARS else ""
    if term[-1] in _WORD_CHARS:
        return f"{pre}{regex_quote(term)}\\b"
    return f"{pre}{regex_quote(term)}([^\\w]|$)"


def denylist_replacement(term: str, repl: str = "<TERM>", dialect: str = "spark") -> str:
    """Replacement string paired with :func:`denylist_pattern`: when the
    pattern carries the capturing boundary group (non-word-char terminal),
    the consumed boundary char is re-emitted via the dialect's
    backreference (Java ``$1`` vs RE2/DuckDB ``\\1``)."""
    if term and term[-1] in _WORD_CHARS:
        return repl
    return repl + ("$1" if dialect == "spark" else "\\1")


def pii_count(col: Column, pattern: str) -> Column:
    """Number of non-overlapping matches of one scrub pattern."""
    return F.regexp_count(col, F.lit(pattern))


def scrub_text(col: Column, patterns=PII_PATTERNS, denylist: tuple[str, ...] = ()) -> Column:
    """Redact every PII pattern (and optional denylist terms — escaped
    literals, see :func:`denylist_pattern`) with its placeholder.
    Chained ``regexp_replace`` — pure whole-stage-codegen string work, no
    Python, order = declaration order (email before phone so a
    digit-bearing local-part is consumed as the email match, matching the
    oracle's identical chain)."""
    out = col
    for _, pat, repl in patterns:
        out = F.regexp_replace(out, pat, repl)
    for term in denylist:
        out = F.regexp_replace(out, denylist_pattern(term), denylist_replacement(term))
    return out
