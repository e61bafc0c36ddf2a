"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard.

Large-scale training-data pipeline operators (driver north-star; beyond the
reference's own surface).  All signature computation is pure
``pyspark.sql.functions`` array expressions — shingling, hashing and the
min-reduction happen JVM-side with no explode and no Python, so a signature
pass over 100 TB is a single narrow projection (one scan, zero shuffles).
Only the candidate-pair join shuffles, and it shuffles on the LSH band key —
the whole point of banding is that this join is tiny compared to the
all-pairs cross join.

Design mapping (SURVEY.md §7 Phase 5 / driver spec):
* exact dedup      → fingerprint groupBy (hash-partitioned, map-side combine)
* MinHash          → char-8-gram shingles → one md5 per shingle, k ≤ 4
                     permutations as disjoint 8-hex slices → array_min
* LSH              → band signature equality join, pair dedup by (id1<id2)
* SimHash          → per-bit majority over token hashes (16-bit variant has a
                     cross-engine SQL oracle; 64-bit variant uses xxhash64)
* embedding dedup  → label-blocked cosine pairs (the IVF-style coarse bucket)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataclod_spark.functions.text import (
    explode_nonnull,
    normalize_text,
    posexplode_nonnull,
    tokens,
)
from dataclod_spark.session import local_frame

SHINGLE_SIZE = 8
MINHASH_K = 4  # number of md5 "permutations"; mh_0..mh_{k-1} columns


def _char_shingles_from(norm: Column, n: int = SHINGLE_SIZE) -> Column:
    """Distinct character n-gram shingles of an ALREADY-STAGED normalized
    string column.  The per-shingle lambda references ``norm`` — if that
    is the raw normalize-regex expression instead of a cheap attribute,
    Catalyst inlines the regex per element and the shingle pass goes
    O(len²); callers must stage the normalized text as a real column
    first (see ``functions.text.winnow_fingerprint_rows`` for the
    measured version of this trap)."""
    idx = F.sequence(F.lit(1), F.length(norm) - (n - 1))
    grams = F.transform(idx, lambda i: norm.substr(i, F.lit(n)))
    return F.array_distinct(
        F.when(F.length(norm) < n, F.array(norm)).otherwise(grams)
    )


def char_shingles(col: Column, n: int = SHINGLE_SIZE) -> Column:
    """Distinct character n-gram shingles of the normalized text (single-
    expression form — for one-shot use only; hot paths stage the
    normalized string and call :func:`_char_shingles_from`).

    SQL spelling: list_distinct(list_transform(range(1, len-n+2),
    i -> substr(norm, i, n))), with the whole text as the single shingle
    when shorter than n.
    """
    return _char_shingles_from(normalize_text(col), n)


def minhash_col(shingles: Column, seed: int, hash_fn: str = "md5") -> Column:
    """One MinHash value: min of hash(seed, shingle) over the shingle set.

    ``md5`` (default) acts as the random permutation with a lexicographic
    hex-string min — chosen because it is reproducible verbatim in DuckDB
    for the differential oracle.  Seeds 0–3 are disjoint 8-hex-digit
    (32-bit) slices of ONE md5 per shingle — md5's digits are pairwise
    independent, so the slices are 4 independent permutations for the
    cost of a single digest (callers that stage the digest array once,
    like :func:`with_minhash_signature`, get the whole k=4 signature for
    one md5 pass; measured ~4× on the signature stage).  Seeds ≥ 4 fall
    back to a fresh seeded digest.  ``xxhash64`` is the production
    variant: a JVM-codegen'd 64-bit hash, ~5× faster than interpreted md5
    over the same shingle volume — the right choice at 100 TB,
    oracle-covered by planted-duplicate tests instead of SQL (same split
    as simhash16/64).
    """
    if hash_fn == "xxhash64":
        return F.array_min(F.transform(shingles, lambda s: F.xxhash64(F.lit(seed), s)))
    if seed < 4:
        return F.array_min(
            F.transform(shingles, lambda s: F.substring(F.md5(s.cast("binary")), 1 + 8 * seed, 8))
        )
    return F.array_min(
        F.transform(shingles, lambda s: F.md5(F.concat(F.lit(f"{seed}:"), s).cast("binary")))
    )


def _minhash_from_digests(digests: Column, seed: int) -> Column:
    """MinHash seed 0–3 from a STAGED per-shingle md5-hex array: min of the
    seed's 8-hex-digit slice.  Slicing is O(1) per element, so k mins over
    one staged digest array cost one md5 pass total."""
    return F.array_min(F.transform(digests, lambda h: F.substring(h, 1 + 8 * seed, 8)))


def with_shingles(df: DataFrame, text_col: str = "text", out: str = "__shingles") -> DataFrame:
    """Stage the normalized text, then the shingle array, as real columns
    (two projections) so each is computed once per row."""
    return (
        df.withColumn("__mh_norm", normalize_text(F.col(text_col)))
        .withColumn(out, _char_shingles_from(F.col("__mh_norm")))
        .drop("__mh_norm")
    )


def with_minhash_signature(
    df: DataFrame, text_col: str = "text", k: int = MINHASH_K,
    hash_fn: str = "md5",
    keep_shingles: bool = False,
) -> DataFrame:
    """Add mh_0..mh_{k-1} MinHash signature columns (staged projections).

    The md5 path stages ONE digest array per row and slices k ≤ 4
    permutations out of it (CollapseProject keeps the staged projection
    because the digest expression is non-cheap and referenced k times),
    so the digest cost is paid once, not per seed.  ``keep_shingles=True``
    retains the staged ``__shingles`` column — callers that also need the
    shingle sets (the LSH verify join) then materialize ONE combined
    table instead of running the normalize→shingle corpus pass twice."""
    out = with_shingles(df, text_col)
    if hash_fn == "md5" and k <= 4:
        out = out.withColumn(
            "__md5s", F.transform(F.col("__shingles"), lambda s: F.md5(s.cast("binary")))
        )
        for s in range(k):
            out = out.withColumn(f"mh_{s}", _minhash_from_digests(F.col("__md5s"), s))
        out = out.drop("__md5s")
    else:
        for s in range(k):
            out = out.withColumn(f"mh_{s}", minhash_col(F.col("__shingles"), s, hash_fn))
    return out if keep_shingles else out.drop("__shingles")


def with_lsh_bands(
    df: DataFrame, k: int = MINHASH_K, rows_per_band: int = 2,
    hash_fn: str = "md5",
) -> DataFrame:
    """Add band_0..band_{k/r-1} columns: hash of concatenated band rows
    (md5 hex for oracle parity, xxhash64 for production)."""
    n_bands = k // rows_per_band
    if n_bands < 1:
        raise ValueError(
            f"rows_per_band={rows_per_band} exceeds k={k}: at least one "
            "band is required (k // rows_per_band >= 1)"
        )
    out = df
    for b in range(n_bands):
        parts = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        if hash_fn == "xxhash64":
            out = out.withColumn(f"band_{b}", F.xxhash64(*parts))
        else:
            out = out.withColumn(f"band_{b}", F.md5(F.concat(*parts).cast("binary")))
    return out


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = MINHASH_K,
    rows_per_band: int = 2,
    jaccard_threshold: float = 0.5,
    hash_fn: str = "md5",
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with exact-Jaccard verification.

    1. signature pass (no shuffle), 2. per-band equality self-join carrying
    **ids only** (shuffle on band hash — the scalable step; the
    document-sized shingle arrays never enter the band shuffle or the pair
    distinct), 3. pair-level union+distinct on bare (id_1, id_2), 4. exact
    Jaccard: shingle sets re-joined once onto the surviving candidate pairs.
    Returns (id_1, id_2, jaccard) with id_1 < id_2 and jaccard ≥ threshold.

    At 100 TB: the band joins and pair dedup shuffle O(pairs) rows of two
    ids + a hash each; the only place full shingle arrays move is the final
    per-candidate verify join, whose left side is the (small) pair set.
    """
    n_bands = k // rows_per_band
    if n_bands < 1:
        raise ValueError(
            f"rows_per_band={rows_per_band} exceeds k={k}: at least one "
            "band is required (k // rows_per_band >= 1)"
        )
    sig = with_lsh_bands(
        with_minhash_signature(
            df.select(id_col, text_col), text_col, k, hash_fn, keep_shingles=True
        ),
        k, rows_per_band, hash_fn,
    )
    # materialize (id, shingle-set, band hashes) in ONE corpus pass before
    # the self-joins, for two reasons.  (a) The optimizer pushes
    # `isnotnull(band)` join-key filters below the staged projections as
    # fully-inlined copies of the whole shingle→minhash→band chain,
    # re-evaluating the md5 transforms per row in quadratic form —
    # measured 65 s per band join at sf0.1, 0.15 s for the signature pass
    # itself; checkpointing means every join branch reads the signatures
    # instead of recomputing them.  (b) The verify step needs the SHINGLE
    # sets too, and the shingle chain is the signature chain's prefix —
    # carrying __shingles through this one materialization replaces the
    # second normalize→shingle corpus pass (and its separate checkpoint
    # job) the r11 form paid (guide §1.2; checkpoint jobs 2 → 1).
    chk = sig.select(
        F.col(id_col).alias("__chk_id"),
        F.col("__shingles").alias("__sh"),
        *[f"band_{b}" for b in range(n_bands)],
    ).localCheckpoint(eager=True)
    bands = chk.select(
        F.col("__chk_id").alias("__band_id"),
        *[f"band_{b}" for b in range(n_bands)],
    )

    # ONE (band#, hash) equi self-join over the long-form band table
    # instead of a union of n_bands separate self-joins: the same pair
    # set (a pair matches iff it shares SOME band), but the band table
    # shuffles once instead of once per band and the per-band join +
    # union + distinct stage ladder collapses — measured 2.3 s of mostly
    # scheduling for 23k pairs at sf0.1 in the union form.  NULL band
    # hashes (empty docs) drop in the equi-join exactly as before.
    long = bands.select(
        "__band_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"), F.col(f"band_{b}").alias("h")
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("e"),
    ).select("__band_id", "e.b", "e.h")
    cand = (
        long.select(F.col("__band_id").alias("id_1"), "b", "h")
        .join(long.select(F.col("__band_id").alias("id_2"), "b", "h"), ["b", "h"])
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
        .dropDuplicates(["id_1", "id_2"])
    )

    # attach each side's distinct-shingle set exactly once, post-dedup —
    # both pair-side joins read the combined checkpoint's shingle column
    # (no second corpus pass; see the materialization note above)
    sh = chk.select(F.col("__chk_id").alias("__sh_id"), "__sh")
    # SHUFFLE_HASH with the pair side as build: the planner otherwise
    # broadcasts the shingle table (its row COUNT is small but each row
    # carries a document-sized array — two HashedRelation builds of the
    # whole corpus' shingles; measured d3 7.5 → 5.0 s best-of-3 at sf0.1,
    # and at scale a corpus-side broadcast is exactly the wrong side).
    # Shuffling by id moves each shingle set once; the per-partition hash
    # table is built over bare (id_1, id_2) pairs.
    cand = cand.hint("shuffle_hash")
    cand = (
        cand.join(sh, cand["id_1"] == sh["__sh_id"])
        .select("id_1", "id_2", F.col("__sh").alias("sh_1"))
        .hint("shuffle_hash")
        .join(sh, F.col("id_2") == sh["__sh_id"])
        .select("id_1", "id_2", "sh_1", F.col("__sh").alias("sh_2"))
    )
    inter = F.size(F.array_intersect(F.col("sh_1"), F.col("sh_2")))
    union = F.size(F.array_union(F.col("sh_1"), F.col("sh_2")))
    return (
        cand.withColumn("jaccard", F.round(inter.cast("double") / union, 4))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_1", "id_2", "jaccard")
    )


def simhash16(col: Column) -> Column:
    """16-bit SimHash of the token multiset as a '0'/'1' bit-string.

    Bit j is the sign of the sum over tokens of ±1, where the token's j-th
    md5 hex digit ≥ '8' contributes +1 and < '8' contributes −1.  Uses the
    first 16 hex digits of md5 — fully SQL-expressible, so it carries a
    DuckDB oracle; see simhash64 for the production-width variant.
    """
    toks = tokens(col)

    # NB: F.transform passes (element, index) to two-argument lambdas, so the
    # hex position must be bound via a closure, not a default argument.
    def contrib(j: int):
        return F.transform(
            toks,
            lambda t: F.when(
                F.substring(F.md5(t.cast("binary")), j, 1) >= "8", F.lit(1)
            ).otherwise(F.lit(-1)),
        )

    bits = []
    for j in range(1, 17):
        total = F.aggregate(contrib(j), F.lit(0), lambda acc, x: acc + x)
        bits.append(F.when(total > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def simhash64(col: Column) -> Column:
    """64-bit SimHash (production variant) using xxhash64 token hashes.

    JVM-side xxhash64 has no DuckDB twin, so this variant is covered by
    pytest planted-duplicate tests rather than a SQL oracle.
    """
    toks = tokens(col)

    def contrib(mask):
        return F.transform(
            toks,
            lambda t: F.when(F.xxhash64(t).bitwiseAND(mask) != 0, F.lit(1)).otherwise(
                F.lit(-1)
            ),
        )

    bits = []
    for j in range(64):
        # shiftleft keeps the mask JVM-side (1<<63 overflows a Python-built
        # long literal; as a shift it is just the sign bit)
        mask = F.shiftleft(F.lit(1).cast("long"), j)
        total = F.aggregate(contrib(mask), F.lit(0), lambda acc, x: acc + x)
        bits.append(F.when(total > 0, mask).otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: keep the lowest-id row per normalized-text fingerprint.

    One shuffle total: ``min_by(struct(*), id_col)`` aggregates the full
    keeper row per fingerprint in a single partial+final hash aggregate —
    no re-join of the input against the winners (at 100 TB the fingerprint
    is the widest shuffle key; paying it twice doubles the dominant cost).
    """
    from dataclod_spark.functions.text import fingerprint

    cols = df.columns
    h = df.withColumn("__fp", fingerprint(F.col(text_col)))
    kept = h.groupBy("__fp").agg(
        F.min_by(F.struct(*[F.col(c) for c in cols]), F.col(id_col)).alias("__row")
    )
    return kept.select(*[F.col(f"__row.{c}").alias(c) for c in cols])


_COMPONENTS_SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("component", T.LongType())]
)


def connected_components(
    edges: DataFrame,
    src: str = "id_1",
    dst: str = "id_2",
    max_iter: int = 64,
    driver_edge_limit: int = 500_000,
    stats: dict | None = None,
) -> DataFrame:
    """(id, component) for every node of an undirected edge set; the
    component label is the minimum node id reachable from the node.

    ``stats``, if a dict is passed, receives ``{"path": "driver" |
    "distributed", "rounds": <LS+SS rounds executed>}`` — tests assert
    the O(log n) round bound through it.

    This is the cluster step of near-duplicate removal: LSH/Jaccard pairs
    → connected components → keep one representative per component.

    **Adaptive execution** (the AQE-broadcast idea applied to graph
    connectivity): the edge set is materialized once, and if it fits the
    ``driver_edge_limit`` (500k edges — ~8 MB of int64 numpy buffers per
    500k edges plus one index array per node; near-dup graphs are
    usually tiny next to the corpus) the components are solved with one
    driver-side union-find over the Arrow/numpy buffers directly (no
    Python-object materialization); each distributed round costs joins +
    shuffles + job launches, so for small graphs the loop is pure fixed
    overhead (~6 s at sf0.1).  Larger graphs take the distributed path:
    **alternating large-star/small-star** (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) — O(log n) rounds
    regardless of graph diameter, so long chains and lattice-like
    spatial core graphs converge where min-label propagation's
    O(diameter) rounds would not.  ``max_iter`` bounds the LS+SS rounds
    and the function RAISES if exhausted (silent unconverged labels were
    worse).  Observed round growth is ~1.5·log2(n) (20 rounds for a
    10k-node path, the worst shape tested); the Alternating variant's
    proven bound is O(log² n), so the default cap is 64 — comfortable
    headroom for any realistic graph, and free when convergence is
    earlier because the loop exits on the first no-change round.

    Scale: each round is two groupBy+join passes over the *current* edge
    set, which only shrinks toward one edge per non-root node.
    Iterative algorithms MUST truncate lineage: the edge set (often an
    expensive LSH/fingerprint pipeline) is materialized ONCE via
    ``localCheckpoint`` before the loop, and each round's edges are
    checkpointed too — otherwise round N re-executes the full upstream
    pipeline N times over AND the convergence probe doubles it
    (measured: 357 s → ~10 s on the sf0.1 cluster query).

    Both paths produce the identical (id, min-reachable-id) labeling.
    The reference's analogue for this shape is the out-of-core design of
    spatial/src/join/prepare.rs — bounded passes regardless of data
    shape.
    """
    # ONE bounded probe decides the path AND (in the common small case)
    # delivers the whole edge set: limit(driver_edge_limit + 1) executes
    # the (possibly very expensive) edge pipeline exactly once with
    # CollectLimit's early termination and transfers at most limit+1 rows
    # regardless of the true edge count — the r11 form's eager checkpoint
    # + count + collect ran one full pipeline job just to materialize,
    # then two more reads, and pinned the blocks in executor storage with
    # no lineage fallback (r11 verdict #5).  Only the distributed path,
    # whose loop genuinely re-reads the edges, still checkpoints them.
    ee = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    )
    probe = ee.limit(driver_edge_limit + 1)
    import numpy as np
    import pyarrow.compute as pc

    tbl = probe.toArrow()
    n_edges = tbl.num_rows
    col_a, col_b = tbl.column("a"), tbl.column("b")

    if n_edges <= driver_edge_limit:
        if stats is not None:
            stats["path"], stats["rounds"] = "driver", 0
        spark = edges.sparkSession
        # the probe WAS the whole edge set (n_edges <= limit) — Arrow
        # keeps nullable int64 columns EXACT (pandas would coerce a
        # column with one null to float64, silently rounding ids above
        # 2^53).  The union-find runs over the numpy int64 buffers
        # directly: no to_pylist(), so the working set is the ~16 B/edge
        # columnar data plus one int64 parent array per node, not
        # hundreds of MB of boxed Python ints.
        # null endpoints never join (equi-join semantics), but a node
        # paired only with a null is still a singleton component
        both = pc.and_(pc.is_valid(col_a), pc.is_valid(col_b))
        ea = pc.filter(col_a, both).combine_chunks().to_numpy(zero_copy_only=False)
        eb = pc.filter(col_b, both).combine_chunks().to_numpy(zero_copy_only=False)
        nodes = np.unique(
            np.concatenate(
                [
                    pc.drop_null(col_a).combine_chunks().to_numpy(zero_copy_only=False),
                    pc.drop_null(col_b).combine_chunks().to_numpy(zero_copy_only=False),
                ]
            ).astype(np.int64, copy=False)
        )
        if nodes.size == 0:
            return local_frame(spark, [], _COMPONENTS_SCHEMA)
        # dense indices: nodes is sorted, so smaller index == smaller id
        # and union-by-min-index makes the root the component label
        ia = np.searchsorted(nodes, ea.astype(np.int64, copy=False))
        ib = np.searchsorted(nodes, eb.astype(np.int64, copy=False))
        parent = np.arange(nodes.size, dtype=np.int64)

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, int(parent[x])
            return root

        for a, b in zip(ia, ib):  # numpy scalars — no list materialization
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        roots = np.fromiter(
            (find(i) for i in range(nodes.size)), dtype=np.int64, count=nodes.size
        )
        import pandas as pd

        return spark.createDataFrame(
            pd.DataFrame({"id": nodes, "component": nodes[roots]})
        )

    # ---- distributed path: alternating large-star / small-star ----
    # contract (both paths): null endpoints are ignored for connectivity
    # (equi-join semantics) but a node paired only with a null still
    # appears as its own singleton component.
    # Here (and only here) the edge pipeline is materialized once: the
    # node set and the loop's canonical edges both derive from it.
    ee = ee.localCheckpoint(eager=True)
    all_nodes = (
        ee.select(F.col("a").alias("id"))
        .unionAll(ee.select(F.col("b").alias("id")))
        .filter(F.col("id").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    # canonical form throughout the loop: (u, v) with u > v, distinct
    cur = (
        ee.filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .filter(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_cur = cur.count()
    converged = n_cur == 0
    rounds = 0
    for _ in range(max_iter):
        if converged:
            break
        rounds += 1
        # LARGE-STAR: every node x links each LARGER neighbor y to the
        # minimum m_x of its full neighborhood (incl. itself); each
        # undirected edge {p<q} is emitted exactly once, from p's side,
        # as (q, m_p) — so the output keeps the u>v canonical form
        nbrs = cur.select(F.col("u").alias("x"), F.col("v").alias("y")).unionAll(
            cur.select(F.col("v").alias("x"), F.col("u").alias("y"))
        )
        mins = nbrs.groupBy("x").agg(F.least(F.min("y"), F.col("x")).alias("__m"))
        ls = (
            nbrs.join(mins, "x")
            .filter(F.col("y") > F.col("x"))
            .select(F.col("y").alias("u"), F.col("__m").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # SMALL-STAR: every node u links its SMALLER neighbors (and
        # itself) to the minimum of that smaller neighborhood
        smins = ls.groupBy("u").agg(F.min("v").alias("__m"))
        nxt = (
            ls.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("__m").alias("v"))
            .unionAll(smins.select("u", F.col("__m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_new = nxt.count()
        # both relations are distinct sets, so equal count + empty
        # one-way difference ⇔ identical edge sets ⇔ star-forest fixed
        # point (LS and SS are both the identity there)
        converged = n_new == n_cur and nxt.exceptAll(cur).limit(1).count() == 0
        cur, n_cur = nxt, n_new
    if stats is not None:
        stats["path"], stats["rounds"] = "distributed", rounds
    if not converged:
        # silent wrong answers are worse than an instruction
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "large-star/small-star rounds; the round count is O(log n) in "
            "the node count, so this graph needs a larger max_iter"
        )
    # fixed point = star forest of (child, root=component-min) edges;
    # roots and singletons label themselves
    return all_nodes.join(
        cur.select(F.col("u").alias("id"), F.col("v").alias("__c")), "id", "left"
    ).select("id", F.coalesce("__c", F.col("id")).alias("component"))


def _word_ngrams_from(toks: Column, n: int = 3) -> Column:
    """Distinct word n-grams from an already-staged token array (the
    per-gram lambda slices ``toks`` — stage it as a real column or the
    tokenizing regex split is inlined per element).

    Documents with fewer than ``n`` tokens yield an EMPTY gram set — the
    short-doc branch must be explicit because ``sequence(1, 0)`` is the
    DESCENDING array [1, 0] in Spark (not empty like DuckDB's
    generate_series), and slice(toks, 0, n) then throws at runtime."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def _ngram_tokens(col: Column) -> Column:
    """``[^a-z0-9]+`` splits of ``lower(text)`` — reproducible verbatim in
    ANSI SQL / DuckDB for the differential oracle."""
    return F.filter(F.split(F.lower(col), "[^a-z0-9]+"), lambda t: t != F.lit(""))


def word_ngrams(col: Column, n: int = 3) -> Column:
    """Distinct word-level n-grams (space-joined) of lowercased text —
    single-expression form for one-shot use; hot paths stage the token
    array and call :func:`_word_ngrams_from`."""
    return _word_ngrams_from(_ngram_tokens(col), n)


def _stop_gram_filter(inv: DataFrame, max_doc_freq: int) -> DataFrame:
    """Drop grams occurring in more than ``max_doc_freq`` documents from an
    inverted index — the stop-gram / skew guard — WITHOUT a per-gram
    window.  Gram document frequency is a partial-aggregable
    ``groupBy(gram).count()`` (map-side combined; COUNTS only, never
    posting lists — the same shape :func:`ngram_novelty` uses), and the
    kept-gram key set joins back onto the index.  The join's key domain is
    the KEPT grams only (df ≤ ``max_doc_freq`` by construction), so the
    most skewed keys in the corpus — the stop grams the guard exists for —
    are eliminated in the aggregate and never reach the join at all.

    A ``count().over(Window.partitionBy(gram))`` here would pin every
    gram's full posting list to ONE task on exactly the highest-df keys:
    at 100 TB a boilerplate trigram in 10 % of documents funnels billions
    of rows through a single task *before* the filter drops them (Spark
    never splits window partitions; AQE skew mitigation applies only to
    joins/rebalance)."""
    kept = (
        inv.groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_doc_freq)
        .select("__g")
    )
    return inv.join(kept, "__g")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    jaccard_threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard near-duplicate pairs via an inverted-index join.

    Pipeline (all JVM expression code):
      1. distinct word n-grams per doc + per-doc gram count;
      2. explode → inverted index (gram → doc ids), optionally dropping
         grams occurring in more than ``max_doc_freq`` docs (stop-gram /
         skew guard: a boilerplate gram shared by 1M docs would otherwise
         produce 10^12 candidate pairs);
      3. self-join on gram, count shared grams per (id_1 < id_2) pair —
         shuffle is O(posting-list pairs), not all-pairs;
      4. exact Jaccard from |A∩B| / (|A| + |B| - |A∩B|), threshold filter.

    Differs from lsh_candidate_pairs: no hashing approximation — every
    pair sharing ≥1 (kept) n-gram is scored exactly.
    """
    grams = (
        df.select(F.col(id_col).alias("__id"), F.col(text_col))
        .withColumn("__toks", _ngram_tokens(F.col(text_col)))
        .withColumn("__grams", _word_ngrams_from(F.col("__toks"), n))
        .withColumn("__n_grams", F.size("__grams"))
    )
    # explode_nonnull: gram elements are concat_ws output (never null);
    # plain explode's inferred pre-filter would inline the gram chain 2×
    # below the scan-spread exchange (see functions.text.explode_nonnull)
    inv = explode_nonnull(grams, ["__id", "__n_grams"], F.col("__grams"), "__g")
    # materialize the (narrow: id, gram-count, gram) inverted index ONCE —
    # same fix as lsh_candidate_pairs' band table: without it the self-join
    # build side recomputes the whole tokenize→gram→explode subtree, and the
    # optimizer pushes the `isnotnull(__g)` join-key filter below the
    # Generate as a fully-inlined copy of the gram chain evaluated per
    # SOURCE row (measured at sf0.1: the corpus gram pass ran ~6×; d6
    # 12.6 s → the checkpointed form's one pass).  The stop-gram guard's
    # count+join-back then also reads the checkpoint instead of two more
    # gram passes.
    inv = inv.localCheckpoint(eager=True)
    if max_doc_freq is not None:
        inv = _stop_gram_filter(inv, max_doc_freq)
    left = inv.select(
        F.col("__id").alias("id_1"), F.col("__n_grams").alias("n_1"), "__g"
    )
    right = inv.select(
        F.col("__id").alias("id_2"), F.col("__n_grams").alias("n_2"), "__g"
    )
    pairs = (
        left.join(right, "__g")
        .filter(F.col("id_1") < F.col("id_2"))
        .groupBy("id_1", "id_2", "n_1", "n_2")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    jac = F.col("__inter") / (F.col("n_1") + F.col("n_2") - F.col("__inter"))
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_1", "id_2", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    containment_threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Directed n-gram CONTAINMENT pairs: ``(contained_id, container_id,
    containment)`` where ``containment = |A∩B| / |A|`` for the contained
    doc's distinct-gram set A (Broder's containment coefficient).

    The asymmetric companion to :func:`ngram_jaccard_pairs` — a short
    document quoted whole inside a long one has containment 1.0 but
    Jaccard ≈ |A|/|B| ≈ 0, so resemblance dedup misses exactly the
    quote/boilerplate-subset case this catches (the reason curation
    pipelines run both; RefinedWeb's exact-substring stage plays the
    same role at character level).

    Same inverted-index plan shape as the Jaccard op (shared-gram
    self-join bounded by posting lists + the ``max_doc_freq`` stop-gram
    guard, never all-pairs); both directions of every sharing pair are
    scored from ONE intersection count, and a doc pair can emit two rows
    (each contained in the other ⟺ equal gram sets ⟺ both rows carry
    containment 1.0).  Ties and rounding: containment is rounded to 6
    decimals from an exact integer ratio — engine-portable.

    Under the guard the intersection counts KEPT grams only while the
    denominator stays the full distinct-gram count — a documented lower
    bound (conservative: guard-on never inflates containment).  So that
    downstream thresholding can tell a true 0.6 from a truncated one,
    guard-on output carries an extra ``n_kept_grams`` column: the
    contained doc's surviving gram count (``n_kept_grams`` < the doc's
    gram total ⟹ the score was truncated by stop-gram exclusion).
    Guard-off output keeps the original 3-column schema."""
    grams = (
        df.select(F.col(id_col).alias("__id"), F.col(text_col))
        .withColumn("__toks", _ngram_tokens(F.col(text_col)))
        .withColumn("__grams", _word_ngrams_from(F.col("__toks"), n))
        .withColumn("__n_grams", F.size("__grams"))
    )
    # explode_nonnull: see ngram_jaccard_pairs (kills the inferred-filter
    # duplication of the gram chain)
    inv = explode_nonnull(grams, ["__id", "__n_grams"], F.col("__grams"), "__g")
    # one materialization of the narrow inverted index — see
    # ngram_jaccard_pairs for why (self-join recompute + Generate-pushdown
    # inlining of the gram chain otherwise multiply the corpus gram pass)
    inv = inv.localCheckpoint(eager=True)
    guarded = max_doc_freq is not None
    if guarded:
        inv = _stop_gram_filter(inv, max_doc_freq)
        # per-doc surviving gram count — the truncation marker (doc-keyed
        # count + join-back: uniform keys, linear, no window)
        kept_n = inv.groupBy("__id").agg(F.count(F.lit(1)).alias("__n_kept"))
        inv = inv.join(kept_n, "__id")
    kept1 = [F.col("__n_kept").alias("k_1")] if guarded else []
    kept2 = [F.col("__n_kept").alias("k_2")] if guarded else []
    left = inv.select(
        F.col("__id").alias("id_1"), F.col("__n_grams").alias("n_1"), *kept1, "__g"
    )
    right = inv.select(
        F.col("__id").alias("id_2"), F.col("__n_grams").alias("n_2"), *kept2, "__g"
    )
    pairs = (
        left.join(right, "__g")
        .filter(F.col("id_1") < F.col("id_2"))
        .groupBy("id_1", "id_2", "n_1", "n_2", *(["k_1", "k_2"] if guarded else []))
        .agg(F.count(F.lit(1)).alias("__inter"))
    )

    def _direction(cid: str, oid: str, denom: str, kept: str):
        fields = [
            F.col(cid).alias("contained_id"),
            F.col(oid).alias("container_id"),
            F.round(F.col("__inter") / F.col(denom), 6).alias("containment"),
        ]
        if guarded:
            fields.append(F.col(kept).cast("bigint").alias("n_kept_grams"))
        return F.struct(*fields)

    directed = pairs.select(
        F.explode(
            F.array(
                _direction("id_1", "id_2", "n_1", "k_1"),
                _direction("id_2", "id_1", "n_2", "k_2"),
            )
        ).alias("__p")
    ).select("__p.*")
    return directed.filter(F.col("containment") >= containment_threshold)


def dim_sign_signature(emb: Column, n_bits: int = 16) -> Column:
    """Axis-aligned sign-LSH code over the first ``n_bits`` embedding
    dimensions: bit i set iff emb[i] > 0 (random-hyperplane LSH with unit
    basis planes — the engine-portable variant of
    ``similarity.sign_bucket``'s seeded hyperplanes).

    Zero shuffle: a pure projection; equal codes → near-duplicate bucket
    candidates.  At 100 TB the bucket groupBy shuffles one BIGINT per row.
    """
    code = F.lit(0).cast("bigint")
    for i in range(1, n_bits + 1):
        # F.get, not element_at: a vector shorter than n_bits must yield
        # bit 0, not an ANSI INVALID_ARRAY_INDEX job abort (the same trap
        # embeddings.py documents at its own F.get call sites)
        bit = F.when(F.get(emb, i - 1) > 0, F.lit(1)).otherwise(F.lit(0))
        code = code + bit.cast("bigint") * F.lit(2 ** (i - 1)).cast("bigint")
    return code


def winnow_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_shared: int = 3,
    max_doc_freq: int | None = 20,
) -> DataFrame:
    """Substring-level near-duplicate pairs via winnowing fingerprints
    (Schleimer/Wilkerson/Aiken 2003 — the MOSS algorithm): docs sharing a
    token run of length ≥ k + w - 1 necessarily share a window-min
    fingerprint, so shared-fingerprint count is a substring-overlap
    signal that whole-document hashing and bag-of-ngrams Jaccard both
    miss.  The distributed answer to "suffix-array substring dedup",
    which does not shard.

    Pipeline: fingerprint-set projection (zero shuffle) → explode to an
    inverted index → ``max_doc_freq`` stop-fingerprint guard (a
    boilerplate fingerprint shared by 1M docs would explode the
    posting-list self-join; dropping it loses only candidates that have
    other, rarer fingerprints in common — the standard winnowing-index
    practice) → self-join on fingerprint → pairs sharing ≥ ``min_shared``
    distinct fingerprints.  Returns (id_1, id_2, n_shared), id_1 < id_2.
    """
    from dataclod_spark.functions.text import winnow_fingerprint_rows

    # fingerprint sets are already distinct per doc — no dedup shuffle;
    # winnow_fingerprint_rows stages the hash arrays so the explode stays
    # O(tokens) (see its docstring for the Generate-inlining trap)
    fps = winnow_fingerprint_rows(df, id_col=id_col, text_col=text_col)
    # posting-list pair enumeration instead of a self-join: ONE pass over
    # the (expensive) fingerprint projection, one shuffle to group ids per
    # fingerprint, then in-list pair expansion — ≤ max_doc_freq·(max_doc_freq−1)/2
    # pairs per fingerprint by construction, so the explosion is bounded
    # by the same guard that protects the posting lists
    ids = fps.groupBy("fp").agg(F.sort_array(F.collect_set("id")).alias("__ids"))
    bounded = ids.filter(F.size("__ids") >= 2)
    if max_doc_freq is not None:
        bounded = bounded.filter(F.size("__ids") <= max_doc_freq)
    xs = F.col("__ids")
    pair_lists = F.flatten(
        F.transform(
            xs,
            lambda x, i: F.transform(
                F.slice(xs, i + 2, F.size(xs)),
                lambda y: F.struct(x.alias("id_1"), y.alias("id_2")),
            ),
        )
    )
    # explode_nonnull: elements are structs (never null); plain explode's
    # inferred pre-filter would inline the nested pair-list transform 2×
    pairs = explode_nonnull(bounded, [], pair_lists, "__p").select(
        F.col("__p.id_1"), F.col("__p.id_2")
    )
    return (
        pairs.groupBy("id_1", "id_2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def contamination_check(
    df: DataFrame,
    benchmark_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.05,
    broadcast_gram_limit: int = 5_000_000,
) -> DataFrame:
    """Benchmark-contamination scan (the Dolma/C4 decontamination shape):
    flag training documents whose word n-gram overlap with a held-out
    benchmark set exceeds ``threshold``.

    ``benchmark_pred`` selects the benchmark rows; every other row is a
    training candidate.  Pipeline (all JVM expression code):

    * distinct word n-grams per doc (staged token array — the d6 inverted-
      index building blocks);
    * benchmark gram set = distinct grams over benchmark docs → broadcast
      (a benchmark is small by definition; at 100 TB the training corpus
      streams against it without shuffling).  The broadcast contract is
      GUARDED: if a caller's predicate selects more than
      ``broadcast_gram_limit`` distinct grams — no longer a "benchmark" —
      the operator logs and falls back to a shuffled join instead of
      forcing an unbounded table through the driver;
    * per training doc: explode grams, count broadcast-set hits, one
      groupBy(doc) shuffle — O(corpus grams), never pairwise.

    Returns ``doc_id, n_grams, n_hits, contamination`` for docs at or
    above the threshold (rate = hits/grams as exact int-over-int double).

    NOT lazy: CONSTRUCTING the plan executes eagerly — the corpus
    tokenization is ``localCheckpoint``-ed once (one scan instead of the
    two that branch specialization would force, SCALE.md pitfall #6) and
    the broadcast-vs-shuffle guard counts the benchmark gram set.  Build
    the operator only when you intend to run it.
    """
    # checkpoint the tokenized corpus once: the bench and training branches
    # would otherwise each re-scan and re-tokenize (branch specialization
    # defeats ReuseExchange — SCALE.md pitfall #6, same fix as x11/x15)
    grams = (
        # coalesce: a NULL predicate (e.g. NULL source under `source ==
        # 'mmlu'`) must land on the TRAINING side and be screened — a raw
        # boolean filter drops such rows from BOTH branches silently
        df.select(
            F.col(id_col).alias("__id"),
            F.col(text_col).alias("__t"),
            F.coalesce(benchmark_pred, F.lit(False)).alias("__is_bench"),
        )
        .withColumn("__toks", _ngram_tokens(F.col("__t")))
        .withColumn("__grams", _word_ngrams_from(F.col("__toks"), n))
        .select("__id", "__is_bench", "__grams", F.size("__grams").alias("__n_grams"))
        .localCheckpoint()
    )
    bench = (
        grams.filter(F.col("__is_bench"))
        .select(F.explode("__grams").alias("__g"))
        .distinct()
        .withColumn("__hit", F.lit(1))
        .localCheckpoint()  # counted for the guard, then joined — one pass
    )
    if bench.count() <= broadcast_gram_limit:
        bench = F.broadcast(bench)
    else:
        import logging

        logging.getLogger(__name__).warning(
            "contamination_check: benchmark gram set exceeds "
            "broadcast_gram_limit=%d; falling back to a shuffled join "
            "(is benchmark_pred really selecting a held-out benchmark?)",
            broadcast_gram_limit,
        )
    ex = grams.filter(~F.col("__is_bench")).select(
        "__id", "__n_grams", F.explode("__grams").alias("__g")
    )
    return (
        ex.join(bench, "__g", "left")
        .groupBy(F.col("__id").alias(id_col), F.col("__n_grams"))
        .agg(F.count("__hit").alias("n_hits"))
        .filter(
            F.col("n_hits").cast("double") / F.col("__n_grams") >= F.lit(threshold)
        )
        .select(
            id_col,
            F.col("__n_grams").cast("bigint").alias("n_grams"),
            F.col("n_hits"),
            F.round(F.col("n_hits").cast("double") / F.col("__n_grams"), 6).alias(
                "contamination"
            ),
        )
        .orderBy(id_col)
    )


def build_dedup_index(
    old: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = MINHASH_K,
    rows_per_band: int = 2,
    hash_fn: str = "md5",
) -> dict:
    """Materialize the snapshot-side structures ``incremental_dedup``
    screens against: the distinct fingerprint set, the LSH band table and
    the shingle table (on a real cluster swap the localCheckpoints for
    persist/reliable checkpoint, or simply parquet tables maintained
    alongside the corpus).

    ONE corpus pass materializes a combined (id, fingerprint, shingles,
    bands) row table — fingerprint/minhash/bands all derive from the same
    normalized text, so the r11 form's three separate corpus scans (fp
    aggregate, band table, shingle table — guide §1.2) collapse into one
    scan + one cheap distinct over the materialization.  The fp set keeps
    its own checkpoint because it is the piece every micro-batch re-joins
    (reuse across deltas is this builder's whole purpose).

    Build this ONCE per corpus snapshot and reuse it across every delta
    (the streaming twin screens each micro-batch against the same index;
    rebuilding per delta would re-pay the corpus-sized md5 pass).
    """
    n_bands = k // rows_per_band
    if n_bands < 1:
        raise ValueError(
            f"build_dedup_index: k // rows_per_band must be >= 1 "
            f"(k={k}, rows_per_band={rows_per_band} gives 0 bands)"
        )
    from dataclod_spark.functions.text import fingerprint

    sig = with_lsh_bands(
        with_minhash_signature(
            old.select(id_col, text_col), text_col, k, hash_fn, keep_shingles=True
        ),
        k, rows_per_band, hash_fn,
    )
    combined = sig.select(
        F.col(id_col).alias("__oid"),
        fingerprint(F.col(text_col)).alias("__orow_fp"),
        F.col("__shingles").alias("__osh"),
        *[f"band_{b}" for b in range(n_bands)],
    ).localCheckpoint(eager=True)
    return {
        "k": k,
        "rows_per_band": rows_per_band,
        "hash_fn": hash_fn,
        "fp": (
            combined.select(F.col("__orow_fp").alias("__ofp"))
            .distinct()
            .withColumn("__exact", F.lit(1))
            .localCheckpoint(eager=True)
        ),
        "bands": combined.select(
            "__oid", *[f"band_{b}" for b in range(n_bands)]
        ),
        "shingles": combined.select(F.col("__oid").alias("__osh_id"), "__osh"),
    }


def incremental_dedup(
    new: DataFrame,
    old: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = MINHASH_K,
    rows_per_band: int = 2,
    jaccard_threshold: float = 0.5,
    hash_fn: str = "md5",
    index: dict | None = None,
) -> DataFrame:
    """Screen a NEW batch against an EXISTING corpus snapshot — the
    crawl-refresh dedup shape (every production pipeline's steady state:
    the corpus is already deduped, only the delta needs screening).

    Pass either ``old`` (the index is built ad hoc) or a prebuilt
    ``index`` from :func:`build_dedup_index` (reused across deltas —
    the streaming path).  Returns ``new``'s rows plus ``drop_reason``:

    * ``'exact'`` — the normalized-text fingerprint already exists in
      ``old``;
    * ``'near_dup'`` — some old document shares an LSH band and verifies
      at exact Jaccard ≥ ``jaccard_threshold``;
    * NULL — keep (genuinely new content).

    Asymmetric by design: pairs WITHIN ``new`` are not considered — the
    delta self-dedups first (``exact_dedup`` + ``lsh_candidate_pairs``),
    then screens against the corpus.  Ids are assumed disjoint across the
    two inputs (they are distinct crawls).

    100 TB shape: the old side is corpus-sized and is never broadcast or
    collected — the exact pass shuffles distinct fingerprints (bounded by
    |old|, partial-aggregated), the band joins shuffle (id, band-hash)
    pairs only, and full shingle arrays move once, onto the surviving
    candidate pairs (the ``lsh_candidate_pairs`` discipline).  Only the
    INDEX side's band/shingle tables are localCheckpoint-ed (they exist
    for reuse across deltas; on a real cluster swap for persist/
    checkpoint): the new side's pieces each feed exactly one join per
    micro-batch, so its long-form band explode is staged with
    ``explode_nonnull`` instead (struct elements are provably non-null,
    the minhash md5 chain never inlines into a pushed filter, and NULL
    band hashes still drop in the equi-join) — checkpointing them was
    pure per-batch fixed cost (r11 finding 15, st12 10.8 -> 8.7 s).
    """
    if index is None:
        if old is None:
            raise ValueError("incremental_dedup: pass either old or index")
        index = build_dedup_index(old, id_col, text_col, k, rows_per_band, hash_fn)
    else:
        if old is not None:
            raise ValueError(
                "incremental_dedup: pass either old or index, not both "
                "(the index already encodes the snapshot side)"
            )
        # a prebuilt index fixes the LSH scheme — explicit non-default
        # arguments that contradict it would be silently ignored
        for arg, val, default in (
            ("k", k, MINHASH_K),
            ("rows_per_band", rows_per_band, 2),
            ("hash_fn", hash_fn, "md5"),
        ):
            if val != default and val != index[arg]:
                raise ValueError(
                    f"incremental_dedup: {arg}={val!r} conflicts with the "
                    f"prebuilt index's {arg}={index[arg]!r}"
                )
    k, rows_per_band, hash_fn = index["k"], index["rows_per_band"], index["hash_fn"]
    n_bands = k // rows_per_band
    cols = new.columns

    from dataclod_spark.functions.text import fingerprint

    # --- exact pass: fingerprint anti-set from the snapshot -------------
    labeled = new.withColumn("__fp", fingerprint(F.col(text_col))).join(
        index["fp"], F.col("__fp") == F.col("__ofp"), "left"
    )

    # --- near-dup pass: asymmetric band join new → old ------------------
    ob = index["bands"]

    # one (band#, hash) equi-join over long-form band tables instead of a
    # union of n_bands separate joins (same pair set, one shuffle of each
    # side, no per-band stage ladder — the lsh_candidate_pairs fix)
    def _long(t: DataFrame, idc: str) -> DataFrame:
        return t.select(
            idc,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("__bno"),
                            F.col(f"band_{b}").alias("__bh"),
                        )
                        for b in range(n_bands)
                    ]
                )
            ).alias("e"),
        ).select(idc, "e.__bno", "e.__bh")

    # NEW side: no checkpoint — unlike the index side (built once, reused
    # across every delta/micro-batch), each piece of the new side feeds
    # exactly ONE join, and in the streaming twin the two eager
    # checkpoint jobs were pure per-micro-batch fixed cost (~1 s/batch of
    # st12's ~3 s batches).  The long-form band explode is staged with
    # explode_nonnull (struct elements are provably non-null), so the
    # minhash md5 chain is never inlined into a pushed filter; a NULL
    # band hash (empty doc) still rides the struct and drops in the
    # equi-join exactly as before.
    from dataclod_spark.functions.text import explode_nonnull

    nsig = with_lsh_bands(
        with_minhash_signature(
            new.select(id_col, text_col), text_col, k, hash_fn
        ),
        k, rows_per_band, hash_fn,
    ).select(F.col(id_col).alias("__nid"), *[f"band_{b}" for b in range(n_bands)])
    nlong = explode_nonnull(
        nsig,
        ["__nid"],
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("__bno"), F.col(f"band_{b}").alias("__bh")
                )
                for b in range(n_bands)
            ]
        ),
        "e",
    ).select("__nid", "e.__bno", "e.__bh")

    cand = (
        nlong
        .join(_long(ob, "__oid"), ["__bno", "__bh"])
        .select("__nid", "__oid")
        .dropDuplicates(["__nid", "__oid"])
    )

    nsh = with_shingles(new.select(id_col, text_col), text_col, out="__nsh").select(
        F.col(id_col).alias("__nsh_id"), "__nsh"
    )
    osh = index["shingles"]
    # SHUFFLE_HASH with the candidate-pair side as build (same fix as
    # lsh_candidate_pairs' verify step): the planner otherwise broadcasts
    # the shingle tables — few ROWS but document-sized arrays each, and
    # the old side is the whole CORPUS' shingles, re-broadcast per
    # micro-batch in the streaming twin.  Shuffling by id moves each
    # shingle set once; hash tables are built over the bounded pair side.
    verified = (
        cand.hint("shuffle_hash").join(nsh, cand["__nid"] == nsh["__nsh_id"])
        .hint("shuffle_hash")
        .join(osh, cand["__oid"] == osh["__osh_id"])
        .withColumn(
            "__j",
            F.round(
                F.size(F.array_intersect(F.col("__nsh"), F.col("__osh"))).cast("double")
                / F.size(F.array_union(F.col("__nsh"), F.col("__osh"))),
                4,
            ),
        )
        .filter(F.col("__j") >= jaccard_threshold)
        .select(F.col("__nid"))
        .distinct()
        .withColumn("__near", F.lit(1))
    )

    return labeled.join(
        verified, labeled[id_col] == verified["__nid"], "left"
    ).select(
        *cols,
        F.when(F.col("__exact").isNotNull(), F.lit("exact"))
        .when(F.col("__near").isNotNull(), F.lit("near_dup"))
        .alias("drop_reason"),
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec: str = "embedding",
    dim: int = 64,
    k: int | None = None,
    iters: int = 2,
    threshold: float = 0.95,
    cell_target: int = 10_000,
    assign: str = "exact",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication of an embedding corpus — cluster with k-means, compare
    pairs WITHIN each cluster by cosine similarity, and keep one
    representative per near-duplicate group.  This removes paraphrases /
    re-renderings that exact and MinHash dedup (d1-d12) cannot see.

    Returns one row per valid vector: ``(id_col, cell, component,
    is_kept)`` — ``cell`` the k-means cluster id, ``component`` the
    near-dup group label (min member id; singleton = own id), ``is_kept``
    true for the group representative.

    100 TB shape: the deterministic k-means fit is shared machinery
    (:func:`~dataclod_spark.operators.embeddings.pq_fit_spans` with the
    single span ``[(1, dim)]`` — one corpus scan per round, k×dim-row
    aggregates); the pair stage is the paper's own design point —
    all-pairs only WITHIN a cell, so ``k`` must grow with the corpus to
    keep |cell|² affordable.  ``k=None`` (the default)
    applies the paper's own contract — k ≈ corpus / ``cell_target``
    (SemDeDup uses ~10k vectors per cell), floored at 8 — from one cheap
    count job, so callers get the scale-safe shape without knowing the
    paper; pass explicit ``k`` to override (the measured ×8-replication
    wall ratio is ~3.3× under auto-k vs 6.7× fixed-k, SCALE.md).  The
    cell equi-join shuffles on the cell id; AQE splits skewed cells.
    With k ∝ n the per-row ASSIGNMENT cost (n·k distance folds) becomes
    the dominant term (measured 33× wall at ×64 replication, SCALE.md) —
    ``assign="routed"`` swaps both the fit's and the final assignment
    for the √k-routed IVF approximation
    (:func:`~dataclod_spark.operators.embeddings.routed_argmin_cid`, a
    zero-shuffle map-literal projection, ~√k + k/√k folds per row),
    trading exact cell boundaries for linear-in-√k assignment exactly
    the way IVF search does; default stays exact (the d13 oracle's
    contract).
    The assignment projection is localCheckpoint-ed before the self-join
    so both pair sides and the final labeling read ONE assignment pass
    (the x11 discipline; swap for persist on a real cluster) — and the
    components step collapses transitive duplicate chains instead of
    dropping both members of every pair independently.
    """
    from dataclod_spark.operators.embeddings import (
        _argmin_cid,
        _kmeans_base,
        pq_fit_spans,
        routed_argmin_cid,
    )
    from dataclod_spark.operators.similarity import dot, norm

    if assign not in ("exact", "routed"):
        raise ValueError(f"semantic_dedup: assign must be exact|routed, got {assign!r}")
    routed = assign == "routed"
    base = _kmeans_base(df, vec, dim, id_col)
    if k is None:
        n_valid = base.count()
        k = max(8, -(-n_valid // cell_target))
    cents = pq_fit_spans(df, vec, dim, [(1, dim)], k, iters, id_col, routed=routed)[0]
    argmin = routed_argmin_cid if routed else _argmin_cid
    assigned = (
        base.select(
            F.col("__id"),
            F.col("__v"),
            argmin(F.col("__v"), cents)["cid"].cast("bigint").alias("__cell"),
        )
        .withColumn("__n", norm(F.col("__v")))
        .localCheckpoint(eager=True)
    )
    # zero-norm vectors have undefined cosine (matryoshka_energy's rule):
    # exclude them from BOTH pair sides — they stay in `assigned`, so each
    # labels as its own kept singleton — and the filter keeps the cosine
    # divisor non-zero (ANSI mode would otherwise abort on DIVIDE_BY_ZERO)
    pairable = assigned.filter(F.col("__n") > 0)
    a = pairable.select(
        F.col("__id").alias("__id1"),
        F.col("__cell").alias("__cell1"),
        F.col("__v").alias("__v1"),
        F.col("__n").alias("__n1"),
    )
    b = pairable.select(
        F.col("__id").alias("__id2"),
        F.col("__cell").alias("__cell2"),
        F.col("__v").alias("__v2"),
        F.col("__n").alias("__n2"),
    )
    pairs = (
        a.join(
            b,
            (F.col("__cell1") == F.col("__cell2"))
            & (F.col("__id1") < F.col("__id2")),
        )
        .filter(
            F.round(
                dot(F.col("__v1"), F.col("__v2")) / (F.col("__n1") * F.col("__n2")), 4
            )
            >= threshold
        )
        .select(F.col("__id1").alias("id_1"), F.col("__id2").alias("id_2"))
    )
    comp = connected_components(pairs)
    out_id = F.col("__id").alias(id_col)
    return (
        assigned.join(comp, assigned["__id"] == comp["id"], "left")
        .select(
            out_id,
            F.col("__cell").alias("cell"),
            F.coalesce(F.col("component"), F.col("__id")).alias("component"),
            (
                F.col("component").isNull() | (F.col("component") == F.col("__id"))
            ).alias("is_kept"),
        )
    )


def line_dedup_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_tokens: int = 10,
) -> DataFrame:
    """Line-level exact deduplication report — CCNet's first pipeline
    stage (Wenzek et al. 2020 §3.1: hash every line, drop lines already
    seen elsewhere in the corpus; boilerplate headers/footers dominate
    web text).  A "line" here is a fixed run of ``line_tokens``
    whitespace tokens (the driver corpus carries no newlines; real
    corpora pass the natural line splitter by chunking on '\\n' instead —
    the fingerprint/first-occurrence machinery is the operator).

    A line is DUPLICATE unless it is the corpus-wide FIRST occurrence of
    its fingerprint in (doc_id, line_idx) order.  Returns per document:
    ``(id_col, n_lines, n_dup_lines, dup_ratio)``.

    100 TB shape: one explode to (doc, idx, fp) — fp is an md5 hex, the
    only wide-ish column — then ONE fp-keyed aggregate finds each
    fingerprint's first occurrence (min struct, partial-aggregated), a
    broadcast-free join back on fp marks duplicates, and a doc-keyed
    aggregate rolls up.  Two shuffles total (fp, then doc), both on
    uniform keys; no all-pairs anywhere."""
    toks = F.split(normalize_text(F.col(text_col)), r"\s+")
    n_lines = F.ceil(F.size(toks) / F.lit(line_tokens)).cast("int")
    idx = F.when(
        F.size(toks) > 0, F.sequence(F.lit(0), n_lines - 1)
    ).otherwise(F.array().cast("array<int>"))
    lines = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("line_idx"),
            F.md5(
                F.array_join(
                    F.slice(toks, i * line_tokens + 1, line_tokens), " "
                ).cast("binary")
            ).alias("fp"),
        ),
    )
    # explode_nonnull: elements are structs (never null); plain explode's
    # inferred pre-filter would inline the md5-per-line transform chain 2×
    ex = explode_nonnull(
        df, [F.col(id_col).alias("__id")], lines, "__l"
    ).select("__id", F.col("__l.line_idx").alias("__idx"), F.col("__l.fp").alias("__fp"))
    first = ex.groupBy("__fp").agg(
        F.min(F.struct(F.col("__id").alias("i"), F.col("__idx").alias("x"))).alias("__first")
    )
    marked = ex.join(first, "__fp").select(
        "__id",
        (
            (F.col("__first.i") != F.col("__id"))
            | (F.col("__first.x") != F.col("__idx"))
        ).cast("int").alias("__dup"),
    )
    return (
        marked.groupBy(F.col("__id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("__dup").alias("n_dup_lines"),
            F.round(F.sum("__dup") / F.count(F.lit(1)).cast("double"), 6).alias(
                "dup_ratio"
            ),
        )
    )


def dedup_keep_best(
    df: DataFrame,
    quality: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Cluster-canonical selection: near-duplicate clusters keep their
    HIGHEST-QUALITY member, not their first — the curation step after pair
    generation in quality-aware pipelines (FineWeb/RefinedWeb keep one
    document per duplicate cluster; keeping the best-scoring one instead
    of the min-id one is what makes dedup quality-preserving rather than
    quality-random).

    ``quality`` is any non-NULL numeric scoring column over ``df`` (for
    documents typically :func:`functions.text.quality_score`); ties break
    to the smallest id, so the result is deterministic and
    engine-reproducible.  Returns one row per cluster:
    ``(cluster_rep, cluster_size, kept_doc_id, kept_quality)`` where
    ``cluster_rep`` is the cluster's min id (singletons: the doc itself).

    100 TB shape: pairs come from the banded inverted index
    (:func:`lsh_candidate_pairs` — never all-pairs), components from the
    O(log n) alternating-star loop, and the argmax is ONE hash aggregate —
    ``max(struct(quality, -id))`` is a partial-aggregable lexicographic
    max, so no per-cluster window and no cluster ever sorts whole.  The
    left join of corpus←components broadcasts when the component table is
    small (near-dup graphs usually are) and AQE handles the skewed-cluster
    case for the join — valid here because this IS a join, not a window.
    """
    pairs = lsh_candidate_pairs(
        df, id_col=id_col, text_col=text_col, jaccard_threshold=jaccard_threshold
    )
    comp = connected_components(pairs, "id_1", "id_2")
    lab = (
        df.select(F.col(id_col), quality.alias("__quality"))
        .join(comp, F.col(id_col) == F.col("id"), "left")
        .withColumn("__cluster", F.coalesce(F.col("component"), F.col(id_col)))
    )
    return (
        lab.groupBy("__cluster")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.max(
                F.struct(
                    F.col("__quality").alias("q"),
                    (-F.col(id_col)).alias("negid"),
                )
            ).alias("__best"),
        )
        .select(
            F.col("__cluster").alias("cluster_rep"),
            "cluster_size",
            (-F.col("__best.negid")).cast("bigint").alias("kept_doc_id"),
            F.col("__best.q").alias("kept_quality"),
        )
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction of a document's distinct
    word n-grams that appear in NO other document — the boilerplate /
    template / memorized-text detector (a page whose trigrams all exist
    elsewhere is navigation chrome or a mirror, novelty ≈ 0; unique prose
    scores ≈ 1).  Curation pipelines threshold on this where pairwise
    dedup is too blunt: novelty grades each document against the WHOLE
    corpus at once, not against its best single match.

    Returns ``(id, n_grams, n_shared, novelty)`` with
    ``novelty = 1 - n_shared/n_grams`` (NULL for documents with fewer
    than ``n`` tokens — no gram evidence either way).

    100 TB shape: NO pair join anywhere — gram document-frequency is one
    gram-keyed count (uniform keys, partial-aggregable; counts only,
    never posting lists), joined back onto the exploded grams (a JOIN,
    AQE-skew-splittable — stop grams are high-df keys but the join is
    1:1 per gram occurrence), then a per-doc rollup and a doc-keyed join
    back onto the corpus ids.  Four shuffles total (two gram-keyed, two
    doc-keyed), each linear in its input — no stage is all-pairs."""
    # explode_nonnull: gram elements are concat_ws output (never null);
    # plain explode's inferred pre-filter would inline the gram chain 2×
    grams = explode_nonnull(
        df, [F.col(id_col).alias("__id")], word_ngrams(F.col(text_col), n), "__g"
    )
    # the exploded gram table feeds BOTH the document-frequency aggregate
    # and the join back onto it — materialize the narrow (id, gram) pass
    # once instead of running the tokenize→gram corpus pass twice (same
    # pattern as lsh_candidate_pairs / ngram_jaccard_pairs)
    grams = grams.localCheckpoint(eager=True)
    gdf = grams.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
    per_doc = (
        grams.join(gdf, "__g")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("__df") >= 2, 1)).alias("n_shared"),
        )
    )
    base = df.select(F.col(id_col).alias("__id"))
    return (
        base.join(per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("bigint").alias("n_shared"),
            F.when(
                F.coalesce(F.col("n_grams"), F.lit(0)) > 0,
                F.round(
                    F.lit(1.0)
                    - F.col("n_shared") / F.col("n_grams").cast("double"),
                    6,
                ),
            ).alias("novelty"),
        )
    )


def lsh_recall_report(
    df: DataFrame,
    sample_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Recall estimation for the MinHash-LSH index — the dedup-side
    honesty meter (similarity's twin is :func:`similarity.recall_report`):
    LSH bands can MISS true near-duplicate pairs (a pair whose minhashes
    collide in no band), and the miss rate is what band/row parameters
    are tuned against.  Exact recall needs all-pairs ground truth (O(n²)
    — impossible at corpus scale), so this does what production eval
    does: SAMPLE query documents (``sample_pred`` marks them), compute
    their TRUE neighbor sets exactly by broadcasting the k sampled
    shingle sets against one corpus scan (k·n work — linear in the
    corpus for a fixed sample), and grade the index's pairs against that
    truth.  Precision needs no estimate: :func:`lsh_candidate_pairs`
    verifies exact Jaccard on every candidate, so found ⊆ true by
    construction and the one number that can fall short is recall.

    Returns per sampled doc: ``(id, n_true, n_found, recall)``; recall
    is NULL when the doc has no true neighbor (nothing to find)."""
    sh = with_shingles(df.select(id_col, text_col), text_col, out="__sh").select(
        F.col(id_col).alias("__cid"), "__sh"
    ).localCheckpoint(eager=True)
    ids = df.select(F.col(id_col), sample_pred.alias("__is_q"))
    q = (
        sh.join(ids.filter(F.col("__is_q")).select(id_col), sh["__cid"] == F.col(id_col))
        .select(F.col("__cid").alias("__qid"), F.col("__sh").alias("__qsh"))
    )
    if jaccard_threshold > 0:
        # Inverted-index truth pass: |A∩B| by equi-joining the exploded
        # distinct shingles (query side broadcast — k sampled docs), then
        # |A∪B| = |A| + |B| − |A∩B|.  Same integers as the array-pair form
        # (shingle arrays are array_distinct by construction), so the
        # rounded jaccard is bit-identical — but the per-pair
        # array_intersect/array_union evaluation inside the
        # BroadcastNestedLoopJoin condition is gone (it cost ~3 ms per
        # pair and degraded further in long-lived JVMs).  Zero-overlap
        # pairs never surface in the equi-join, which is exact for any
        # positive threshold (their jaccard is 0 or NULL in the pair
        # form); the crossJoin branch below keeps threshold <= 0 exact.
        c_ex = sh.select(
            "__cid", F.size("__sh").alias("__cn"),
            F.explode("__sh").alias("__g"),
        )
        q_ex = q.select(
            "__qid", F.size("__qsh").alias("__qn"),
            F.explode("__qsh").alias("__g"),
        )
        truth = (
            c_ex.join(F.broadcast(q_ex), "__g")
            .filter(F.col("__cid") != F.col("__qid"))
            .groupBy("__qid", "__cid", "__qn", "__cn")
            .agg(F.count(F.lit(1)).alias("__i"))
            .withColumn(
                "__jac",
                F.round(
                    F.col("__i").cast("int").cast("double")
                    / (F.col("__qn") + F.col("__cn") - F.col("__i").cast("int")),
                    4,
                ),
            )
            .filter(F.col("__jac") >= jaccard_threshold)
            .select("__qid", F.col("__cid").alias("__oid"))
        )
    else:
        inter = F.size(F.array_intersect(F.col("__qsh"), F.col("__sh")))
        union = F.size(F.array_union(F.col("__qsh"), F.col("__sh")))
        truth = (
            sh.crossJoin(F.broadcast(q))
            .filter(F.col("__cid") != F.col("__qid"))
            .withColumn("__jac", F.round(inter.cast("double") / union, 4))
            .filter(F.col("__jac") >= jaccard_threshold)
            .select("__qid", F.col("__cid").alias("__oid"))
        )
    pairs = lsh_candidate_pairs(
        df, id_col=id_col, text_col=text_col, jaccard_threshold=jaccard_threshold
    )
    found = (
        pairs.select(F.col("id_1").alias("__qid"), F.col("id_2").alias("__oid"))
        .unionByName(
            pairs.select(F.col("id_2").alias("__qid"), F.col("id_1").alias("__oid"))
        )
        .join(q.select("__qid"), "__qid")
    )
    hit = truth.join(found, ["__qid", "__oid"]).groupBy("__qid").agg(
        F.count(F.lit(1)).alias("n_found")
    )
    base = truth.groupBy("__qid").agg(F.count(F.lit(1)).alias("n_true"))
    return (
        q.select("__qid")
        .join(base, "__qid", "left")
        .join(hit, "__qid", "left")
        .select(
            F.col("__qid").alias(id_col),
            F.coalesce(F.col("n_true"), F.lit(0)).cast("bigint").alias("n_true"),
            F.coalesce(F.col("n_found"), F.lit(0)).cast("bigint").alias("n_found"),
            F.when(
                F.coalesce(F.col("n_true"), F.lit(0)) > 0,
                F.round(
                    F.coalesce(F.col("n_found"), F.lit(0))
                    / F.col("n_true").cast("double"),
                    6,
                ),
            ).alias("recall"),
        )
    )


def shared_span_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_span: int = 6,
    max_doc_freq: int | None = 20,
) -> DataFrame:
    """EXACT shared-substring SPANS between document pairs at token
    granularity — the distributed answer to suffix-array exact-substring
    dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): a verbatim token run of length L ≥ k shared by two
    documents appears as L−k+1 CONSECUTIVE positions on one alignment
    diagonal of their k-gram hash match matrix, so
    ``span_tokens = run_len + k − 1`` exactly (modulo the ~2^-47 rolling
    hash collision rate).  d9's winnowing pairs are the sampled
    screening pass; this is the positional refinement that reports WHERE
    and HOW LONG the shared text is.

    Pipeline: positional k-gram hashes (``posexplode`` — zero shuffle);
    stop-hash guard as a partial-aggregable count + kept-key join-back
    (the round-9 guard shape; the count is the hash's total OCCURRENCE
    count across the corpus, which upper-bounds its document frequency
    — a boilerplate k-gram in 1M docs never reaches the join, and the
    self-join is bounded to ≤ mdf² rows per hash); posting self-join on
    the hash; per (pair, diagonal) the
    matched positions merge into maximal consecutive runs with ONE
    lag+cumsum window whose partition is bounded by the SHORTER
    DOCUMENT'S k-gram count — a document-length bound, never a
    corpus-scale key (the banned pattern is corpus-keyed partitions).

    Returns ``(id_1, id_2, max_span_tokens, n_spans)`` for pairs with a
    shared run of ≥ ``min_span`` tokens; ``n_spans`` counts maximal
    qualifying runs."""
    from pyspark.sql import Window

    from dataclod_spark.functions.text import _kgram_hashes_from, _token_values

    staged = df.select(
        F.col(id_col).alias("__id"),
        _token_values(F.col(text_col)).alias("__tv"),
    ).withColumn("__wh", _kgram_hashes_from(F.col("__tv"), k))
    # posexplode_nonnull: kills the inferred pre-filter that would inline
    # the tokenize→k-gram-hash chain 2× below the scan-spread exchange
    pos = posexplode_nonnull(staged, ["__id"], F.col("__wh"), "__pos", "__h")
    # one materialization of the narrow (id, pos, hash) table: it feeds the
    # stop-hash count, the kept-key join-back AND both self-join sides —
    # without it the tokenize→k-gram-hash corpus pass re-runs per branch
    # (same fix as lsh_candidate_pairs / ngram_jaccard_pairs)
    pos = pos.localCheckpoint(eager=True)
    if max_doc_freq is not None:
        kept_h = (
            pos.groupBy("__h")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_doc_freq)
            .select("__h")
        )
        pos = pos.join(kept_h, "__h")
    left = pos.select(
        F.col("__id").alias("id_1"), F.col("__pos").alias("p1"), "__h"
    )
    right = pos.select(
        F.col("__id").alias("id_2"), F.col("__pos").alias("p2"), "__h"
    )
    matched = (
        left.join(right, "__h")
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2", "p1", (F.col("p2") - F.col("p1")).alias("__diag"))
    )
    w = Window.partitionBy("id_1", "id_2", "__diag").orderBy("p1")
    # gaps-and-islands with ONE window function: p1 is unique within the
    # partition, so p1 - row_number() is constant exactly on maximal runs
    # of consecutive positions — the same island partition the previous
    # lag + running-sum pair produced with two frame evaluations per row
    # (the island LABELS differ, but labels only group; the min/max span
    # per island is identical)
    runs = (
        matched.withColumn("__run", F.col("p1") - F.row_number().over(w))
        .groupBy("id_1", "id_2", "__diag", "__run")
        .agg((F.max("p1") - F.min("p1") + k).alias("__span"))
    )
    return (
        runs.groupBy("id_1", "id_2")
        .agg(
            F.max("__span").cast("bigint").alias("max_span_tokens"),
            F.count(F.when(F.col("__span") >= min_span, 1))
            .cast("bigint")
            .alias("n_spans"),
        )
        .filter(F.col("max_span_tokens") >= min_span)
    )
