"""Embedding-column operators: centroids, cosine-to-centroid, scalar
quantization, Lloyd k-means — the vector-side toolkit of a training-data
pipeline (complementing the ANN search in :mod:`operators.similarity`).

Everything here is pure ``pyspark.sql.functions`` expression code (no
Python UDFs) and at most ONE aggregation pass over the corpus (per Lloyd
round, for the trainer):

* :func:`label_centroids` — per-label mean vector via one posexplode +
  ``groupBy(label, position)`` DECIMAL-exact aggregate (partial+final
  map-side combine; the result is |labels| rows → broadcastable);
* :func:`cosine_to_centroid` — broadcast-join the centroids back and fold
  the dot/norms **in index order** (``F.aggregate`` over ``zip_with``),
  so the FP summation sequence is deterministic and engine-independent;
* :func:`scalar_quantize` — classic int8 per-dimension scalar quantization
  (FAISS ``ScalarQuantizer``-style): one global per-position min/max
  reduce (1 row, broadcast), then codes/reconstruction/error as
  zero-shuffle projections;
* :func:`pq_fit_spans` — THE Lloyd trainer: one codebook per vector span
  (a single full-width span for plain k-means), every span in the same
  bounded jobs.

Determinism contract (what the DuckDB oracles rely on): cross-row float
aggregation always goes through DECIMAL accumulation (exact, order-free);
within-vector reductions always fold left-to-right over the array index —
both engines then produce bit-identical doubles.

Scale: every cross-row aggregate has a FIXED handful of expressions
grouped by vector position, whatever the dimensionality (an unrolled
dim-column aggregate would be thousands of expressions at production dims
— janino constant-pool territory).  The explode feeds straight into a
map-side partial aggregate, so the shuffle carries tasks×dim partial rows,
never the exploded corpus; the per-vector math is whole-stage codegen over
the array column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataclod_spark.operators.similarity import dot as _dot, norm as _norm

__all__ = [
    "l2_normalize",
    "label_centroids",
    "cosine_to_centroid",
    "scalar_quantize",
    "pq_fit_spans",
    "kmeans_clusters",
    "dim_stats",
    "route_centroids",
    "routed_argmin_cid",
]

# exact accumulator type for cross-row sums of double-cast floats
_ACC = "decimal(27,10)"


def _exploded_positions(df: DataFrame, vec: str, dim: int, *keep: str) -> DataFrame:
    """``(keep..., __pos int 0-based, __x double)`` — EXACTLY ``dim`` rows
    per input row: vectors are NULL-padded/truncated to ``dim`` before the
    posexplode, so every position group exists for every row (NULL where
    the vector was short/NULL/empty, as ``F.get`` past the end would
    yield), and a ``__pos == 0`` count equals the ROW count."""
    x = F.transform(F.col(vec), lambda v: v.cast("double"))
    pad = F.array_repeat(F.lit(None).cast("double"), dim)
    padded = F.slice(
        F.concat(F.coalesce(x, F.array().cast("array<double>")), pad), 1, dim
    )
    # posexplode_nonnull: padded always has exactly ``dim`` elements, so the
    # inferred ``size>0`` pre-filter of a plain posexplode is pure waste —
    # and it inlines the pad/truncate transform chain 2× per source row;
    # the pos-filter keeps genuine NULL elements exactly like posexplode
    from dataclod_spark.functions.text import posexplode_nonnull

    return posexplode_nonnull(df, list(keep), padded, "__pos", "__x")


def l2_normalize(vec: Column) -> Column:
    """Unit-normalize an ``array<float|double>`` column (NULL-safe; zero
    vectors stay zero).  Pure projection — the cheap pre-pass that turns
    cosine ANN into dot-product ANN.  Uses the shared similarity.norm
    fold so the FP sequence is identical everywhere cosine math runs."""
    v = F.transform(vec, lambda x: x.cast("double"))
    n = _norm(v)
    return F.when(n == 0, v).otherwise(F.transform(v, lambda x: x / n))


def label_centroids(df: DataFrame, label: str, vec: str, dim: int) -> DataFrame:
    """Per-label mean vector: ``(label, centroid array<double>, n_vectors)``.

    One posexplode + ``groupBy(label, position)`` aggregate of exact
    DECIMAL sums, map-side partial-aggregated (the shuffle carries
    label×position partials, never the exploded corpus), then a
    |labels|-row regroup that reassembles each centroid in position
    order.  ``n_vectors`` counts ROWS, NULL/empty vectors included (the
    position-0 group's count)."""
    ux = _exploded_positions(
        df.select(F.col(label).alias("__lbl"), vec), vec, dim, "__lbl"
    )
    g = ux.groupBy("__lbl", "__pos").agg(
        F.sum(F.col("__x").cast(_ACC)).alias("__s"),
        F.count(F.lit(1)).alias("__n"),
    )
    per_label = g.groupBy("__lbl").agg(
        F.max(F.when(F.col("__pos") == 0, F.col("__n"))).alias("n_vectors"),
        F.array_sort(F.collect_list(F.struct("__pos", "__s"))).alias("__ss"),
    )
    centroid = F.transform(
        F.col("__ss"), lambda p: p["__s"].cast("double") / F.col("n_vectors")
    )
    return per_label.select(
        F.col("__lbl").alias(label), centroid.alias("centroid"), "n_vectors"
    )


def cosine_to_centroid(df: DataFrame, label: str, vec: str, dim: int) -> DataFrame:
    """Each row plus ``cos_centroid``: cosine similarity of its vector to
    its label's centroid.  The centroid table is |labels| rows →
    broadcast; the corpus does not shuffle."""
    cents = label_centroids(df, label, vec, dim)
    j = df.join(F.broadcast(cents), on=label)
    v = F.col(vec)
    c = F.col("centroid")
    cos = _dot(v, c) / (F.sqrt(_dot(v, v)) * F.sqrt(_dot(c, c)))
    return j.withColumn("cos_centroid", cos)


def scalar_quantize(df: DataFrame, vec: str, dim: int) -> DataFrame:
    """Int8 per-dimension scalar quantization: global per-dim [min,max] →
    255-step codes → reconstruction + error columns.

    Adds ``codes array<int>``, ``recon array<double>``,
    ``mean_abs_err double`` (index-ordered fold), ``max_abs_err double``.
    Constant dimensions (max==min) encode as 0 with exact reconstruction.
    The min/max reduce is one 1-row aggregate broadcast to every task —
    the same two-pass shape FAISS trains its ScalarQuantizer with."""
    # per-position min/max, then one 1-row regroup (collect_list of dim
    # structs — bounded) that broadcasts to every task
    ux = _exploded_positions(df, vec, dim)
    per_pos = ux.groupBy("__pos").agg(
        F.min("__x").alias("__mn"), F.max("__x").alias("__mx")
    )
    stats = per_pos.agg(
        F.array_sort(F.collect_list(F.struct("__pos", "__mn", "__mx"))).alias("__t")
    ).select(
        F.transform(F.col("__t"), lambda p: p["__mn"]).alias("__mins"),
        F.transform(F.col("__t"), lambda p: p["__mx"]).alias("__maxs"),
    )
    j = df.crossJoin(F.broadcast(stats))
    scales = F.zip_with(
        F.col("__maxs"), F.col("__mins"), lambda mx, mn: (mx - mn) / F.lit(255.0)
    )
    j = j.withColumn("__scales", scales)

    x = F.transform(F.col(vec), lambda v: v.cast("double"))
    packed = F.arrays_zip(x.alias("x"), F.col("__mins").alias("mn"), F.col("__scales").alias("sc"))
    codes = F.transform(
        packed,
        # a NULL element must stay NULL: greatest(0, NULL) skips NULLs and
        # would fabricate code 0 (reconstructing to the dimension minimum —
        # a value the vector never had)
        lambda p: F.when(p["x"].isNull(), F.lit(None).cast("int"))
        .when(p["sc"] == 0, F.lit(0))
        .otherwise(
            F.least(
                F.lit(255),
                F.greatest(F.lit(0), F.round((p["x"] - p["mn"]) / p["sc"], 0).cast("int")),
            )
        ),
    )
    j = j.withColumn("codes", codes)
    recon_packed = F.arrays_zip(
        F.col("codes").alias("c"), F.col("__mins").alias("mn"), F.col("__scales").alias("sc")
    )
    recon = F.transform(recon_packed, lambda p: p["mn"] + p["c"].cast("double") * p["sc"])
    j = j.withColumn("recon", recon)
    errs = F.zip_with(x, F.col("recon"), lambda a, b: F.abs(a - b))
    j = j.withColumn(
        "mean_abs_err",
        F.aggregate(errs, F.lit(0.0), lambda acc, e: acc + e) / F.lit(float(dim)),
    ).withColumn("max_abs_err", F.array_max(errs))
    return j.drop("__mins", "__maxs", "__scales")


def _sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 distance, index-ordered left fold (same determinism
    contract as similarity.dot)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _argmin_cid(vec: Column, cents: list[tuple[int, list[float]]]) -> Column:
    """Cluster id of the nearest centroid (ties → lowest id): array_min
    over (dist, cid) structs — a pure codegen projection, the same
    literal-centroid mechanism as similarity.knn_ivf."""
    entries = []
    for cid, cvec in cents:
        # ONE array literal per centroid (not dim unrolled F.lit calls):
        # the expression count stays O(k) at any dimensionality, so the
        # assignment projection never hits janino limits at wide dims
        cv = F.lit([float(x) for x in cvec])
        entries.append(F.struct(_sq_l2(vec, cv).alias("dist"), F.lit(cid).alias("cid")))
    return F.array_min(F.array(*entries))


def route_centroids(
    cents: list[tuple[int, list[float]]], n_groups: int | None = None
) -> tuple[list[tuple[int, list[float]]], dict[int, list[tuple[int, list[float]]]]]:
    """Driver-side grouping of the k centroids into ``n_groups`` routing
    groups (default ⌈√k⌉) — a tiny numpy Lloyd over the k×dim centroid
    matrix (deterministic lowest-cid init, 2 rounds, ties to the lowest
    group id, empty groups keep their previous rep).  Returns
    ``(reps, groups)``: the group-representative list in
    :func:`_argmin_cid`'s (id, vec) shape, and each group's member
    centroids.  k is bounded driver state by the callers' contract, so
    this never sees corpus-scale data."""
    import math

    import numpy as np

    if n_groups is None:
        n_groups = max(1, math.isqrt(len(cents) - 1) + 1) if len(cents) > 1 else 1
    n_groups = min(n_groups, len(cents))
    mat = np.array([cv for _, cv in cents], dtype=np.float64)
    reps = mat[:n_groups].copy()
    for _ in range(2):
        d = ((mat[:, None, :] - reps[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)  # ties -> lowest index
        for g in range(n_groups):
            members = mat[assign == g]
            if len(members):
                reps[g] = members.mean(axis=0)
    d = ((mat[:, None, :] - reps[None, :, :]) ** 2).sum(axis=2)
    assign = d.argmin(axis=1)
    groups: dict[int, list[tuple[int, list[float]]]] = {}
    for (cid, cvec), g in zip(cents, assign):
        groups.setdefault(int(g), []).append((cid, cvec))
    rep_list = [
        (g, [float(x) for x in reps[g]]) for g in sorted(groups)
    ]
    return rep_list, groups


def routed_argmin_cid(
    vec: Column,
    cents: list[tuple[int, list[float]]],
    n_groups: int | None = None,
) -> Column:
    """IVF-routed approximate nearest centroid as a pure ZERO-SHUFFLE
    PROJECTION that survives any k: a ⌈√k⌉-fold argmin over the group
    representatives routes each row to a group, two constant-folded MAP
    literals (gid → member-cid array, gid → member-vec array-of-arrays —
    k entries total, driver-bounded) select that group's members, and one
    ``zip_with`` + ``array_min`` evaluates only the ~k/√k member folds of
    the winning group.  No expression holds more than √k inline folds, so
    whole-stage codegen holds at large k, and there is no join or exchange
    carrying the vector payload anywhere.  Same (dist, cid) struct
    contract and tie-break (lexicographic struct min → lowest cid) as
    :func:`_argmin_cid`; approximate exactly the way an IVF probe is (a
    vector near a group boundary may assign to its group's best rather
    than the global best).  ``n_groups=1`` is exact by construction."""
    reps, groups = route_centroids(cents, n_groups)
    if len(groups) == 1:
        return _argmin_cid(vec, cents)
    ordered = sorted(groups.items())
    cid_map = F.create_map(
        *[
            x
            for g, ms in ordered
            for x in (F.lit(g), F.lit([cid for cid, _ in ms]))
        ]
    )
    vec_map = F.create_map(
        *[
            x
            for g, ms in ordered
            for x in (F.lit(g), F.lit([[float(v) for v in cv] for _, cv in ms]))
        ]
    )
    gid = _argmin_cid(vec, reps).getField("cid").cast("int")
    return F.array_min(
        F.zip_with(
            F.element_at(vec_map, gid),
            F.element_at(cid_map, gid),
            lambda v, c: F.struct(_sq_l2(vec, v).alias("dist"), c.alias("cid")),
        )
    )


def _kmeans_base(df: DataFrame, vec: str, dim: int, id_col: str) -> DataFrame:
    """``(__id, __v)`` — doubles, malformed rows dropped.  Null or
    wrong-width vectors would crash seed collection / break the zip_with
    length contract, and a cleaning pass owns deciding what to do with
    malformed rows, not the clusterer."""
    v = F.transform(F.col(vec), lambda x: x.cast("double"))
    # a right-sized vector with a NULL ELEMENT is malformed too: it
    # passes the isNotNull+size gate but crashes the driver-side seed
    # collection (float(None)) or NULLs the DECIMAL centroid sums
    return df.filter(
        F.col(vec).isNotNull()
        & (F.size(F.col(vec)) == dim)
        & ~F.exists(F.col(vec), lambda x: x.isNull())
    ).select(F.col(id_col).alias("__id"), v.alias("__v"))


def pq_fit_spans(
    df: DataFrame,
    vec: str,
    dim: int,
    spans: list[tuple[int, int]],
    k: int,
    iters: int = 2,
    id_col: str = "vec_id",
    routed: bool = False,
) -> list[list[tuple[int, list[float]]]]:
    """The Lloyd trainer: one codebook per vector span, ALL spans in the
    same bounded Spark jobs (optimization guide §1.2: one pass over the
    corpus carries every fit).  ``spans`` are 1-based inclusive ``(lo,
    hi)`` slices of the ``dim``-wide vector; they may overlap (v13 trains
    the full-width coarse quantizer alongside the two PQ subspaces), and
    plain k-means (:func:`kmeans_clusters`, ``semantic_dedup``) is the
    single span ``[(1, dim)]``.  Returns codebooks aligned with ``spans``,
    each a driver-side ``[(cid, centroid), ...]`` list.

    * rows — ``_kmeans_base``'s gate: a NULL, wrong-width or
      NULL-element vector is dropped from every span's fit (it would
      crash the seed collect or NULL the DECIMAL sums);
    * seeds — deterministic lowest-id init: ONE ``orderBy(id).limit(k)``
      collect of the full vectors, sliced driver-side (``cast(float as
      double)`` is exact elementwise, so slicing before or after the
      cast/collect is the same floats);
    * ``iters - 1`` assign/update rounds (the final assignment is the
      caller's).  Each round assigns every span with the ``_argmin_cid``
      fold over its slice — or, with ``routed=True``, the √k-routed
      approximation :func:`routed_argmin_cid` (the large-k scale path) —
      and updates ALL spans in ONE explode+aggregate job: each row
      contributes a ``(span, cid_of_that_span, local_pos, x)`` struct per
      span element, and ``groupBy(span, cid, pos)`` accumulates
      DECIMAL-exact sums / counts (order-independent, so fusing spans
      cannot move a bit: the fused fit is bit-identical to single-span
      fits of each slice, pinned by tests/test_embeddings_ops.py).

    Job count: ``1 + (iters - 1)`` corpus jobs total, vs ``len(spans) *
    iters`` for separate fits (v13: 6 -> 2).  The shuffle stays bounded —
    the aggregate is partial-aggregated to ``len(spans) * k * span_dim``
    rows regardless of corpus size.  Empty clusters drop out of the
    update (their id disappears), identically in the DuckDB oracles.
    """
    argmin = routed_argmin_cid if routed else _argmin_cid
    base = _kmeans_base(df, vec, dim, id_col)
    seed_rows = base.orderBy("__id").limit(k).collect()
    books: list[list[tuple[int, list[float]]]] = [
        [
            (i, [float(x) for x in r["__v"][lo - 1 : hi]])
            for i, r in enumerate(seed_rows)
        ]
        for lo, hi in spans
    ]
    for _ in range(iters - 1):
        # per-span nearest-centroid cid over its slice, computed ONCE per
        # row in the projection below the explode: referenced inside the
        # per-element transform lambda it would be re-evaluated for every
        # element of the span
        kcols = [f"__k{s}" for s in range(len(spans))]
        staged = base.select(
            "__v",
            *[
                argmin(F.slice(F.col("__v"), lo, hi - lo + 1), books[s])
                .getField("cid")
                .alias(kcols[s])
                for s, (lo, hi) in enumerate(spans)
            ],
        )

        # one (span, local_pos, x) struct per span element: explode once,
        # aggregate once (bind the span index via a closure factory — a
        # default argument would read as a third lambda parameter to
        # F.transform)
        def _contrib(s: int):
            return lambda x, i: F.struct(
                F.lit(s).alias("sp"), i.alias("pos"), x.alias("x")
            )

        contribs = F.flatten(
            F.array(
                *[
                    F.transform(F.slice(F.col("__v"), lo, hi - lo + 1), _contrib(s))
                    for s, (lo, hi) in enumerate(spans)
                ]
            )
        )
        from dataclod_spark.functions.text import explode_nonnull

        ex = explode_nonnull(staged, kcols, contribs, "__c")
        span_cid = F.element_at(F.array(*[F.col(c) for c in kcols]), F.col("__c.sp") + 1)
        rows = (
            ex.groupBy(
                F.col("__c.sp").alias("__sp"),
                span_cid.alias("__cid"),
                F.col("__c.pos").alias("__pos"),
            )
            .agg(
                F.sum(F.col("__c.x").cast(_ACC)).alias("__s"),
                F.count(F.lit(1)).alias("__n"),
            )
            .collect()
        )
        new_books: list[list[tuple[int, list[float]]]] = []
        for s, (lo, hi) in enumerate(spans):
            span_dim = hi - lo + 1
            acc: dict[int, list] = {}
            counts: dict[int, int] = {}
            for r in rows:
                if int(r["__sp"]) != s:
                    continue
                acc.setdefault(int(r["__cid"]), [None] * span_dim)[int(r["__pos"])] = r["__s"]
                counts[int(r["__cid"])] = r["__n"]  # fixed-width: same per pos
            new_books.append(
                sorted((cid, [float(x) / counts[cid] for x in acc[cid]]) for cid in acc)
            )
        books = new_books
    return books


def kmeans_clusters(
    df: DataFrame,
    vec: str = "embedding",
    dim: int = 64,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Lloyd k-means over an embedding column with deterministic
    initialization — the clustering primitive behind semantic dedup /
    corpus bucketing (FAISS trains IVF coarse quantizers exactly this
    way offline).

    Init: the ``k`` lowest-``id_col`` vectors are the starting centroids
    (deterministic, so the DuckDB differential oracle reproduces the run
    bit-exactly).  Each Lloyd round is:

    * **assign** — nearest-centroid id as a zero-Python projection
      (centroids ride into the plan as literals; argmin via ``array_min``
      over (dist, cid) structs, distances folded in index order);
    * **update** — per-cluster per-position mean via one posexplode +
      ``groupBy(cid, pos)`` DECIMAL-exact aggregate (:func:`pq_fit_spans`
      with the single span ``[(1, dim)]``), collected to the driver
      (≤ k × dim rows — bounded by construction).

    100 TB story: each round is one corpus scan + one k×dim-row
    aggregate; the corpus never shuffles (assignment is a projection, the
    update agg is partial-aggregated to k×dim rows).  Driver state is
    k×dim floats.
    Empty clusters simply drop out of the update (their id disappears),
    identically in both engines.

    Returns one row per surviving cluster: ``cluster_id, n_members,
    inertia`` (mean squared distance to the final centroid, DECIMAL-
    accumulated, rounded to 6)."""
    base = _kmeans_base(df, vec, dim, id_col)
    cents = pq_fit_spans(df, vec, dim, [(1, dim)], k, iters, id_col)[0]
    final = base.withColumn("__a", _argmin_cid(F.col("__v"), cents))
    return (
        final.groupBy(F.col("__a.cid").cast("bigint").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(
                F.sum(F.col("__a.dist").cast(_ACC)).cast("double") / F.count(F.lit(1)),
                6,
            ).alias("inertia"),
        )
        .orderBy("cluster_id")
    )


def dim_stats(df: DataFrame, vec: str, dim: int) -> DataFrame:
    """Per-dimension health profile of an embedding corpus:
    ``(dim, n, mean, std, min, max)`` — the collapsed/dead-dimension check
    a vector store runs before trusting distances (a dimension with ~0
    std contributes nothing; one with a huge range dominates L2).

    Same discipline as :func:`label_centroids`: one posexplode +
    ``groupBy(position)`` pass, map-side partial-aggregated, with sums
    carried in exact DECIMAL so the means/stds are order-independent.
    std uses the population form sqrt(E[x²] − E[x]²) computed in IEEE
    doubles from the exact sums — deterministic across engines.

    Ragged corpora are tolerated, not assumed away: vectors are
    NULL-padded/truncated to ``dim`` positions and NULL elements are
    filtered before the aggregate, so ``n`` is a per-dim COUNT of present
    elements (a short vector contributes nothing to the tail dims, a NULL
    element at a valid position is skipped) — the same semantics as the
    oracle's position-bounded NULL-filtered unnest (ADVICE r5).  A left
    join against a 1..dim spine keeps zero-coverage dims present (n=0),
    so the output always has ``dim`` rows."""
    ux = _exploded_positions(df, vec, dim).filter(F.col("__x").isNotNull())
    g = ux.groupBy("__pos").agg(
        F.count("__x").alias("__n"),
        F.sum(F.col("__x").cast(_ACC)).alias("__s"),
        F.sum((F.col("__x") * F.col("__x")).cast(_ACC)).alias("__q"),
        F.min("__x").alias("__mn"),
        F.max("__x").alias("__mx"),
    )
    spine = df.sparkSession.range(dim).select(F.col("id").cast("int").alias("__pos"))
    g = spine.join(g, "__pos", "left")
    mean = F.col("__s").cast("double") / F.col("__n")
    return g.select(
        (F.col("__pos") + 1).cast("int").alias("dim"),
        F.coalesce(F.col("__n"), F.lit(0)).alias("n"),
        F.round(mean, 8).alias("mean"),
        F.round(
            F.sqrt(
                F.greatest(
                    F.col("__q").cast("double") / F.col("__n") - mean * mean,
                    F.lit(0.0),
                )
            ),
            8,
        ).alias("std"),
        F.round(F.col("__mn"), 8).alias("dim_min"),
        F.round(F.col("__mx"), 8).alias("dim_max"),
    )


def matryoshka_energy(
    df: DataFrame, vec: str, dim: int, prefixes: tuple = (8, 16, 32, 64)
) -> DataFrame:
    """Matryoshka truncation profile: for each prefix length p, the
    distribution of "energy retained" ||v[:p]|| / ||v|| — which equals
    the cosine between the full vector and its p-dim truncation, so it is
    exactly the similarity error introduced by storing/searching only the
    first p dims (the Matryoshka-representation-learning deployment
    decision: how short can the index vectors be?).

    Returns one row per prefix: ``(prefix, n, mean_energy, min_energy,
    pct_ge_90)``.  Per-row energies are index-ordered folds over the
    array (bit-identical cross-engine); cross-row means accumulate in
    DECIMAL.  Zero-shuffle per-row math + one tiny global aggregate —
    nothing here grows with corpus size except the scan.

    Zero vectors (norm 0) are excluded: truncation quality is undefined
    for them, identically in the SQL oracle (``WHERE full > 0``)."""
    x = F.transform(F.col(vec), lambda v: v.cast("double"))
    sq = lambda arr: F.aggregate(
        arr, F.lit(0.0), lambda acc, e: acc + e * e
    )
    full = F.sqrt(sq(x))
    base = df.select(
        full.alias("__full"),
        *[
            (F.sqrt(sq(F.slice(x, 1, p))) ).alias(f"__e{p}")
            for p in prefixes
        ],
    ).filter(F.col("__full") > 0)
    aggs = []
    for p in prefixes:
        r = F.col(f"__e{p}") / F.col("__full")
        aggs.append(
            F.struct(
                F.lit(p).alias("prefix"),
                F.count(F.lit(1)).alias("n"),
                F.round(
                    F.sum(r.cast("decimal(18,12)")).cast("double")
                    / F.count(F.lit(1)),
                    8,
                ).alias("mean_energy"),
                F.round(F.min(r), 8).alias("min_energy"),
                F.round(
                    F.sum(F.when(r >= 0.9, 1).otherwise(0))
                    / (F.count(F.lit(1)).cast("double") / 100.0),
                    4,
                ).alias("pct_ge_90"),
            ).alias(f"__s{p}")
        )
    g = base.agg(*aggs)
    rows = F.array(*[F.col(f"__s{p}") for p in prefixes])
    return g.select(F.explode(rows).alias("__r")).select(
        F.col("__r.prefix").alias("prefix"),
        F.col("__r.n").alias("n"),
        F.col("__r.mean_energy").alias("mean_energy"),
        F.col("__r.min_energy").alias("min_energy"),
        F.col("__r.pct_ge_90").alias("pct_ge_90"),
    )
