"""Similarity-search queries over ``embeddings`` (driver north-star).

v1 is the exact brute-force baseline (broadcast queries × corpus scan);
v2 is the scale path (random-hyperplane LSH buckets).  Both carry full
DuckDB oracles — the hyperplanes are deterministic md5-derived literals
shared between the Spark plan and the oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataclod_spark.operators import similarity as SIM
from dataclod_spark.registry import load, query

_DOT_QC = (
    "list_sum(list_transform(range(1, len(q.q_vec) + 1), "
    "i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))"
)
_NORM_Q = (
    "sqrt(list_sum(list_transform(range(1, len(q.q_vec) + 1), "
    "i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE))))"
)
_NORM_C = (
    "sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1), "
    "i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))))"
)


@query(
    "v1_knn_bruteforce",
    bench=True,
    doc="exact cosine top-5 neighbors for 10 query vectors (broadcast × scan)",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
sims AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round({_DOT_QC} / ({_NORM_Q} * {_NORM_C}), 6) AS cosine_sim
  FROM q CROSS JOIN embeddings c
  WHERE c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine_sim, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM sims) ranked
WHERE rank <= 5
ORDER BY query_id, rank
""",
)
def v1_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    out = SIM.knn_bruteforce(e, e.filter(F.col("vec_id") < 10), k=5)
    return out.orderBy("query_id", "rank")


def _bucket_sql(alias: str) -> str:
    """DuckDB spelling of the 8-plane sign bucket for table alias `alias`."""
    planes = SIM.hyperplane_weights()
    bits = []
    for w in planes:
        lits = ", ".join(str(v) for v in w)
        dot = (
            f"list_sum(list_transform(range(1, len({alias}.embedding) + 1), "
            f"i -> CAST({alias}.embedding[i] AS DOUBLE) * ([{lits}]::DOUBLE[])[i]))"
        )
        bits.append(f"(CASE WHEN {dot} > 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits)


@query(
    "v2_knn_lsh",
    doc="ANN top-3 via random-hyperplane LSH buckets (deterministic planes)",
    oracle=f"""
WITH sigs AS (
  SELECT e.vec_id, e.embedding, {_bucket_sql('e')} AS bucket
  FROM embeddings e
),
q AS (SELECT vec_id AS query_id, embedding AS q_vec, bucket FROM sigs WHERE vec_id < 10),
sims AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, c.bucket AS bucket,
         round({_DOT_QC.replace('c.embedding', 'c.embedding')} / ({_NORM_Q} * {_NORM_C}), 6) AS cosine_sim
  FROM q JOIN sigs c ON q.bucket = c.bucket AND c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, bucket, cosine_sim, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM sims) ranked
WHERE rank <= 3
ORDER BY query_id, rank
""",
)
def v2_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    out = SIM.knn_lsh(e, e.filter(F.col("vec_id") < 10), k=3)
    return out.orderBy("query_id", "rank")


def _bucket_sql_seeded(alias: str, seed: int) -> str:
    """DuckDB spelling of the sign bucket for one hyperplane table."""
    planes = SIM.hyperplane_weights(seed=seed)
    bits = []
    for w in planes:
        lits = ", ".join(str(v) for v in w)
        dot = (
            f"list_sum(list_transform(range(1, len({alias}.embedding) + 1), "
            f"i -> CAST({alias}.embedding[i] AS DOUBLE) * ([{lits}]::DOUBLE[])[i]))"
        )
        bits.append(f"(CASE WHEN {dot} > 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits)


# hamming-1 probe expansion of an 8-bit bucket string (DuckDB spelling)
def _probes_sql(b: str) -> str:
    flip = (
        f"substr({b}, 1, CAST(i AS INT) - 1) || "
        f"(CASE substr({b}, CAST(i AS INT), 1) WHEN '1' THEN '0' ELSE '1' END) || "
        f"substr({b}, CAST(i AS INT) + 1)"
    )
    return f"list_append(list_transform(range(1, 9), i -> {flip}), {b})"


_DOT_QECE = (
    "list_sum(list_transform(range(1, len(qe.embedding) + 1), "
    "i -> CAST(qe.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE)))"
)
_NORM_QE = (
    "sqrt(list_sum(list_transform(range(1, len(qe.embedding) + 1), "
    "i -> CAST(qe.embedding[i] AS DOUBLE) * CAST(qe.embedding[i] AS DOUBLE))))"
)
_NORM_CE = (
    "sqrt(list_sum(list_transform(range(1, len(ce.embedding) + 1), "
    "i -> CAST(ce.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE))))"
)


@query(
    "v3_knn_multiprobe",
    doc="ANN top-3 via multi-table (2) multi-probe (hamming-1) LSH — the "
    "recall-tunable scale path over a single corpus scan",
    oracle=f"""
WITH sigs AS (
  SELECT e.vec_id, e.embedding,
         {_bucket_sql_seeded('e', 0)} AS b0,
         {_bucket_sql_seeded('e', 1)} AS b1
  FROM embeddings e
),
csigs AS (
  SELECT vec_id, 0 AS tbl, b0 AS bucket FROM sigs
  UNION ALL
  SELECT vec_id, 1 AS tbl, b1 AS bucket FROM sigs
),
qprobes AS (
  SELECT vec_id AS query_id, 0 AS tbl, unnest({_probes_sql('b0')}) AS bucket
  FROM sigs WHERE vec_id < 10
  UNION ALL
  SELECT vec_id AS query_id, 1 AS tbl, unnest({_probes_sql('b1')}) AS bucket
  FROM sigs WHERE vec_id < 10
),
cand AS (
  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
  FROM qprobes q JOIN csigs c ON q.tbl = c.tbl AND q.bucket = c.bucket
  WHERE c.vec_id <> q.query_id
),
sims AS (
  SELECT cand.query_id, cand.neighbor_id,
         round({_DOT_QECE} / ({_NORM_QE} * {_NORM_CE}), 6) AS cosine_sim
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.query_id
  JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, cosine_sim, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM sims) ranked
WHERE rank <= 3
ORDER BY query_id, rank
""",
)
def v3_knn_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings", spread=False)
    out = SIM.knn_ann(
        e, e.filter(F.col("vec_id") < 10), k=3, n_tables=2, probe_hamming=1
    )
    return out.orderBy("query_id", "rank")


def _cos_sql(a: str, b: str) -> str:
    """DuckDB cosine between two 64-dim FLOAT[] expressions (summation
    order matches Spark's F.aggregate: sequential i = 1..64, so doubles are
    bit-identical and argmax tie-breaks agree across engines)."""
    dot = (
        f"list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )
    na = (
        f"sqrt(list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
    )
    nb = (
        f"sqrt(list_sum(list_transform(range(1, len({b}) + 1), "
        f"i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))))"
    )
    return f"({dot} / ({na} * {nb}))"


@query(
    "v4_knn_ivf",
    doc="IVF approximate KNN: deterministic coarse quantizer (16 cells), "
    "argmax-cosine assignment, 2-probe query fan-out, exact top-3 over "
    "candidate cells only",
    oracle=f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings ORDER BY vec_id LIMIT 16
), assigned AS (
  SELECT vec_id AS neighbor_id, embedding AS c_vec, cid AS bucket
  FROM (
    SELECT c.vec_id, c.embedding, ct.cid,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY {_cos_sql('c.embedding', 'ct.cvec')} DESC, ct.cid) AS rn
    FROM embeddings c CROSS JOIN cents ct) t
  WHERE rn = 1
), probes AS (
  SELECT query_id, q_vec, cid AS bucket
  FROM (
    SELECT q.vec_id AS query_id, q.embedding AS q_vec, ct.cid,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {_cos_sql('q.embedding', 'ct.cvec')} DESC, ct.cid) AS rn
    FROM embeddings q CROSS JOIN cents ct
    WHERE q.vec_id < 10) t
  WHERE rn <= 2
), cand AS (
  SELECT p.query_id, a.neighbor_id, a.bucket,
         round({_cos_sql('p.q_vec', 'a.c_vec')}, 6) AS cosine_sim
  FROM probes p JOIN assigned a ON p.bucket = a.bucket
  WHERE a.neighbor_id <> p.query_id
)
SELECT query_id, neighbor_id, bucket, cosine_sim, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM cand) ranked
WHERE rank <= 3
ORDER BY query_id, rank
""",
)
def v4_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    out = SIM.knn_ivf(e, e.filter(F.col("vec_id") < 10), k=3, n_centroids=16, n_probe=2)
    return out.orderBy("query_id", "rank")


_DIM = 64  # embeddings table vector width (TESTDATA.md)


@query(
    "v5_centroid_cosine",
    doc="per-label centroid + average member cosine-to-centroid "
    "(operators/embeddings.py — DECIMAL-exact centroid agg, broadcast-back, "
    "index-ordered folds)",
    oracle="""
WITH u AS (
  SELECT vec_id, label, unnest(generate_series(1, len(embedding))) AS i
  FROM embeddings
), ux AS (
  SELECT u.vec_id, u.label, u.i, CAST(e.embedding[u.i] AS DOUBLE) AS x
  FROM u JOIN embeddings e ON e.vec_id = u.vec_id
), c AS (
  SELECT label, i,
         CAST(sum(CAST(x AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS cx
  FROM ux GROUP BY label, i
), cv AS (
  SELECT label, list(cx ORDER BY i) AS cvec FROM c GROUP BY label
), cos AS (
  SELECT e.vec_id, e.label,
         list_sum(list_transform(range(1, len(e.embedding) + 1),
           i -> CAST(e.embedding[i] AS DOUBLE) * cv.cvec[i]))
         / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
            * sqrt(list_sum(list_transform(range(1, len(cv.cvec) + 1),
              i -> cv.cvec[i] * cv.cvec[i])))) AS cos_centroid
  FROM embeddings e JOIN cv ON e.label = cv.label
)
SELECT label,
       count(*) AS n_vectors,
       round(CAST(sum(CAST(cos_centroid AS DECIMAL(18,12))) AS DOUBLE) / count(*), 6)
         AS avg_cosine,
       round(min(cos_centroid), 6) AS min_cosine
FROM cos
GROUP BY label
ORDER BY label
""",
)
def v5_centroid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality profile of the embedding space: how tight is each
    label around its mean vector.  One corpus aggregate (centroids), one
    broadcast join, one rollup — the corpus never shuffles."""
    from dataclod_spark.operators.embeddings import cosine_to_centroid

    e = load(spark, sf_dir, "embeddings", spread=False)
    withcos = cosine_to_centroid(e, "label", "embedding", _DIM)
    return (
        withcos.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(
                F.sum(F.col("cos_centroid").cast("decimal(18,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_cosine"),
            F.round(F.min("cos_centroid"), 6).alias("min_cosine"),
        )
        .orderBy("label")
    )


@query(
    "v6_scalar_quantize",
    doc="int8 per-dimension scalar quantization of the embedding corpus "
    "(operators/embeddings.py): global min/max train pass + zero-shuffle "
    "encode, reconstruction-error rollup per label",
    oracle="""
WITH u AS (
  SELECT vec_id, unnest(generate_series(1, len(embedding))) AS i
  FROM embeddings
), ux AS (
  SELECT u.i, CAST(e.embedding[u.i] AS DOUBLE) AS x
  FROM u JOIN embeddings e ON e.vec_id = u.vec_id
), s AS (
  SELECT i, min(x) AS mn, (max(x) - min(x)) / 255.0 AS sc FROM ux GROUP BY i
), sl AS (
  SELECT list(mn ORDER BY i) AS mins, list(sc ORDER BY i) AS scales FROM s
), coded AS (
  SELECT e.vec_id, e.label, e.embedding AS emb,
         list_transform(range(1, len(e.embedding) + 1),
           i -> CASE WHEN sl.scales[i] = 0 THEN 0
                ELSE least(255, greatest(0, CAST(round(
                  (CAST(e.embedding[i] AS DOUBLE) - sl.mins[i]) / sl.scales[i], 0)
                  AS INT))) END) AS codes,
         sl.mins AS mins, sl.scales AS scales
  FROM embeddings e CROSS JOIN sl
), errs AS (
  SELECT vec_id, label,
         list_transform(range(1, len(codes) + 1),
           i -> abs(CAST(emb[i] AS DOUBLE) - (mins[i] + codes[i] * scales[i]))) AS e
  FROM coded
)
SELECT label,
       count(*) AS n_vectors,
       round(CAST(sum(CAST(list_sum(e) / 64.0 AS DECIMAL(18,15))) AS DOUBLE)
             / count(*), 8) AS avg_mean_err,
       round(max(list_max(e)), 8) AS max_err
FROM errs
GROUP BY label
ORDER BY label
""",
)
def v6_scalar_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4× compression profile for the vector store: quantize every
    embedding to int8 codes against global per-dim ranges, report
    reconstruction error by label.  The train pass is a 1-row aggregate;
    encode/decode is whole-stage-codegen array math."""
    from dataclod_spark.operators.embeddings import scalar_quantize

    e = load(spark, sf_dir, "embeddings")
    q = scalar_quantize(e, "embedding", _DIM)
    return (
        q.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(
                F.sum(F.col("mean_abs_err").cast("decimal(18,15)")).cast("double")
                / F.count(F.lit(1)),
                8,
            ).alias("avg_mean_err"),
            F.round(F.max("max_abs_err"), 8).alias("max_err"),
        )
        .orderBy("label")
    )


# Shared Lloyd CTE chain (k=8, dim=64, 2 rounds, lowest-id init) ending in
# a2(vec_id, cid, dist) — the deterministic SQL replica of the
# single-span operators.embeddings.pq_fit_spans at the driver-data
# defaults; reused by v7's cluster summary and d13's semantic-dedup
# oracle (queries/dedup.py)
LLOYD_K8_CTES = """e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cvec
  FROM e ORDER BY vec_id LIMIT 8
), d1 AS (
  SELECT e.vec_id, c0.cid,
         list_sum(list_transform(range(1, 65),
           i -> (e.v[i] - c0.cvec[i]) * (e.v[i] - c0.cvec[i]))) AS dist
  FROM e CROSS JOIN c0
), a1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d1) WHERE rn = 1
), ux AS (
  SELECT vec_id, unnest(generate_series(1, 64)) AS i FROM e
), c1d AS (
  SELECT a1.cid, ux.i,
         CAST(sum(CAST(e.v[ux.i] AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS cx
  FROM ux JOIN a1 USING (vec_id) JOIN e USING (vec_id)
  GROUP BY a1.cid, ux.i
), c1 AS (
  SELECT cid, list(cx ORDER BY i) AS cvec FROM c1d GROUP BY cid
), d2 AS (
  SELECT e.vec_id, c1.cid,
         list_sum(list_transform(range(1, 65),
           i -> (e.v[i] - c1.cvec[i]) * (e.v[i] - c1.cvec[i]))) AS dist
  FROM e CROSS JOIN c1
), a2 AS (
  SELECT vec_id, cid, dist FROM (
    SELECT vec_id, cid, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d2) WHERE rn = 1
)"""


@query(
    "v7_kmeans_clusters",
    doc="Lloyd k-means (k=8, 2 rounds, deterministic lowest-id init) over "
    "the embedding corpus — per-cluster size + inertia "
    "(operators/embeddings.kmeans_clusters): assignment is a literal-"
    "centroid codegen projection, the update is a k×dim-row DECIMAL-exact "
    "aggregate; the corpus never shuffles",
    oracle=f"""
WITH {LLOYD_K8_CTES}
SELECT CAST(cid AS BIGINT) AS cluster_id,
       count(*) AS n_members,
       round(CAST(sum(CAST(dist AS DECIMAL(27,10))) AS DOUBLE) / count(*), 6)
         AS inertia
FROM a2
GROUP BY cid
ORDER BY cluster_id
""",
)
def v7_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus clustering for semantic dedup / IVF training: two Lloyd
    rounds from the k lowest-id seeds.  Cross-row float math is DECIMAL-
    accumulated and within-vector folds run in index order, so both
    engines produce bit-identical centroids, assignments, and inertia."""
    from dataclod_spark.operators.embeddings import kmeans_clusters

    e = load(spark, sf_dir, "embeddings", spread=False)
    return kmeans_clusters(e, "embedding", _DIM, k=8, iters=2)


@query(
    "v8_embedding_outliers",
    doc="per-label embedding outlier gate: vectors whose cosine-to-"
    "centroid falls below mean - 2*stddev of their label (DECIMAL-exact "
    "moments, bit-identical thresholds) — the embedding-space cleaning "
    "pass of a training pipeline",
    oracle="""
WITH u AS (
  SELECT vec_id, label, unnest(generate_series(1, len(embedding))) AS i
  FROM embeddings
), ux AS (
  SELECT u.vec_id, u.label, u.i, CAST(e.embedding[u.i] AS DOUBLE) AS x
  FROM u JOIN embeddings e ON e.vec_id = u.vec_id
), c AS (
  SELECT label, i,
         CAST(sum(CAST(x AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS cx
  FROM ux GROUP BY label, i
), cv AS (
  SELECT label, list(cx ORDER BY i) AS cvec FROM c GROUP BY label
), cos AS (
  SELECT e.vec_id, e.label,
         list_sum(list_transform(range(1, len(e.embedding) + 1),
           i -> CAST(e.embedding[i] AS DOUBLE) * cv.cvec[i]))
         / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
            * sqrt(list_sum(list_transform(range(1, len(cv.cvec) + 1),
              i -> cv.cvec[i] * cv.cvec[i])))) AS cos_centroid
  FROM embeddings e JOIN cv ON e.label = cv.label
), stats AS (
  SELECT label,
         count(*) AS n,
         CAST(sum(CAST(cos_centroid AS DECIMAL(18,12))) AS DOUBLE) AS s1,
         CAST(sum(CAST(cos_centroid * cos_centroid AS DECIMAL(18,12))) AS DOUBLE) AS s2
  FROM cos GROUP BY label
), thr AS (
  SELECT label, n,
         (s1 / n) - 2 * sqrt((s2 - (s1 / n) * (s1 / n) * n) / (n - 1)) AS cut
  FROM stats
)
SELECT t.label,
       t.n AS n_vectors,
       count(CASE WHEN c.cos_centroid < t.cut THEN 1 END) AS n_outliers,
       round(t.cut, 6) AS threshold
FROM cos c JOIN thr t ON c.label = t.label
GROUP BY t.label, t.n, t.cut
ORDER BY t.label
""",
)
def v8_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space data cleaning: per-label cosine-to-centroid moments
    (DECIMAL-accumulated so both engines compute bit-identical means and
    stddevs), then a broadcast threshold join flags the tail.  Two passes
    over the corpus (moments, then the gate) — the same train/apply shape
    as scalar_quantize; the corpus never shuffles."""
    from dataclod_spark.operators.embeddings import cosine_to_centroid

    e = load(spark, sf_dir, "embeddings")
    cos = cosine_to_centroid(e, "label", "embedding", _DIM).select(
        "label", "cos_centroid"
    )
    stats = cos.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cos_centroid").cast("decimal(18,12)")).cast("double").alias("s1"),
        F.sum((F.col("cos_centroid") * F.col("cos_centroid")).cast("decimal(18,12)"))
        .cast("double")
        .alias("s2"),
    )
    thr = stats.select(
        "label",
        F.col("n"),
        (
            (F.col("s1") / F.col("n"))
            - 2
            * F.sqrt(
                (F.col("s2") - (F.col("s1") / F.col("n")) * (F.col("s1") / F.col("n")) * F.col("n"))
                / (F.col("n") - 1)
            )
        ).alias("cut"),
    )
    return (
        cos.join(F.broadcast(thr), "label")
        .groupBy("label", "n", "cut")
        .agg(
            F.count(F.when(F.col("cos_centroid") < F.col("cut"), 1)).alias("n_outliers")
        )
        .select(
            "label",
            F.col("n").alias("n_vectors"),
            "n_outliers",
            F.round("cut", 6).alias("threshold"),
        )
        .orderBy("label")
    )


@query(
    "v9_embedding_dim_health",
    doc="per-dimension embedding health profile (mean/std/min/max per "
    "dim, exact-DECIMAL sums): the collapsed/dead-dimension check a "
    "vector store runs before trusting distances",
    oracle="""
WITH ux AS (
  SELECT u.i AS dim, CAST(e.embedding[u.i] AS DOUBLE) AS x
  FROM (SELECT vec_id, unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings WHERE embedding IS NOT NULL) u
  JOIN embeddings e ON e.vec_id = u.vec_id
  -- dim <= 64 and x IS NOT NULL mirror the Spark side by construction:
  -- dim_stats aggregates positions 1..dim only, and its per-dim
  -- count/sum/min/max skip NULL elements at valid positions (ADVICE r5:
  -- count(*) over unnested positions would count in-vector NULLs and
  -- ragged tails beyond dim)
  WHERE u.i <= 64 AND e.embedding[u.i] IS NOT NULL
)
SELECT dim, count(*) AS n,
       round(CAST(sum(CAST(x AS DECIMAL(27,10))) AS DOUBLE) / count(*), 8) AS mean,
       round(sqrt(greatest(
         CAST(sum(CAST(x * x AS DECIMAL(27,10))) AS DOUBLE) / count(*)
         - (CAST(sum(CAST(x AS DECIMAL(27,10))) AS DOUBLE) / count(*))
           * (CAST(sum(CAST(x AS DECIMAL(27,10))) AS DOUBLE) / count(*)),
         0.0)), 8) AS std,
       round(min(x), 8) AS dim_min,
       round(max(x), 8) AS dim_max
FROM ux
GROUP BY dim
ORDER BY dim
""",
)
def v9_embedding_dim_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.embeddings.dim_stats — one posexplode +
    groupBy(position) pass, map-side partial-aggregated so only
    tasks×dim partial rows shuffle (the oracle spells the same unnest
    formulation), exact-DECIMAL sums so the moments are
    summation-order-independent.  At 100 TB this is a single all-reduce
    of 5·dim accumulators."""
    from dataclod_spark.operators.embeddings import dim_stats

    e = load(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    return dim_stats(e, "embedding", _DIM).orderBy("dim")


_MRL_PREFIXES = (8, 16, 32, 64)
_MRL_ARMS = "\nUNION ALL\n".join(
    f"""SELECT {p} AS prefix, count(*) AS n,
       round(CAST(sum(CAST(e{p} / nfull AS DECIMAL(18,12))) AS DOUBLE)
             / count(*), 8) AS mean_energy,
       round(min(e{p} / nfull), 8) AS min_energy,
       round(sum(CASE WHEN e{p} / nfull >= 0.9 THEN 1 ELSE 0 END)
             / (CAST(count(*) AS DOUBLE) / 100.0), 4) AS pct_ge_90
FROM en"""
    for p in _MRL_PREFIXES
)
_MRL_ENERGY_COLS = "\n".join(
    f"         sqrt(list_sum(list_transform(v[1:{p}], x -> x * x))) AS e{p},"
    for p in _MRL_PREFIXES
)


@query(
    "v10_matryoshka_energy",
    doc="Matryoshka truncation profile: per prefix length p, the "
    "distribution of ||v[:p]||/||v|| (= cosine between the full vector "
    "and its p-dim truncation) — the MRL deployment decision of how "
    "short the index vectors can be",
    oracle=f"""
WITH e AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE embedding IS NOT NULL
), en AS (
  SELECT sqrt(list_sum(list_transform(v, x -> x * x))) AS nfull,
{_MRL_ENERGY_COLS}
         1 AS one
  FROM e
  WHERE sqrt(list_sum(list_transform(v, x -> x * x))) > 0
)
SELECT * FROM (
{_MRL_ARMS}
)
ORDER BY prefix
""",
)
def v10_matryoshka_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.embeddings.matryoshka_energy: zero-shuffle per-row
    index-ordered folds + one global aggregate pivoted to |prefixes|
    rows; DECIMAL-accumulated means."""
    from dataclod_spark.operators.embeddings import matryoshka_energy

    e = load(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    return matryoshka_energy(e, "embedding", _DIM, prefixes=_MRL_PREFIXES).orderBy(
        "prefix"
    )


def _lloyd_ctes(p: str, lo: int, hi: int, k: int) -> str:
    """Parameterized DuckDB Lloyd chain (2 rounds, lowest-id init) over
    the vector slice [lo..hi], CTE names prefixed with ``p`` and ending
    in ``{p}a2(vec_id, cid, dist)`` — the generator behind
    LLOYD_K8_CTES's shape, reused per-subspace by the v11 product-
    quantization oracle."""
    span = hi - lo + 1
    return f"""{p}e AS (
  SELECT vec_id, list_transform(embedding[{lo}:{hi}], x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), {p}c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cvec
  FROM {p}e ORDER BY vec_id LIMIT {k}
), {p}d1 AS (
  SELECT e.vec_id, c.cid,
         list_sum(list_transform(range(1, {span + 1}),
           i -> (e.v[i] - c.cvec[i]) * (e.v[i] - c.cvec[i]))) AS dist
  FROM {p}e e CROSS JOIN {p}c0 c
), {p}a1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM {p}d1) WHERE rn = 1
), {p}ux AS (
  SELECT vec_id, unnest(generate_series(1, {span})) AS i FROM {p}e
), {p}c1d AS (
  SELECT a.cid, u.i,
         CAST(sum(CAST(e.v[u.i] AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS cx
  FROM {p}ux u JOIN {p}a1 a USING (vec_id) JOIN {p}e e USING (vec_id)
  GROUP BY a.cid, u.i
), {p}c1 AS (
  SELECT cid, list(cx ORDER BY i) AS cvec FROM {p}c1d GROUP BY cid
), {p}d2 AS (
  SELECT e.vec_id, c.cid,
         list_sum(list_transform(range(1, {span + 1}),
           i -> (e.v[i] - c.cvec[i]) * (e.v[i] - c.cvec[i]))) AS dist
  FROM {p}e e CROSS JOIN {p}c1 c
), {p}a2 AS (
  SELECT vec_id, cid, dist FROM (
    SELECT vec_id, cid, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM {p}d2) WHERE rn = 1
)"""


@query(
    "v11_product_quantize",
    doc="product quantization (FAISS PQ shape): the vector split into 2 "
    "contiguous subspaces, an independent deterministic k=4 codebook "
    "trained per subspace (Lloyd, 2 rounds, lowest-id init), per-vector "
    "codes + total squared reconstruction error — the memory-bound ANN "
    "compression step beyond v6's scalar quantization",
    oracle=f"""
WITH {_lloyd_ctes("s0", 1, 32, 4)},
{_lloyd_ctes("s1", 33, 64, 4)}
SELECT a0.vec_id,
       CAST(a0.cid AS INT) AS code_0,
       CAST(a1.cid AS INT) AS code_1,
       round(a0.dist + a1.dist, 6) AS sq_err
FROM s0a2 a0 JOIN s1a2 a1 USING (vec_id)
ORDER BY a0.vec_id
""",
)
def v11_product_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.embeddings.pq_fit_spans (shared Lloyd machinery;
    codebooks ride into the assignment as array literals), then codes +
    error as ONE zero-shuffle projection over the corpus — the m·k
    codebook rows are the only driver state.  The error sum is spelled
    subspace-0-then-1 on both engines so the doubles are bit-identical.
    Both subspace codebooks train in the SAME two bounded jobs (r12,
    guide §1.2): bit-identical to single-span fits of each subspace (see
    pq_fit_spans), at half the corpus-job count."""
    from dataclod_spark.operators.embeddings import _argmin_cid, pq_fit_spans

    e = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )
    subs = pq_fit_spans(e, "embedding", _DIM, [(1, 32), (33, 64)], k=4, iters=2)
    a0 = _argmin_cid(
        F.transform(F.slice("embedding", 1, 32), lambda x: x.cast("double")), subs[0]
    )
    a1 = _argmin_cid(
        F.transform(F.slice("embedding", 33, 32), lambda x: x.cast("double")), subs[1]
    )
    return (
        e.select(
            "vec_id",
            a0.alias("__a0"),
            a1.alias("__a1"),
        )
        .select(
            "vec_id",
            F.col("__a0.cid").cast("int").alias("code_0"),
            F.col("__a1.cid").cast("int").alias("code_1"),
            F.round(F.col("__a0.dist") + F.col("__a1.dist"), 6).alias("sq_err"),
        )
        .orderBy("vec_id")
    )


# Deterministic ADC probe vector: q[i] = ((i*37) % 101) / 101.0 on the
# GLOBAL 1-based index — exact rational arithmetic, so Python, Spark and
# DuckDB construct bit-identical doubles (no transcendental functions).
def _adc_q(i: int) -> float:
    return ((i * 37) % 101) / 101.0


def _adc_lut_sql(p: str, lo: int, hi: int) -> str:
    """DuckDB LUT CTE: squared L2 from the probe's [lo..hi] slice to each
    of {p}c1's centroids (local index i-lo+1), same index-ordered
    summation as the Spark-side fold."""
    return (
        f"{p}q AS (SELECT cid, list_sum(list_transform(range({lo}, {hi + 1}), "
        f"i -> (CAST((i*37)%101 AS DOUBLE)/101.0 - cvec[i-{lo - 1}]) "
        f"* (CAST((i*37)%101 AS DOUBLE)/101.0 - cvec[i-{lo - 1}]))) AS d "
        f"FROM {p}c1)"
    )


@query(
    "v12_pq_adc_topk",
    doc="asymmetric-distance (ADC) top-k over PQ codes (FAISS IVFADC's "
    "scan half, Jégou et al. 2011 §III): a probe vector is compared to "
    "the m·k codebook centroids ONCE (the lookup table), then every "
    "vector's distance is two table lookups keyed on its codes — the "
    "step that makes compressed-domain search O(m) per vector instead "
    "of O(dim)",
    oracle=f"""
WITH {_lloyd_ctes("s0", 1, 32, 4)},
{_lloyd_ctes("s1", 33, 64, 4)},
{_adc_lut_sql("s0", 1, 32)},
{_adc_lut_sql("s1", 33, 64)}
SELECT a0.vec_id,
       CAST(a0.cid AS INT) AS code_0,
       CAST(a1.cid AS INT) AS code_1,
       round(q0.d + q1.d, 6) AS adc_dist
FROM s0a2 a0
JOIN s1a2 a1 USING (vec_id)
JOIN s0q q0 ON q0.cid = a0.cid
JOIN s1q q1 ON q1.cid = a1.cid
ORDER BY q0.d + q1.d, a0.vec_id
LIMIT 10
""",
)
def v12_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v11's codebooks (shared pq_fit_spans) + a driver-built when-chain
    LUT: per subspace, the probe-to-centroid squared L2 is a CONSTANT
    expression (two array literals through the same index-ordered
    ``_sq_l2`` fold the oracle's list_sum mirrors), selected by the
    assigned code — so the scan is one zero-shuffle projection and the
    top-k is TakeOrderedAndProject, never a full sort.  100 TB shape:
    the LUT is m·k constants in the plan (no join, no broadcast), the
    corpus scan reads codes only.  Both subspace codebooks train in the
    SAME two bounded jobs (r12, guide §1.2, bit-identical — see
    pq_fit_spans)."""
    from dataclod_spark.operators.embeddings import _argmin_cid, _sq_l2, pq_fit_spans

    e = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )
    subs = pq_fit_spans(e, "embedding", _DIM, [(1, 32), (33, 64)], k=4, iters=2)

    def lut_dist(cid_col: F.Column, cents, lo: int, hi: int) -> F.Column:
        qsub = F.lit([_adc_q(i) for i in range(lo, hi + 1)])
        expr = F.lit(None).cast("double")
        for cid, cvec in cents:
            d = _sq_l2(qsub, F.lit([float(x) for x in cvec]))
            expr = F.when(cid_col == F.lit(cid), d).otherwise(expr)
        return expr

    a0 = _argmin_cid(
        F.transform(F.slice("embedding", 1, 32), lambda x: x.cast("double")), subs[0]
    )
    a1 = _argmin_cid(
        F.transform(F.slice("embedding", 33, 32), lambda x: x.cast("double")), subs[1]
    )
    coded = e.select(
        "vec_id",
        a0.getField("cid").alias("__c0"),
        a1.getField("cid").alias("__c1"),
    )
    d0 = lut_dist(F.col("__c0"), subs[0], 1, 32)
    d1 = lut_dist(F.col("__c1"), subs[1], 33, 64)
    return (
        coded.select(
            "vec_id",
            F.col("__c0").cast("int").alias("code_0"),
            F.col("__c1").cast("int").alias("code_1"),
            (d0 + d1).alias("__adc"),
        )
        .orderBy("__adc", "vec_id")
        .limit(10)
        .select(
            "vec_id", "code_0", "code_1", F.round(F.col("__adc"), 6).alias("adc_dist")
        )
    )


@query(
    "v13_ivf_adc_search",
    doc="IVF-ADC search (FAISS IVFADC end-to-end, Jégou et al. 2011 "
    "§IV): a k=4 coarse quantizer routes the probe to its nprobe=2 "
    "nearest cells, and only THOSE cells' vectors are scanned in the "
    "compressed domain via the v12 lookup tables — the inverted-list "
    "pruning that makes billion-vector search touch a fraction of the "
    "corpus",
    oracle=f"""
WITH {_lloyd_ctes("cq", 1, 64, 4)},
{_lloyd_ctes("s0", 1, 32, 4)},
{_lloyd_ctes("s1", 33, 64, 4)},
{_adc_lut_sql("s0", 1, 32)},
{_adc_lut_sql("s1", 33, 64)},
cqq AS (
  SELECT cid, list_sum(list_transform(range(1, 65),
    i -> (CAST((i*37)%101 AS DOUBLE)/101.0 - cvec[i])
       * (CAST((i*37)%101 AS DOUBLE)/101.0 - cvec[i]))) AS d
  FROM cqc1
), probe AS (
  SELECT cid FROM cqq ORDER BY d, cid LIMIT 2
)
SELECT a.vec_id,
       CAST(a.cid AS INT) AS cell,
       CAST(a0.cid AS INT) AS code_0,
       CAST(a1.cid AS INT) AS code_1,
       round(q0.d + q1.d, 6) AS adc_dist
FROM cqa2 a
JOIN probe p ON p.cid = a.cid
JOIN s0a2 a0 USING (vec_id)
JOIN s1a2 a1 USING (vec_id)
JOIN s0q q0 ON q0.cid = a0.cid
JOIN s1q q1 ON q1.cid = a1.cid
ORDER BY q0.d + q1.d, a.vec_id
LIMIT 5
""",
)
def v13_ivf_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse route + compressed scan, all zero-shuffle: the probe's two
    nearest coarse cells are picked DRIVER-side from the k-row coarse
    codebook (same rational probe, same index-ordered fold as the SQL
    twin, ties on cid), the cell filter prunes the corpus scan, and the
    surviving rows pay two LUT lookups (v12's when-chains) — never a
    full-dimension distance.  100 TB shape: the coarse cell is the
    partition/cluster key of a real deployment, so the filter is
    partition PRUNING, not a scan-and-drop; codes + cell ids are the
    only columns read.  The coarse quantizer and BOTH subspace codebooks
    train in the SAME two bounded jobs (r12, guide §1.2: three separate
    single-span fits ran 6 corpus jobs for identical results — see
    pq_fit_spans; the coarse k=4 seeds are the same 4 lowest-id rows the
    subspace seeds slice)."""
    from dataclod_spark.operators.embeddings import _argmin_cid, _sq_l2, pq_fit_spans

    e = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )
    coarse, *subs = pq_fit_spans(
        e, "embedding", _DIM, [(1, 64), (1, 32), (33, 64)], k=4, iters=2
    )
    qfull = [_adc_q(i) for i in range(1, 65)]
    probe_cells = sorted(
        (sum((a - b) * (a - b) for a, b in zip(qfull, cv)), cid)
        for cid, cv in coarse
    )[:2]
    keep = [cid for _, cid in probe_cells]

    def lut_dist(cid_col, cents, lo: int, hi: int):
        qsub = F.lit([_adc_q(i) for i in range(lo, hi + 1)])
        expr = F.lit(None).cast("double")
        for cid, cvec in cents:
            d = _sq_l2(qsub, F.lit([float(x) for x in cvec]))
            expr = F.when(cid_col == F.lit(cid), d).otherwise(expr)
        return expr

    dv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    cell = _argmin_cid(dv, coarse).getField("cid")
    a0 = _argmin_cid(
        F.transform(F.slice("embedding", 1, 32), lambda x: x.cast("double")), subs[0]
    )
    a1 = _argmin_cid(
        F.transform(F.slice("embedding", 33, 32), lambda x: x.cast("double")), subs[1]
    )
    coded = e.select(
        "vec_id",
        cell.alias("__cell"),
        a0.getField("cid").alias("__c0"),
        a1.getField("cid").alias("__c1"),
    ).filter(F.col("__cell").isin(keep))
    d0 = lut_dist(F.col("__c0"), subs[0], 1, 32)
    d1 = lut_dist(F.col("__c1"), subs[1], 33, 64)
    return (
        coded.select(
            "vec_id",
            F.col("__cell").cast("int").alias("cell"),
            F.col("__c0").cast("int").alias("code_0"),
            F.col("__c1").cast("int").alias("code_1"),
            (d0 + d1).alias("__adc"),
        )
        .orderBy("__adc", "vec_id")
        .limit(5)
        .select(
            "vec_id", "cell", "code_0", "code_1",
            F.round(F.col("__adc"), 6).alias("adc_dist"),
        )
    )


@query(
    "v14_ann_recall",
    doc="ANN recall@3 evaluation: IVF (16 cells, 2-probe) top-3 graded "
    "against exact brute-force top-3 per query — the honesty meter that "
    "tunes probe counts; evaluation joins run on (queries x k)-bounded "
    "result relations, adding zero corpus-scale stages",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
sims AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round({_DOT_QC} / ({_NORM_Q} * {_NORM_C}), 6) AS cosine_sim
  FROM q CROSS JOIN embeddings c
  WHERE c.vec_id <> q.query_id
),
exact AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine_sim DESC, neighbor_id) AS rank
        FROM sims) r
  WHERE rank <= 3
),
cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings ORDER BY vec_id LIMIT 16
), assigned AS (
  SELECT vec_id AS neighbor_id, embedding AS c_vec, cid AS bucket
  FROM (
    SELECT c.vec_id, c.embedding, ct.cid,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY {_cos_sql('c.embedding', 'ct.cvec')} DESC, ct.cid) AS rn
    FROM embeddings c CROSS JOIN cents ct) t
  WHERE rn = 1
), probes AS (
  SELECT query_id, q_vec, cid AS bucket
  FROM (
    SELECT q.vec_id AS query_id, q.embedding AS q_vec, ct.cid,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {_cos_sql('q.embedding', 'ct.cvec')} DESC, ct.cid) AS rn
    FROM embeddings q CROSS JOIN cents ct
    WHERE q.vec_id < 10) t
  WHERE rn <= 2
), cand AS (
  SELECT p.query_id, a.neighbor_id,
         round({_cos_sql('p.q_vec', 'a.c_vec')}, 6) AS cosine_sim
  FROM probes p JOIN assigned a ON p.bucket = a.bucket
  WHERE a.neighbor_id <> p.query_id
),
approx AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine_sim DESC, neighbor_id) AS rank
        FROM cand) r
  WHERE rank <= 3
),
hits AS (
  SELECT e.query_id, count(*) AS n_hit
  FROM exact e JOIN approx a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.query_id
),
base AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY query_id)
SELECT b.query_id,
       CAST(b.n_exact AS BIGINT) AS n_exact,
       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       round(coalesce(h.n_hit, 0) / CAST(b.n_exact AS DOUBLE), 6) AS recall
FROM base b LEFT JOIN hits h ON b.query_id = h.query_id
ORDER BY b.query_id
""",
)
def v14_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.similarity.recall_report grading v4's IVF path against
    v1's exact path at k=3 — both searches are the already-gated
    operators; the grader itself is two rollups + one hit join over
    (queries x k)-row relations."""
    e = load(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") < 10)
    exact = SIM.knn_bruteforce(e, qv, k=3)
    approx = SIM.knn_ivf(e, qv, k=3, n_centroids=16, n_probe=2)
    return SIM.recall_report(exact, approx).orderBy("query_id")


@query(
    "v15_distance_profile",
    doc="sampled pairwise cosine-similarity histogram (the threshold "
    "calibration meter for semantic dedup's eps and the ANN candidate "
    "cut): k sampled query vectors broadcast against one corpus scan, "
    "pairs bucketed at 2 decimals into a bounded histogram — k*n and "
    "linear, never all-pairs",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS q_vec FROM embeddings WHERE vec_id % 50 = 0
), sims AS (
  SELECT round({_DOT_QC} / ({_NORM_Q} * {_NORM_C}), 2) + 0.0 AS bucket
  FROM q CROSS JOIN embeddings c
  WHERE c.vec_id <> q.qid
)
SELECT bucket, count(*) AS n_pairs
FROM sims GROUP BY bucket ORDER BY bucket
""",
)
def v15_distance_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.similarity.cosine_profile: the v14/d17/m8 honesty-meter
    family applied to the raw similarity distribution itself."""
    e = load(spark, sf_dir, "embeddings")
    return SIM.cosine_profile(
        e, e.filter(F.col("vec_id") % 50 == 0), decimals=2
    ).orderBy("bucket")
