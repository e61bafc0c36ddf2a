"""Deduplication queries over ``documents``/``embeddings`` (driver north-star).

Wraps ``dataclod_spark.operators.dedup``.  Exact dedup, MinHash signatures,
LSH candidate pairs and the 16-bit SimHash all carry full DuckDB oracles
(md5-based hashing is engine-portable); the production 64-bit SimHash uses
xxhash64 and is covered by pytest planted-duplicate tests instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataclod_spark.operators import dedup as DD
from dataclod_spark.queries.similarity import LLOYD_K8_CTES
from dataclod_spark.queries.text import _QUALITY
from dataclod_spark.registry import load, query

_NORM = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
_TOKS = rf"string_split_regex({_NORM}, '\s+')"
# distinct char-8-gram shingles (same contract as operators.dedup.char_shingles)
_SHINGLES = (
    rf"list_distinct(CASE WHEN len({_NORM}) < 8 THEN [{_NORM}] "
    rf"ELSE list_transform(range(1, len({_NORM}) - 6), i -> substr({_NORM}, i, 8)) END)"
)


def _mh(seed: int, shingles: str = "s") -> str:
    # seed i (0-3) = the i-th 8-hex-digit slice of one md5 per shingle —
    # matches operators.dedup.minhash_col's single-digest scheme
    return (
        rf"list_aggregate(list_transform({shingles}, "
        rf"x -> substr(md5(x), {1 + 8 * seed}, 8)), 'min')"
    )


@query(
    "d1_exact_dedup",
    doc="exact dedup summary: distinct normalized-text fingerprints",
    oracle=rf"""
SELECT count(*) AS n_docs,
       count(DISTINCT md5({_NORM})) AS n_distinct,
       count(*) - count(DISTINCT md5({_NORM})) AS n_dup_docs
FROM documents
""",
)
def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataclod_spark.functions.text import fingerprint

    d = load(spark, sf_dir, "documents", spread=False)
    fp = fingerprint(F.col("text"))
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(fp).alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct(fp)).alias("n_dup_docs"),
    )


@query(
    "d2_minhash_signatures",
    bench=True,
    doc="MinHash signatures (k=4 slices of one md5 over char-8-gram shingles)",
    oracle=rf"""
WITH sh AS (SELECT doc_id, {_SHINGLES} AS s FROM documents)
SELECT doc_id,
       {_mh(0)} AS mh_0,
       {_mh(1)} AS mh_1,
       {_mh(2)} AS mh_2,
       {_mh(3)} AS mh_3
FROM sh
ORDER BY doc_id
""",
)
def d2_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        DD.with_minhash_signature(d.select("doc_id", "text"))
        .select("doc_id", "mh_0", "mh_1", "mh_2", "mh_3")
        .orderBy("doc_id")
    )


@query(
    "d3_lsh_pairs",
    doc="MinHash-LSH candidate pairs (2 bands × 2 rows) with exact-Jaccard verify",
    oracle=rf"""
WITH sh AS (SELECT doc_id, {_SHINGLES} AS s FROM documents),
sig AS (
  SELECT doc_id, s,
         md5({_mh(0)} || {_mh(1)}) AS band_0,
         md5({_mh(2)} || {_mh(3)}) AS band_1
  FROM sh
),
cand AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, a.s AS sh_1, b.s AS sh_2
  FROM sig a JOIN sig b ON a.band_0 = b.band_0 AND a.doc_id < b.doc_id
  UNION
  SELECT a.doc_id, b.doc_id, a.s, b.s
  FROM sig a JOIN sig b ON a.band_1 = b.band_1 AND a.doc_id < b.doc_id
)
SELECT id_1, id_2,
       round(CAST(len(list_distinct(list_intersect(sh_1, sh_2))) AS DOUBLE)
             / len(list_distinct(list_concat(sh_1, sh_2))), 4) AS jaccard
FROM cand
WHERE round(CAST(len(list_distinct(list_intersect(sh_1, sh_2))) AS DOUBLE)
            / len(list_distinct(list_concat(sh_1, sh_2))), 4) >= 0.2
ORDER BY id_1, id_2
""",
)
def d3_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return DD.lsh_candidate_pairs(d, jaccard_threshold=0.2).orderBy("id_1", "id_2")


def _simhash16_sql() -> str:
    bits = []
    for j in range(1, 17):
        bits.append(
            rf"(CASE WHEN list_sum(list_transform({_TOKS}, "
            rf"t -> CASE WHEN substr(md5(t), {j}, 1) >= '8' THEN 1 ELSE -1 END)) > 0 "
            rf"THEN '1' ELSE '0' END)"
        )
    return " || ".join(bits)


@query(
    "d4_simhash",
    doc="16-bit SimHash per document (oracle-checkable variant of simhash64)",
    oracle=rf"""
SELECT doc_id, {_simhash16_sql()} AS simhash16
FROM documents
ORDER BY doc_id
""",
)
def d4_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", DD.simhash16(F.col("text")).alias("simhash16")).orderBy(
        "doc_id"
    )


_DOT = (
    "list_sum(list_transform(range(1, len(a.embedding) + 1), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
)
_NORM_A = (
    "sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))"
)
_NORM_B = (
    "sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1), "
    "i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))"
)


@query(
    "d5_embedding_dups",
    doc="embedding near-duplicate pairs, label-blocked (IVF-style coarse bucket)",
    oracle=f"""
SELECT a.vec_id AS id_1, b.vec_id AS id_2, a.label AS label,
       round({_DOT} / ({_NORM_A} * {_NORM_B}), 4) AS cosine_sim
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round({_DOT} / ({_NORM_A} * {_NORM_B}), 4) >= 0.8
ORDER BY id_1, id_2
""",
)
def d5_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Norms are staged per ROW before the pair join (bit-identical to
    computing them per pair — norm(a) is the same fold either way — but
    the per-pair work drops from three 64-element folds to one dot
    product; with |block|² pairs per label block that is the dominant
    cost at scale)."""
    from dataclod_spark.operators.similarity import dot, norm

    e = load(spark, sf_dir, "embeddings")
    a = e.select(
        F.col("vec_id").alias("id_1"), F.col("label"), F.col("embedding").alias("emb_1")
    ).withColumn("__na", norm(F.col("emb_1")))
    b = e.select(
        F.col("vec_id").alias("id_2"),
        F.col("label").alias("label_b"),
        F.col("embedding").alias("emb_2"),
    ).withColumn("__nb", norm(F.col("emb_2")))
    sim = F.round(
        dot(F.col("emb_1"), F.col("emb_2")) / (F.col("__na") * F.col("__nb")), 4
    )
    return (
        a.join(b, (F.col("label") == F.col("label_b")) & (F.col("id_1") < F.col("id_2")))
        .withColumn("cosine_sim", sim)
        .filter(F.col("cosine_sim") >= 0.8)
        .select("id_1", "id_2", "label", "cosine_sim")
        .orderBy("id_1", "id_2")
    )


@query(
    "d6_ngram_jaccard",
    doc="exact word-3-gram Jaccard near-dup pairs via inverted-index join "
    "(no hashing: every pair sharing a kept gram scored exactly)",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(ts) - 2, 0)),
           i -> array_to_string(ts[i:i+2], ' '))) AS gs
  FROM toks
), pairs AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, a.gs AS g1, b.gs AS g2
  FROM grams a JOIN grams b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.gs, b.gs)) > 0
)
SELECT id_1, id_2,
       round(CAST(len(list_intersect(g1, g2)) AS DOUBLE)
             / (len(g1) + len(g2) - len(list_intersect(g1, g2))), 6) AS jaccard
FROM pairs
WHERE round(CAST(len(list_intersect(g1, g2)) AS DOUBLE)
            / (len(g1) + len(g2) - len(list_intersect(g1, g2))), 6) >= 0.1
ORDER BY id_1, id_2
""",
)
def d6_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(d, jaccard_threshold=0.1).orderBy("id_1", "id_2")


@query(
    "d7_dedup_clusters",
    doc="near-duplicate clusters: LSH pairs -> connected components "
    "(iterative min-label propagation) -> one row per cluster",
    oracle=rf"""
WITH RECURSIVE sh AS (SELECT doc_id, {_SHINGLES} AS s FROM documents),
sig AS (
  SELECT doc_id, s,
         md5({_mh(0)} || {_mh(1)}) AS band_0,
         md5({_mh(2)} || {_mh(3)}) AS band_1
  FROM sh
),
cand AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, a.s AS sh_1, b.s AS sh_2
  FROM sig a JOIN sig b ON a.band_0 = b.band_0 AND a.doc_id < b.doc_id
  UNION
  SELECT a.doc_id, b.doc_id, a.s, b.s
  FROM sig a JOIN sig b ON a.band_1 = b.band_1 AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT id_1, id_2 FROM cand
  WHERE round(CAST(len(list_distinct(list_intersect(sh_1, sh_2))) AS DOUBLE)
              / len(list_distinct(list_concat(sh_1, sh_2))), 4) >= 0.2
),
edges AS (
  SELECT id_1 AS a, id_2 AS b FROM pairs
  UNION SELECT id_2, id_1 FROM pairs
),
walk(id, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, walk.lbl FROM walk JOIN edges e ON e.a = walk.id
),
comp AS (SELECT id, min(lbl) AS component FROM walk GROUP BY id)
SELECT component AS cluster_rep, count(*) AS cluster_size
FROM comp
GROUP BY component
ORDER BY cluster_rep
""",
)
def d7_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-cluster step a training-data pipeline runs after pair
    generation: components over the near-dup graph, one row per cluster
    with its min-id representative.  The DuckDB oracle walks the same
    graph with a recursive CTE (min reachable id == component label)."""
    d = load(spark, sf_dir, "documents")
    pairs = DD.lsh_candidate_pairs(d, jaccard_threshold=0.2)
    comp = DD.connected_components(pairs, "id_1", "id_2")
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .select(F.col("component").alias("cluster_rep"), "cluster_size")
        .orderBy("cluster_rep")
    )


@query(
    "d8_embedding_sign_lsh",
    doc="embedding near-dup bucketing via axis-aligned sign-LSH (bit i = "
    "sign of dim i): signature is a zero-shuffle projection, bucket "
    "summary one BIGINT-keyed hash agg — the 100 TB embedding-dedup shape",
    oracle="""
WITH sig AS (
  SELECT vec_id, label,
         CAST(list_sum(list_transform(range(1, 17),
              i -> CASE WHEN embedding[CAST(i AS INTEGER)] > 0
                        THEN CAST(POWER(2, i - 1) AS BIGINT) ELSE 0 END)) AS BIGINT)
           AS bucket
  FROM embeddings
)
SELECT bucket,
       count(*) AS n_vecs,
       count(DISTINCT label) AS n_labels,
       min(vec_id) AS rep_vec
FROM sig
GROUP BY bucket
HAVING count(*) >= 2
ORDER BY bucket
""",
)
def d8_embedding_sign_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings", spread=False)
    sig = e.select(
        "vec_id", "label", DD.dim_sign_signature(F.col("embedding")).alias("bucket")
    )
    return (
        sig.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.countDistinct("label").alias("n_labels"),
            F.min("vec_id").alias("rep_vec"),
        )
        .filter(F.col("n_vecs") >= 2)
        .orderBy("bucket")
    )


@query(
    "d9_winnow_pairs",
    doc="substring-level near-dup pairs via winnowing fingerprint sets "
    "(MOSS algorithm; operators/dedup.winnow_pairs — inverted-index join "
    "with stop-fingerprint guard)",
    oracle=rf"""
WITH v AS (
  SELECT doc_id, list_transform({_TOKS},
           t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS vals
  FROM documents
), h AS (
  SELECT doc_id,
         CASE WHEN len(vals) >= 3 THEN
           list_transform(generate_series(1, len(vals) - 2),
             i -> (vals[i] * 961 + vals[i+1] * 31 + vals[i+2]))
         ELSE [] END AS hashes
  FROM v
), fp AS (
  SELECT doc_id,
         CASE WHEN len(hashes) >= 4 THEN
           list_distinct(list_transform(generate_series(1, len(hashes) - 3),
             i -> list_min(list_slice(hashes, i, i + 3))))
         WHEN len(hashes) >= 1 THEN [list_min(hashes)]
         ELSE [] END AS fps
  FROM h
), e AS (
  SELECT doc_id, unnest(fps) AS f FROM fp
), kept AS (
  SELECT e.doc_id, e.f FROM e
  JOIN (SELECT f FROM e GROUP BY f HAVING count(*) <= 20) ok ON e.f = ok.f
)
SELECT a.doc_id AS id_1, b.doc_id AS id_2, count(*) AS n_shared
FROM kept a JOIN kept b ON a.f = b.f AND a.doc_id < b.doc_id
GROUP BY id_1, id_2
HAVING count(*) >= 3
ORDER BY id_1, id_2
""",
)
def d9_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catches documents that share long verbatim token runs even when
    their overall bags of words differ — the contamination/boilerplate
    case exact dedup (d1), MinHash-LSH (d3) and bag-Jaccard (d6) are
    blind to.  k=3, w=4 → any shared run of ≥ 6 tokens is guaranteed to
    produce a shared fingerprint."""
    d = load(spark, sf_dir, "documents")
    return DD.winnow_pairs(
        d, id_col="doc_id", text_col="text", min_shared=3, max_doc_freq=20
    ).orderBy("id_1", "id_2")


@query(
    "d11_dedup_reduction_report",
    doc="end-to-end dedup pipeline report: LSH pairs -> connected "
    "components -> keep the min-id representative per cluster -> "
    "per-language corpus reduction rates (the job summary a corpus-prep "
    "run publishes)",
    oracle=rf"""
WITH RECURSIVE sh AS (SELECT doc_id, {_SHINGLES} AS s FROM documents),
sig AS (
  SELECT doc_id, s,
         md5({_mh(0)} || {_mh(1)}) AS band_0,
         md5({_mh(2)} || {_mh(3)}) AS band_1
  FROM sh
),
cand AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, a.s AS sh_1, b.s AS sh_2
  FROM sig a JOIN sig b ON a.band_0 = b.band_0 AND a.doc_id < b.doc_id
  UNION
  SELECT a.doc_id, b.doc_id, a.s, b.s
  FROM sig a JOIN sig b ON a.band_1 = b.band_1 AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT id_1, id_2 FROM cand
  WHERE round(CAST(len(list_distinct(list_intersect(sh_1, sh_2))) AS DOUBLE)
              / len(list_distinct(list_concat(sh_1, sh_2))), 4) >= 0.2
),
edges AS (
  SELECT id_1 AS a, id_2 AS b FROM pairs
  UNION SELECT id_2, id_1 FROM pairs
),
walk(id, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, walk.lbl FROM walk JOIN edges e ON e.a = walk.id
),
comp AS (SELECT id, min(lbl) AS component FROM walk GROUP BY id),
dropped AS (SELECT id FROM comp WHERE id <> component)
SELECT d.lang,
       count(*) AS n_docs,
       count(*) - count(dr.id) AS n_kept,
       count(dr.id) AS n_dropped,
       round(CAST(count(dr.id) AS DOUBLE) / count(*), 6) AS reduction
FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.id
GROUP BY d.lang
ORDER BY d.lang
""",
)
def d11_dedup_reduction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composes the dedup primitives into the shape a production corpus
    prep actually ships: candidate pairs (banded LSH — never all-pairs),
    near-dup clusters (min-label components with checkpointed lineage),
    keep-lowest-id per cluster, and a per-language reduction summary.
    The ``dropped`` table has one row per non-representative near-dup
    doc — at web-corpus dup rates (30%+) that is O(corpus), so no
    broadcast hint: AQE broadcasts it when it is genuinely small and
    falls back to a shuffle join when it is not."""
    d = load(spark, sf_dir, "documents")
    pairs = DD.lsh_candidate_pairs(d, jaccard_threshold=0.2)
    comp = DD.connected_components(pairs, "id_1", "id_2")
    dropped = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id"), F.lit(1).alias("__dropped")
    )
    return (
        d.select("doc_id", "lang")
        .join(dropped, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.count(F.lit(1)) - F.count("__dropped")).alias("n_kept"),
            F.count("__dropped").alias("n_dropped"),
            F.round(
                F.count("__dropped").cast("double") / F.count(F.lit(1)), 6
            ).alias("reduction"),
        )
        .orderBy("lang")
    )


# shared with st12 (the streaming twin promises rollup-equality with the
# batch operator, so oracle and rollup must be ONE definition, not copies)
INCREMENTAL_DEDUP_ORACLE = rf"""
WITH newd AS (
  SELECT doc_id, source, text FROM documents WHERE doc_id % 3 = 0
), old AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
), old_fp AS (
  SELECT DISTINCT md5({_NORM}) AS fp FROM old
), nsig AS (
  SELECT doc_id, s, md5({_mh(0)} || {_mh(1)}) AS band_0,
         md5({_mh(2)} || {_mh(3)}) AS band_1
  FROM (SELECT doc_id, {_SHINGLES} AS s FROM newd)
), osig AS (
  SELECT doc_id, s, md5({_mh(0)} || {_mh(1)}) AS band_0,
         md5({_mh(2)} || {_mh(3)}) AS band_1
  FROM (SELECT doc_id, {_SHINGLES} AS s FROM old)
), cand AS (
  SELECT n.doc_id AS nid, n.s AS sh_1, o.s AS sh_2
  FROM nsig n JOIN osig o ON n.band_0 = o.band_0
  UNION
  SELECT n.doc_id, n.s, o.s
  FROM nsig n JOIN osig o ON n.band_1 = o.band_1
), near AS (
  SELECT DISTINCT nid FROM cand
  WHERE round(CAST(len(list_distinct(list_intersect(sh_1, sh_2))) AS DOUBLE)
              / len(list_distinct(list_concat(sh_1, sh_2))), 4) >= 0.2
), lab AS (
  SELECT n.source,
         CASE WHEN md5({_NORM}) IN (SELECT fp FROM old_fp) THEN 'exact'
              WHEN n.doc_id IN (SELECT nid FROM near) THEN 'near_dup'
         END AS drop_reason
  FROM newd n
)
SELECT source,
       count(*) AS n_new,
       CAST(sum(CASE WHEN drop_reason = 'exact' THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(sum(CASE WHEN drop_reason = 'near_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
       CAST(sum(CASE WHEN drop_reason IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM lab
GROUP BY source
ORDER BY source
"""


def incremental_rollup(res: DataFrame) -> DataFrame:
    """Per-source exact / near-dup / kept rollup of an
    ``incremental_dedup`` result — shared by d12 and st12 so their
    promised equality is structural, not two copies that can drift."""
    return (
        res.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.sum(F.when(F.col("drop_reason") == "exact", 1).otherwise(0)).alias("n_exact"),
            F.sum(F.when(F.col("drop_reason") == "near_dup", 1).otherwise(0)).alias("n_near_dup"),
            F.sum(F.when(F.col("drop_reason").isNull(), 1).otherwise(0)).alias("n_kept"),
        )
        .orderBy("source")
    )


@query(
    "d12_incremental_dedup",
    doc="incremental crawl-refresh dedup: screen the new batch "
    "(doc_id % 3 = 0) against the existing corpus snapshot (the rest) — "
    "per-source exact / near-dup / kept counts",
    oracle=INCREMENTAL_DEDUP_ORACLE,
)
def d12_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The steady-state dedup a production pipeline actually runs: the
    corpus snapshot is already deduped, only the delta is screened — see
    ``operators.dedup.incremental_dedup`` for the asymmetric exact-
    fingerprint + band-join design (old side never broadcast or
    collected; shingle arrays move once, onto verified candidates)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    new = d.filter(F.pmod(F.col("doc_id"), F.lit(3)) == 0)
    old = d.filter(F.pmod(F.col("doc_id"), F.lit(3)) != 0)
    return incremental_rollup(DD.incremental_dedup(new, old, jaccard_threshold=0.2))


_SEMDEDUP_TAU = 0.35  # demo threshold: the synthetic embeddings are near-
# orthogonal (within-cell cosine tops out ~0.47), so the paper's 0.95
# would trivially keep everything; planted-blob unit tests exercise the
# production threshold (tests/test_pipeline_ops.py::test_semantic_dedup*)


@query(
    "d13_semantic_dedup",
    doc="SemDeDup (Abbas et al. 2023): k-means cells over the embedding "
    "corpus, within-cell cosine>=tau near-dup groups via connected "
    "components, keep the lowest-id representative per group — the "
    "semantic-level dedup pass exact/MinHash dedup cannot see",
    oracle=rf"""
WITH RECURSIVE {LLOYD_K8_CTES},
asg AS (
  SELECT e.vec_id, CAST(a2.cid AS BIGINT) AS cell, e.v,
         sqrt(list_sum(list_transform(e.v, x -> x * x))) AS nr
  FROM e JOIN a2 USING (vec_id)
),
prs AS (
  SELECT a.vec_id AS id_1, b.vec_id AS id_2
  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_sum(list_transform(range(1, len(a.v) + 1),
          i -> a.v[i] * b.v[i])) / (a.nr * b.nr), 4) >= {_SEMDEDUP_TAU}
),
edges AS (
  SELECT id_1 AS ea, id_2 AS eb FROM prs
  UNION SELECT id_2, id_1 FROM prs
),
walk(id, lbl) AS (
  SELECT ea, ea FROM edges
  UNION
  SELECT g.eb, walk.lbl FROM walk JOIN edges g ON g.ea = walk.id
),
comp AS (SELECT id, min(lbl) AS component FROM walk GROUP BY id)
SELECT asg.vec_id,
       asg.cell,
       coalesce(comp.component, asg.vec_id) AS component,
       (comp.component IS NULL OR comp.component = asg.vec_id) AS is_kept
FROM asg LEFT JOIN comp ON asg.vec_id = comp.id
ORDER BY asg.vec_id
""",
)
def d13_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.dedup.semantic_dedup — the pq_fit_spans centroids ride into
    the assignment projection as array literals (zero Python, zero corpus
    shuffle), the pair join shuffles on the cell id only, and components
    collapse transitive duplicate chains.  The oracle replays the same
    deterministic Lloyd rounds (shared LLOYD_K8_CTES), the same
    index-ordered cosine folds rounded to 4, and walks the pair graph
    with a recursive CTE (d7's pattern)."""
    e = load(spark, sf_dir, "embeddings")
    return DD.semantic_dedup(
        e, id_col="vec_id", vec="embedding", dim=64, k=8, iters=2,
        threshold=_SEMDEDUP_TAU,
    ).orderBy("vec_id")


@query(
    "d14_line_dedup",
    doc="line-level exact dedup report (CCNet stage 1, Wenzek et al. 2020 "
    "§3.1: hash every line, mark all but the corpus-wide first "
    "occurrence): per-doc line counts and duplication ratio — lines are "
    "10-token chunks here (the synthetic corpus has no newlines; the "
    "fingerprint/first-occurrence machinery is the operator)",
    oracle=rf"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS ts FROM documents
), ix AS (
  SELECT doc_id, ts,
         unnest(CASE WHEN len(ts) > 0
                THEN range(0, CAST(ceil(len(ts) / 10.0) AS INT))
                ELSE [] END) AS i
  FROM toks
), ln AS (
  SELECT doc_id, i AS line_idx,
         md5(array_to_string(ts[(i * 10 + 1):(i * 10 + 10)], ' ')) AS fp
  FROM ix
), marked AS (
  SELECT doc_id,
         CASE WHEN row_number() OVER (PARTITION BY fp
                                      ORDER BY doc_id, line_idx) > 1
              THEN 1 ELSE 0 END AS dup
  FROM ln
)
SELECT doc_id,
       count(*) AS n_lines,
       CAST(sum(dup) AS BIGINT) AS n_dup_lines,
       round(sum(dup) / CAST(count(*) AS DOUBLE), 6) AS dup_ratio
FROM marked
GROUP BY doc_id
ORDER BY doc_id
""",
)
def d14_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.dedup.line_dedup_report: one explode to (doc, idx, fp),
    one fp-keyed min-struct aggregate for first occurrences (the oracle
    spells the equivalent window), join back on fp, doc rollup — two
    uniform-key shuffles, no all-pairs."""
    d = load(spark, sf_dir, "documents")
    return DD.line_dedup_report(d, line_tokens=10).orderBy("doc_id")


@query(
    "d15_ngram_containment",
    doc="directed n-gram CONTAINMENT near-dup pairs (Broder's containment "
    "coefficient |A∩B|/|A|): the asymmetric companion to d6 — a short doc "
    "quoted whole inside a long one has containment 1.0 but Jaccard ≈ 0, "
    "so resemblance dedup misses exactly the quote/boilerplate-subset "
    "case; same inverted-index join, never all-pairs",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(ts) - 2, 0)),
           i -> array_to_string(ts[i:i+2], ' '))) AS gs
  FROM toks
), pairs AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2,
         len(list_intersect(a.gs, b.gs)) AS inter,
         len(a.gs) AS n1, len(b.gs) AS n2
  FROM grams a JOIN grams b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.gs, b.gs)) > 0
), directed AS (
  SELECT id_1 AS contained_id, id_2 AS container_id,
         round(CAST(inter AS DOUBLE) / n1, 6) AS containment FROM pairs
  UNION ALL
  SELECT id_2, id_1, round(CAST(inter AS DOUBLE) / n2, 6) FROM pairs
)
SELECT contained_id, container_id, containment
FROM directed WHERE containment >= 0.2
ORDER BY contained_id, container_id
""",
)
def d15_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.dedup.ngram_containment_pairs: d6's inverted-index plan
    (posting-list-bounded shared-gram self-join, one intersection count
    per pair) scoring BOTH directions of every sharing pair; the
    max_doc_freq stop-gram guard applies unchanged in production (off
    here so the oracle's all-pairs formulation matches exactly)."""
    d = load(spark, sf_dir, "documents")
    return DD.ngram_containment_pairs(d, containment_threshold=0.2).orderBy(
        "contained_id", "container_id"
    )


@query(
    "d16_dedup_keep_best",
    doc="quality-aware cluster-canonical selection: near-dup clusters "
    "(LSH pairs -> connected components) keep their HIGHEST-quality "
    "member (ties to min id) instead of their first — the "
    "FineWeb/RefinedWeb-style step that makes dedup quality-preserving; "
    "argmax is one partial-aggregable max(struct), never a per-cluster "
    "window",
    oracle=rf"""
WITH RECURSIVE sh AS (SELECT doc_id, {_SHINGLES} AS s FROM documents),
sig AS (
  SELECT doc_id, s,
         md5({_mh(0)} || {_mh(1)}) AS band_0,
         md5({_mh(2)} || {_mh(3)}) AS band_1
  FROM sh
),
cand AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, a.s AS sh_1, b.s AS sh_2
  FROM sig a JOIN sig b ON a.band_0 = b.band_0 AND a.doc_id < b.doc_id
  UNION
  SELECT a.doc_id, b.doc_id, a.s, b.s
  FROM sig a JOIN sig b ON a.band_1 = b.band_1 AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT id_1, id_2 FROM cand
  WHERE round(CAST(len(list_distinct(list_intersect(sh_1, sh_2))) AS DOUBLE)
              / len(list_distinct(list_concat(sh_1, sh_2))), 4) >= 0.2
),
edges AS (
  SELECT id_1 AS a, id_2 AS b FROM pairs
  UNION SELECT id_2, id_1 FROM pairs
),
walk(id, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, walk.lbl FROM walk JOIN edges e ON e.a = walk.id
),
comp AS (SELECT id, min(lbl) AS component FROM walk GROUP BY id),
lab AS (
  SELECT d.doc_id, coalesce(comp.component, d.doc_id) AS cluster,
         {_QUALITY} AS quality
  FROM documents d LEFT JOIN comp ON d.doc_id = comp.id
),
sel AS (
  SELECT cluster, doc_id, quality,
         count(*) OVER (PARTITION BY cluster) AS cluster_size,
         row_number() OVER (PARTITION BY cluster
                            ORDER BY quality DESC, doc_id) AS rn
  FROM lab
)
SELECT cluster AS cluster_rep,
       CAST(cluster_size AS BIGINT) AS cluster_size,
       doc_id AS kept_doc_id,
       quality AS kept_quality
FROM sel WHERE rn = 1
ORDER BY cluster_rep
""",
)
def d16_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.dedup.dedup_keep_best — d7's pair/component machinery,
    then ONE max(struct(quality, -id)) hash aggregate per cluster (the
    oracle spells the equivalent window).  quality_score doubles are
    bit-identical across engines (x2's property), so the argmax is
    engine-deterministic."""
    from dataclod_spark.functions.text import quality_score

    d = load(spark, sf_dir, "documents")
    return DD.dedup_keep_best(
        d, quality_score(F.col("text")), jaccard_threshold=0.2
    ).orderBy("cluster_rep")


@query(
    "x28_ngram_novelty",
    doc="per-document n-gram novelty: fraction of a doc's distinct word "
    "3-grams that appear in NO other document — the boilerplate/template/"
    "memorized-text detector that grades each doc against the WHOLE "
    "corpus at once (novelty ~0 = mirror or chrome); gram document-"
    "frequency counts only, NO pair join anywhere",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
  FROM documents
), grams AS (
  SELECT doc_id,
         unnest(CASE WHEN len(ts) >= 3
                THEN list_distinct(list_transform(
                       generate_series(1, len(ts) - 2),
                       i -> array_to_string(ts[i:i+2], ' ')))
                ELSE [] END) AS g
  FROM toks
), gdf AS (
  SELECT g, count(*) AS d FROM grams GROUP BY g
), per_doc AS (
  SELECT doc_id, count(*) AS n_grams,
         count(*) FILTER (WHERE d >= 2) AS n_shared
  FROM grams JOIN gdf USING (g)
  GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(p.n_shared, 0) AS BIGINT) AS n_shared,
       CASE WHEN coalesce(p.n_grams, 0) > 0
            THEN round(1 - p.n_shared / CAST(p.n_grams AS DOUBLE), 6)
       END AS novelty
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
ORDER BY d.doc_id
""",
)
def x28_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.dedup.ngram_novelty: gram document frequency is one
    gram-keyed count (uniform keys, map-side partial, counts only —
    never posting lists), joined back onto the exploded grams (a join,
    AQE-skew-splittable), rolled up per doc and joined back onto the
    corpus ids.  Four linear shuffles, no all-pairs stage."""
    d = load(spark, sf_dir, "documents")
    return DD.ngram_novelty(d).orderBy("doc_id")


@query(
    "d17_lsh_recall",
    doc="LSH index recall estimation (the dedup-side twin of v14): TRUE "
    "neighbor sets for 50 sampled docs computed exactly by broadcasting "
    "their shingle sets against one corpus scan (k*n — linear for a "
    "fixed sample, never all-pairs), the banded index's pairs graded "
    "against them; precision is 1 by construction (candidates are "
    "exact-Jaccard-verified), recall is the number bands can lose",
    oracle=rf"""
WITH sh AS (SELECT doc_id, {_SHINGLES} AS s FROM documents),
truth AS (
  SELECT q.doc_id AS qid, c.doc_id AS oid
  FROM sh q JOIN sh c ON q.doc_id < 50 AND c.doc_id <> q.doc_id
  WHERE round(CAST(len(list_distinct(list_intersect(q.s, c.s))) AS DOUBLE)
              / len(list_distinct(list_concat(q.s, c.s))), 4) >= 0.2
),
sig AS (
  SELECT doc_id, s,
         md5({_mh(0)} || {_mh(1)}) AS band_0,
         md5({_mh(2)} || {_mh(3)}) AS band_1
  FROM sh
),
cand AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, a.s AS sh_1, b.s AS sh_2
  FROM sig a JOIN sig b ON a.band_0 = b.band_0 AND a.doc_id < b.doc_id
  UNION
  SELECT a.doc_id, b.doc_id, a.s, b.s
  FROM sig a JOIN sig b ON a.band_1 = b.band_1 AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT id_1, id_2 FROM cand
  WHERE round(CAST(len(list_distinct(list_intersect(sh_1, sh_2))) AS DOUBLE)
              / len(list_distinct(list_concat(sh_1, sh_2))), 4) >= 0.2
),
found AS (
  SELECT id_1 AS qid, id_2 AS oid FROM pairs WHERE id_1 < 50
  UNION
  SELECT id_2, id_1 FROM pairs WHERE id_2 < 50
),
base AS (SELECT qid, count(*) AS n_true FROM truth GROUP BY qid),
hit AS (
  SELECT t.qid, count(*) AS n_found
  FROM truth t JOIN found f ON t.qid = f.qid AND t.oid = f.oid
  GROUP BY t.qid
)
SELECT d.doc_id,
       CAST(coalesce(b.n_true, 0) AS BIGINT) AS n_true,
       CAST(coalesce(h.n_found, 0) AS BIGINT) AS n_found,
       CASE WHEN coalesce(b.n_true, 0) > 0
            THEN round(coalesce(h.n_found, 0) / CAST(b.n_true AS DOUBLE), 6)
       END AS recall
FROM (SELECT doc_id FROM documents WHERE doc_id < 50) d
LEFT JOIN base b ON d.doc_id = b.qid
LEFT JOIN hit h ON d.doc_id = h.qid
ORDER BY d.doc_id
""",
)
def d17_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.dedup.lsh_recall_report with doc_id < 50 as the sample:
    the truth pass broadcasts 50 shingle sets against one corpus scan,
    the index pass is d3's banded machinery, the grade is two rollups —
    no stage is all-pairs."""
    d = load(spark, sf_dir, "documents")
    return DD.lsh_recall_report(
        d, F.col("doc_id") < 50, jaccard_threshold=0.2
    ).orderBy("doc_id")


@query(
    "d18_cluster_size_profile",
    doc="near-dup cluster-size histogram incl. singletons (the report "
    "that catches a too-loose threshold: one giant cluster swallowing "
    "the corpus shows up as a heavy tail here long before eyeballing "
    "pairs would find it): components -> bounded size histogram; "
    "singletons counted by difference, no anti-join scan",
    oracle=rf"""
WITH RECURSIVE sh AS (SELECT doc_id, {_SHINGLES} AS s FROM documents),
sig AS (
  SELECT doc_id, s,
         md5({_mh(0)} || {_mh(1)}) AS band_0,
         md5({_mh(2)} || {_mh(3)}) AS band_1
  FROM sh
),
cand AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, a.s AS sh_1, b.s AS sh_2
  FROM sig a JOIN sig b ON a.band_0 = b.band_0 AND a.doc_id < b.doc_id
  UNION
  SELECT a.doc_id, b.doc_id, a.s, b.s
  FROM sig a JOIN sig b ON a.band_1 = b.band_1 AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT id_1, id_2 FROM cand
  WHERE round(CAST(len(list_distinct(list_intersect(sh_1, sh_2))) AS DOUBLE)
              / len(list_distinct(list_concat(sh_1, sh_2))), 4) >= 0.2
),
edges AS (
  SELECT id_1 AS a, id_2 AS b FROM pairs
  UNION SELECT id_2, id_1 FROM pairs
),
walk(id, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, walk.lbl FROM walk JOIN edges e ON e.a = walk.id
),
comp AS (SELECT id, min(lbl) AS component FROM walk GROUP BY id),
sizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component),
hist AS (
  SELECT cluster_size, count(*) AS n_clusters
  FROM sizes GROUP BY cluster_size
  UNION ALL
  SELECT CAST(1 AS BIGINT),
         (SELECT count(*) FROM documents) - (SELECT count(*) FROM comp)
)
SELECT cluster_size,
       CAST(sum(n_clusters) AS BIGINT) AS n_clusters,
       CAST(cluster_size * sum(n_clusters) AS BIGINT) AS n_docs
FROM hist GROUP BY cluster_size ORDER BY cluster_size
""",
)
def d18_cluster_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d7's components rolled into the job-summary histogram: cluster_size
    -> (n_clusters, n_docs), singletons (docs in no near-dup pair) as the
    size-1 row computed by DIFFERENCE of two count aggregates (total -
    docs-in-components) — no anti-join over the corpus.  All stages are
    bounded aggregates; the histogram itself is at most max-cluster-size
    rows."""
    d = load(spark, sf_dir, "documents")
    pairs = DD.lsh_candidate_pairs(d, jaccard_threshold=0.2)
    comp = DD.connected_components(pairs, "id_1", "id_2")
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    hist = sizes.groupBy("cluster_size").agg(F.count(F.lit(1)).alias("n_clusters"))
    singles = (
        d.agg(F.count(F.lit(1)).alias("__t"))
        .crossJoin(comp.agg(F.count(F.lit(1)).alias("__c")))
        .select(
            F.lit(1).cast("bigint").alias("cluster_size"),
            (F.col("__t") - F.col("__c")).alias("n_clusters"),
        )
    )
    return (
        hist.unionByName(singles)
        .groupBy("cluster_size")
        .agg(F.sum("n_clusters").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).cast("bigint").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


@query(
    "d19_shared_spans",
    doc="EXACT shared-substring spans at token granularity (Lee et al. "
    "2022 exact-substring dedup, distributed): a shared verbatim run of "
    "L tokens = L-k+1 consecutive positions on one alignment diagonal "
    "of the positional k-gram match matrix, so span = run+k-1 exactly; "
    "d9's winnowing is the sampled screen, this reports how LONG the "
    "shared text is — stop-hash guard groupBy+join, run-merge windows "
    "partitioned per (pair, diagonal): document-length bounded, never "
    "corpus-keyed",
    oracle=rf"""
WITH v AS (
  SELECT doc_id, list_transform({_TOKS},
           t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS vals
  FROM documents
), h AS (
  SELECT doc_id,
         CASE WHEN len(vals) >= 3 THEN
           list_transform(generate_series(1, len(vals) - 2),
             i -> (vals[i] * 961 + vals[i+1] * 31 + vals[i+2]))
         ELSE [] END AS hashes
  FROM v
), p AS (
  SELECT doc_id, i - 1 AS pos, hashes[i] AS hv
  FROM h CROSS JOIN unnest(generate_series(1, len(hashes))) AS t(i)
), kept AS (
  SELECT p.doc_id, p.pos, p.hv FROM p
  JOIN (SELECT hv FROM p GROUP BY hv HAVING count(*) <= 20) ok ON p.hv = ok.hv
), matched AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, a.pos AS p1, b.pos - a.pos AS diag
  FROM kept a JOIN kept b ON a.hv = b.hv AND a.doc_id < b.doc_id
), brk AS (
  SELECT id_1, id_2, diag, p1,
         CASE WHEN p1 - lag(p1) OVER (PARTITION BY id_1, id_2, diag ORDER BY p1) = 1
              THEN 0 ELSE 1 END AS b
  FROM matched
), rid AS (
  SELECT *, sum(b) OVER (PARTITION BY id_1, id_2, diag ORDER BY p1) AS run_id
  FROM brk
), spans AS (
  SELECT id_1, id_2, max(p1) - min(p1) + 3 AS span
  FROM rid GROUP BY id_1, id_2, diag, run_id
)
SELECT id_1, id_2,
       CAST(max(span) AS BIGINT) AS max_span_tokens,
       CAST(count(*) FILTER (WHERE span >= 6) AS BIGINT) AS n_spans
FROM spans GROUP BY id_1, id_2
HAVING max(span) >= 6
ORDER BY id_1, id_2
""",
)
def d19_shared_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.dedup.shared_span_pairs (k=3, min_span=6, guard 20):
    the positional refinement over d9's fingerprint screen — catches the
    quoted-paragraph / mirrored-boilerplate case WITH its length, which
    thresholded pair scores cannot distinguish from diffuse overlap."""
    d = load(spark, sf_dir, "documents")
    return DD.shared_span_pairs(
        d, id_col="doc_id", text_col="text", k=3, min_span=6, max_doc_freq=20
    ).orderBy("id_1", "id_2")


@query(
    "x31_benchmark_span_overlap",
    doc="span-level benchmark decontamination (the GPT-3-style 13-gram "
    "overlap check, here at >=8 tokens for the gate corpus): training "
    "docs sharing a VERBATIM token run with the doc_id%8==0 benchmark "
    "slice, reported with the span length — position-level evidence the "
    "gram-RATIO check (x16/st17) cannot give; d19's diagonal run-merge "
    "restricted to doc x benchmark pairs via a disjoint re-key",
    oracle=rf"""
WITH corpus AS (
  SELECT doc_id, text, doc_id % 8 = 0 AS is_bench FROM documents
), uni AS (
  SELECT CASE WHEN is_bench THEN doc_id + 100000000 ELSE doc_id END AS doc_id,
         text, is_bench
  FROM corpus
), v AS (
  SELECT doc_id, is_bench, list_transform({_TOKS},
           t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS vals
  FROM uni
), h AS (
  SELECT doc_id, is_bench,
         CASE WHEN len(vals) >= 3 THEN
           list_transform(generate_series(1, len(vals) - 2),
             i -> (vals[i] * 961 + vals[i+1] * 31 + vals[i+2]))
         ELSE [] END AS hashes
  FROM v
), p AS (
  SELECT doc_id, is_bench, i - 1 AS pos, hashes[i] AS hv
  FROM h CROSS JOIN unnest(generate_series(1, len(hashes))) AS t(i)
), kept AS (
  SELECT p.doc_id, p.is_bench, p.pos, p.hv FROM p
  JOIN (SELECT hv FROM p GROUP BY hv HAVING count(*) <= 20) ok ON p.hv = ok.hv
), matched AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, a.pos AS p1, b.pos - a.pos AS diag,
         a.is_bench AS b1, b.is_bench AS b2
  FROM kept a JOIN kept b ON a.hv = b.hv AND a.doc_id < b.doc_id
), cross_m AS (
  SELECT id_1, id_2, p1, diag FROM matched WHERE b1 <> b2
), brk AS (
  SELECT id_1, id_2, diag, p1,
         CASE WHEN p1 - lag(p1) OVER (PARTITION BY id_1, id_2, diag ORDER BY p1) = 1
              THEN 0 ELSE 1 END AS b
  FROM cross_m
), rid AS (
  SELECT *, sum(b) OVER (PARTITION BY id_1, id_2, diag ORDER BY p1) AS run_id
  FROM brk
), spans AS (
  SELECT id_1, id_2, max(p1) - min(p1) + 3 AS span
  FROM rid GROUP BY id_1, id_2, diag, run_id
), pairs AS (
  SELECT id_1, id_2,
         CAST(max(span) AS BIGINT) AS max_span_tokens
  FROM spans GROUP BY id_1, id_2 HAVING max(span) >= 8
)
SELECT CASE WHEN id_1 >= 100000000 THEN id_2 ELSE id_1 END AS doc_id,
       CAST(count(*) AS BIGINT) AS n_bench_docs,
       CAST(max(max_span_tokens) AS BIGINT) AS max_span_tokens
FROM pairs
GROUP BY 1
ORDER BY doc_id
""",
)
def x31_benchmark_span_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composes d19's shared_span_pairs over the disjointly re-keyed
    union of training docs and the benchmark slice, keeps only
    cross-population pairs, and rolls up per training doc: how many
    benchmark docs it verbatim-overlaps and the longest shared span —
    the removal list a span-level decontamination pass acts on.  Same
    plan economics as d19 (guarded posting join + doc-bounded diagonal
    windows); the union adds one column and the rollup is one hash agg."""
    d = load(spark, sf_dir, "documents")
    OFF = 100_000_000
    uni = d.select(
        F.when(F.col("doc_id") % 8 == 0, F.col("doc_id") + OFF)
        .otherwise(F.col("doc_id"))
        .alias("doc_id"),
        "text",
    )
    pairs = DD.shared_span_pairs(
        uni, id_col="doc_id", text_col="text", k=3, min_span=8, max_doc_freq=20
    )
    crossed = pairs.filter(
        ((F.col("id_1") >= OFF) & (F.col("id_2") < OFF))
        | ((F.col("id_1") < OFF) & (F.col("id_2") >= OFF))
    )
    doc = F.when(F.col("id_1") >= OFF, F.col("id_2")).otherwise(F.col("id_1"))
    return (
        crossed.select(doc.alias("doc_id"), "max_span_tokens")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bench_docs"),
            F.max("max_span_tokens").alias("max_span_tokens"),
        )
        .orderBy("doc_id")
    )
