"""Driver-gate queries for federated scans, pg_catalog, and multimodal
plumbing (SURVEY.md §2.A.2 + north-star multimodal columns)."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataclod_spark.registry import load, query


@query(
    "c1_scan_duckdb",
    doc="duckdb_scan table function: mounted table equals the parquet source",
    oracle="SELECT * FROM nation ORDER BY n_nationkey",
)
def c1_scan_duckdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    import duckdb

    from dataclod_spark.sources.scans import scan_duckdb

    path = os.path.join(
        tempfile.gettempdir(), f"dataclod_scan_{os.path.basename(sf_dir.rstrip('/'))}.duckdb"
    )
    if os.path.exists(path):
        os.remove(path)
    con = duckdb.connect(path)
    try:
        con.execute(
            f"CREATE TABLE nation AS SELECT * FROM '{sf_dir}/nation.parquet'"
        )
    finally:
        con.close()
    return scan_duckdb(spark, path, "main", "nation").orderBy("n_nationkey")


@query(
    "c2_scan_sqlite",
    doc="sqlite_scan table function: mounted table equals the parquet source",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
)
def c2_scan_sqlite(spark: SparkSession, sf_dir: str) -> DataFrame:
    import sqlite3

    import duckdb

    from dataclod_spark.sources.scans import scan_sqlite

    path = os.path.join(
        tempfile.gettempdir(), f"dataclod_scan_{os.path.basename(sf_dir.rstrip('/'))}.sqlite"
    )
    if os.path.exists(path):
        os.remove(path)
    rows = duckdb.sql(f"SELECT * FROM '{sf_dir}/nation.parquet'").fetchall()
    con = sqlite3.connect(path)
    try:
        con.execute(
            "CREATE TABLE nation (n_nationkey INTEGER, n_name TEXT, n_regionkey INTEGER)"
        )
        con.executemany("INSERT INTO nation VALUES (?, ?, ?)", rows)
        con.commit()
    finally:
        con.close()
    df = scan_sqlite(spark, path, "nation")
    return df.select(
        F.col("n_nationkey").cast("int"),
        "n_name",
        F.col("n_regionkey").cast("int"),
    ).orderBy("n_nationkey")


_HEXVAL = "(strpos('0123456789abcdef', substr(md5(text), {pos}, 1)) - 1)"


@query(
    "m1_multimodal_decode",
    doc="multimodal decode plumbing: mapInPandas stub codec over binary content",
    oracle=f"""
SELECT doc_id,
       CAST(32 + 16 * ({_HEXVAL.format(pos=2)}) AS INT)      AS width,
       CAST(32 + 16 * ({_HEXVAL.format(pos=4)}) AS INT)      AS height,
       CAST(1 + ({_HEXVAL.format(pos=6)}) % 8 AS INT)        AS n_frames
FROM documents
ORDER BY doc_id
""",
)
def m1_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataclod_spark.operators.multimodal import decode_media

    d = load(spark, sf_dir, "documents", spread=False)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("content"),
    )
    decoded = decode_media(media)
    return decoded.select(
        F.col("media_id").alias("doc_id"), "width", "height", "n_frames"
    ).orderBy("doc_id")


def _pg_type_values() -> str:
    from dataclod_spark.catalog.pg_catalog import PG_TYPE_ROWS

    rows = ", ".join(f"({oid}, '{name}', '{cat}')" for oid, name, _, cat, *_ in PG_TYPE_ROWS)
    return rows


@query(
    "pg1_pg_type",
    doc="pg_catalog emulation: pg_type contents (28 static rows)",
    oracle=f"""
SELECT CAST(oid AS BIGINT) AS oid, typname, typcategory
FROM (VALUES {_pg_type_values()}) AS t(oid, typname, typcategory)
ORDER BY oid
""",
)
def pg1_pg_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataclod_spark.catalog.pg_catalog import register_pg_catalog

    register_pg_catalog(spark, ["pg_type"])
    return spark.sql(
        "SELECT oid, typname, typcategory FROM pg_catalog_pg_type ORDER BY oid"
    )


@query(
    "m2_frame_sampling",
    doc="multimodal frame-sampling plumbing: mapInPandas explode of media "
    "rows into every-2nd-frame rows (stub codec)",
    oracle=f"""
WITH nf AS (
  SELECT doc_id, CAST(1 + ({_HEXVAL.format(pos=6)}) % 8 AS INT) AS n_frames
  FROM documents
)
SELECT doc_id, CAST(unnest(generate_series(0, n_frames - 1, 2)) AS INT) AS frame_no
FROM nf
ORDER BY doc_id, frame_no
""",
)
def m2_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataclod_spark.operators.multimodal import sample_frames

    d = load(spark, sf_dir, "documents", spread=False)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("content"),
    )
    frames = sample_frames(media, every_n=2)
    return frames.select(
        F.col("media_id").alias("doc_id"), "frame_no"
    ).orderBy("doc_id", "frame_no")


@query(
    "m3_byte_histogram",
    doc="real multimodal feature extraction: 32-wide byte histograms + "
    "byte sums over binary content via one vectorized mapInPandas pass",
    oracle="""
WITH ascii_docs AS (
  SELECT doc_id, text FROM documents WHERE strlen(text) = len(text)
), codes AS (
  SELECT doc_id,
         list_transform(range(1, len(text) + 1), i -> ascii(substr(text, i, 1))) AS cs
  FROM ascii_docs
)
SELECT doc_id,
       len(list_filter(cs, c -> c < 32)) AS b0,
       len(list_filter(cs, c -> c >= 32 AND c < 64)) AS b1,
       len(list_filter(cs, c -> c >= 64 AND c < 96)) AS b2,
       len(list_filter(cs, c -> c >= 96)) AS b3,
       CAST(list_sum(cs) AS BIGINT) AS byte_sum
FROM codes
ORDER BY doc_id
""",
)
def m3_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASCII-only filter (octet_length == char_length) keeps the
    byte-level Spark view and the codepoint-level DuckDB oracle identical;
    list_sum of an empty list is NULL in DuckDB, so empty docs coalesce to
    0 on both sides."""
    from dataclod_spark.operators.multimodal import byte_histogram_features

    d = load(spark, sf_dir, "documents", spread=False)
    media = d.filter(F.octet_length("text") == F.char_length("text")).select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("content"),
    )
    feats = byte_histogram_features(media)
    return feats.select(
        F.col("media_id").alias("doc_id"), "b0", "b1", "b2", "b3", "byte_sum"
    ).orderBy("doc_id")


@query(
    "m4_media_resize",
    doc="multimodal resize plumbing: aspect-fit every media blob into a "
    "64x48 box (integer-exact fit arithmetic, stub codec) via one "
    "vectorized mapInPandas pass",
    oracle=f"""
WITH dims AS (
  SELECT doc_id,
         CAST(32 + 16 * ({_HEXVAL.format(pos=2)}) AS INT) AS w,
         CAST(32 + 16 * ({_HEXVAL.format(pos=4)}) AS INT) AS h
  FROM documents
)
SELECT doc_id,
       CAST(CASE WHEN w IS NULL THEN NULL
                 WHEN w * 48 <= h * 64 THEN greatest((w * 48) // h, 1)
                 ELSE 64 END AS INT) AS out_width,
       CAST(CASE WHEN w IS NULL THEN NULL
                 WHEN w * 48 <= h * 64 THEN 48
                 ELSE greatest((h * 64) // w, 1) END AS INT) AS out_height,
       CAST(CASE WHEN w IS NULL THEN NULL ELSE 16 END AS BIGINT) AS blob_len
FROM dims
ORDER BY doc_id
""",
)
def m4_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dims go through operators.multimodal.fit_box (pure floor-division
    integer arithmetic — the oracle spells the identical expressions);
    the resized blob is the deterministic stub digest, whose 16-byte
    length the oracle pins so the binary column is exercised, not just
    the dims."""
    from dataclod_spark.operators.multimodal import resize_media

    d = load(spark, sf_dir, "documents", spread=False)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("content"),
    )
    resized = resize_media(media, target_w=64, target_h=48)
    return resized.select(
        F.col("media_id").alias("doc_id"),
        "out_width",
        "out_height",
        F.octet_length("resized_content").cast("bigint").alias("blob_len"),
    ).orderBy("doc_id")


def _export_once(sf_dir: str, fmt: str) -> str:
    """Write the nation table to a temp CSV/JSON file (setup side of the
    external-format scan gates; ≈ the reference's CREATE EXTERNAL TABLE
    corpus data).  DuckDB does the export so the bytes under test are not
    produced by the engine being tested."""
    import duckdb

    path = os.path.join(
        tempfile.gettempdir(),
        f"dataclod_ext_{os.path.basename(sf_dir.rstrip('/'))}.{fmt}",
    )
    if not os.path.exists(path):
        if fmt == "csv":
            duckdb.sql(
                f"COPY (SELECT * FROM '{sf_dir}/nation.parquet' ORDER BY n_nationkey) "
                f"TO '{path}' (FORMAT CSV, HEADER)"
            )
        else:
            duckdb.sql(
                f"COPY (SELECT * FROM '{sf_dir}/nation.parquet' ORDER BY n_nationkey) "
                f"TO '{path}' (FORMAT JSON)"
            )
    return path


@query(
    "c3_scan_csv",
    doc="CSV external scan (inherited format surface, context.rs:49-52 "
    "default features): header + explicit schema, filter pushed to the scan",
    oracle="""
SELECT n_regionkey, count(*) AS n_nations, min(n_name) AS first_name
FROM nation
WHERE n_nationkey % 2 = 0
GROUP BY n_regionkey
ORDER BY n_regionkey
""",
)
def c3_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _export_once(sf_dir, "csv")
    df = (
        spark.read.option("header", "true")
        .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
        .csv(path)
    )
    return (
        df.filter(F.col("n_nationkey") % 2 == 0)
        .groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n_nations"), F.min("n_name").alias("first_name"))
        .orderBy("n_regionkey")
    )


@query(
    "c4_scan_json",
    doc="JSON-lines external scan with explicit schema (inherited format "
    "surface) — same aggregate as c3 over the JSON encoding",
    oracle="""
SELECT n_regionkey, count(*) AS n_nations, min(n_name) AS first_name
FROM nation
WHERE n_nationkey % 2 = 1
GROUP BY n_regionkey
ORDER BY n_regionkey
""",
)
def c4_scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _export_once(sf_dir, "json")
    df = spark.read.schema(
        "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT"
    ).json(path)
    return (
        df.filter(F.col("n_nationkey") % 2 == 1)
        .groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n_nations"), F.min("n_name").alias("first_name"))
        .orderBy("n_regionkey")
    )


@query(
    "c5_scan_orc",
    doc="ORC write + read round-trip (inherited columnar-format surface): "
    "documents exported to ORC by the engine, read back and aggregated — "
    "the oracle reads the parquet original, so byte-level format fidelity "
    "is what's under test",
    oracle="""
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(source) AS first_source
FROM documents
GROUP BY lang
ORDER BY lang
""",
)
def c5_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the external-format matrix (CSV/JSON/Parquet/ORC).  The
    ORC copy is written once per (sf, mtime) behind an atomic rename —
    same concurrent-session discipline as p2_partition_pruning."""
    from dataclod_spark.cache import materialize_once, source_key

    key = source_key(os.path.join(sf_dir, "documents.parquet"))
    base = os.path.join(tempfile.gettempdir(), f"dataclod_orc_{key}")
    materialize_once(
        base,
        lambda staged: load(spark, sf_dir, "documents")
        .select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite")
        .orc(staged),
    )
    df = spark.read.orc(base)
    return (
        df.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("source").alias("first_source"),
        )
        .orderBy("lang")
    )


@query(
    "m5_media_dedup",
    doc="content-addressable media dedup: md5-of-bytes digest, lowest-id "
    "canonical copy per digest, per-source storage accounting — the "
    "dedup-before-decode pass of a multimodal ingest (identical bytes "
    "decode identically; a deterministic 1-in-7 replica is planted so "
    "the duplicate path is exercised at the gate, not just in unit tests)",
    oracle="""
WITH media AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000, source, text FROM documents WHERE doc_id % 7 = 0
), lab AS (
  SELECT source, doc_id, md5(text) AS dg, octet_length(encode(text)) AS nb,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1 AS canon
  FROM media
)
SELECT source,
       count(*) AS n_media,
       CAST(sum(CASE WHEN canon THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical,
       CAST(count(*) - sum(CASE WHEN canon THEN 1 ELSE 0 END) AS BIGINT) AS dup_copies,
       CAST(sum(nb) AS BIGINT) AS bytes_total,
       CAST(sum(CASE WHEN canon THEN nb ELSE 0 END) AS BIGINT) AS bytes_canonical
FROM lab
GROUP BY source
ORDER BY source
""",
)
def m5_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.multimodal.media_dedup: one codegen digest projection +
    one digest-keyed window shuffle (uniform key — no skew by
    construction); dedup runs BEFORE the codec so every duplicate copy
    skips decode entirely at 100 TB."""
    from dataclod_spark.operators.multimodal import media_dedup

    d = load(spark, sf_dir, "documents", spread=False).select(
        "doc_id", "source", F.col("text").cast("binary").alias("content")
    )
    dups = d.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000_000)
    )
    labeled = media_dedup(d.unionAll(dups), id_col="doc_id", content_col="content")
    nb = F.length(F.col("content"))
    canon = F.col("is_canonical").cast("int")
    return (
        labeled.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum(canon).alias("n_canonical"),
            (F.count(F.lit(1)) - F.sum(canon)).alias("dup_copies"),
            F.sum(nb).alias("bytes_total"),
            F.sum(F.when(F.col("is_canonical"), nb).otherwise(F.lit(0))).alias(
                "bytes_canonical"
            ),
        )
        .orderBy("source")
    )


@query(
    "m6_media_near_dedup",
    doc="media NEAR-duplicate grouping by quantized byte-histogram "
    "signature (the perceptual-bucket companion to m5's exact digest): "
    "integer-exact 16-level quantization of the 4 byte-class ratios, "
    "cell canonical = min id — one feature pass + one hash agg + one "
    "cell-keyed join, never all-pairs",
    oracle="""
WITH ascii_docs AS (
  SELECT doc_id, text FROM documents WHERE strlen(text) = len(text)
), codes AS (
  SELECT doc_id,
         list_transform(range(1, len(text) + 1), i -> ascii(substr(text, i, 1))) AS cs
  FROM ascii_docs
), hist AS (
  SELECT doc_id,
         len(list_filter(cs, c -> c < 32)) AS b0,
         len(list_filter(cs, c -> c >= 32 AND c < 64)) AS b1,
         len(list_filter(cs, c -> c >= 64 AND c < 96)) AS b2,
         len(list_filter(cs, c -> c >= 96)) AS b3
  FROM codes
), sig AS (
  SELECT doc_id,
         CAST(CASE WHEN b0+b1+b2+b3 > 0 THEN (b0 * 16) // (b0+b1+b2+b3) ELSE -1 END AS INT) AS q0,
         CAST(CASE WHEN b0+b1+b2+b3 > 0 THEN (b1 * 16) // (b0+b1+b2+b3) ELSE -1 END AS INT) AS q1,
         CAST(CASE WHEN b0+b1+b2+b3 > 0 THEN (b2 * 16) // (b0+b1+b2+b3) ELSE -1 END AS INT) AS q2,
         CAST(CASE WHEN b0+b1+b2+b3 > 0 THEN (b3 * 16) // (b0+b1+b2+b3) ELSE -1 END AS INT) AS q3
  FROM hist
)
SELECT doc_id, q0, q1, q2, q3,
       min(doc_id) OVER (PARTITION BY q0, q1, q2, q3) AS canonical_id,
       doc_id = min(doc_id) OVER (PARTITION BY q0, q1, q2, q3) AS is_kept
FROM sig
ORDER BY doc_id
""",
)
def m6_media_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.multimodal.media_near_dedup over documents-as-media (the
    m3 ASCII filter keeps the byte-level Spark view and the
    codepoint-level oracle identical).  Quantization is pure integer
    ``div`` — no FP cell boundary; the oracle's window is the hash-agg +
    join-back equivalent (windows don't scale, joins AQE-split)."""
    from dataclod_spark.operators.multimodal import media_near_dedup

    d = load(spark, sf_dir, "documents", spread=False)
    media = d.filter(F.octet_length("text") == F.char_length("text")).select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("content"),
    )
    return (
        media_near_dedup(media)
        .select(
            F.col("media_id").alias("doc_id"),
            "q0", "q1", "q2", "q3", "canonical_id", "is_kept",
        )
        .orderBy("doc_id")
    )


_M_HIST_CTE = """
WITH ascii_docs AS (
  SELECT doc_id, text FROM documents
  WHERE strlen(text) = len(text) AND strlen(text) > 0
), hist AS (
  SELECT doc_id,
         len(list_filter(cs, c -> c < 32)) AS b0,
         len(list_filter(cs, c -> c >= 32 AND c < 64)) AS b1,
         len(list_filter(cs, c -> c >= 64 AND c < 96)) AS b2,
         len(list_filter(cs, c -> c >= 96)) AS b3
  FROM (SELECT doc_id,
               list_transform(range(1, len(text) + 1),
                              i -> ascii(substr(text, i, 1))) AS cs
        FROM ascii_docs)
)"""


@query(
    "m7_media_probe_pairs",
    doc="media near-dup candidate PAIRS with adjacent-cell multi-probing "
    "(the r8 verdict's documented-but-unimplemented recall knob): each "
    "blob probes its 3^4 quant-adjacent byte-histogram cells, so every "
    "pair within Chebyshev distance 1 in cell space — in particular "
    "every pair whose exact profiles differ by under one cell width — "
    "is found; bounded x81 probe explosion + ONE cell-keyed equi-join, "
    "never all-pairs (the oracle's all-pairs form is gate-scale only)",
    oracle=_M_HIST_CTE
    + """, sig AS (
  SELECT doc_id,
         CAST((b0 * 2048) // (b0+b1+b2+b3) AS INT) AS q0,
         CAST((b1 * 2048) // (b0+b1+b2+b3) AS INT) AS q1,
         CAST((b2 * 2048) // (b0+b1+b2+b3) AS INT) AS q2,
         CAST((b3 * 2048) // (b0+b1+b2+b3) AS INT) AS q3
  FROM hist WHERE b0+b1+b2+b3 > 0
)
SELECT a.doc_id AS id_1, b.doc_id AS id_2,
       CAST(greatest(abs(a.q0-b.q0), abs(a.q1-b.q1),
                     abs(a.q2-b.q2), abs(a.q3-b.q3)) AS INT) AS cell_dist
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE abs(a.q0-b.q0) <= 1 AND abs(a.q1-b.q1) <= 1
  AND abs(a.q2-b.q2) <= 1 AND abs(a.q3-b.q3) <= 1
ORDER BY id_1, id_2
""",
)
def m7_media_probe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.multimodal.media_near_dup_pairs(probe_adjacent=True):
    the m6 grid's boundary-miss fix.  quant=2048 — the synthetic docs'
    byte profiles are near-identical, so the gate uses a grid fine
    enough that cells separate (cell membership is still decided by
    exact integer div)."""
    from dataclod_spark.operators.multimodal import media_near_dup_pairs

    # spread=False: the histogram mapInPandas is faster without the
    # round-robin exchange moving the blobs (measured 1.17 s vs
    # 1.3-3.0 s), and everything downstream reads narrow checkpoints
    d = load(spark, sf_dir, "documents", spread=False)
    media = d.filter(
        (F.octet_length("text") == F.char_length("text"))
        & (F.char_length("text") > 0)
    ).select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("content"),
    )
    return media_near_dup_pairs(
        media, quant=2048, probe_adjacent=True
    ).orderBy("id_1", "id_2")


@query(
    "m8_media_recall",
    doc="sampled recall meter for the quantized-cell media index (the "
    "d17/v14-style honesty meter the r8 verdict asked to pair with the "
    "probe knob): truth = byte-class ratios within half a cell width, "
    "decided in exact integer cross-multiplication; found = the probed "
    "index's candidates; with probing recall is 1.0 BY CONSTRUCTION — "
    "the meter exists to measure how far same-cell grouping falls short "
    "and to re-grade after retuning",
    oracle=_M_HIST_CTE
    + """, prof AS (
  SELECT doc_id, b0, b1, b2, b3, b0+b1+b2+b3 AS t
  FROM hist WHERE b0+b1+b2+b3 > 0
), sig AS (
  SELECT doc_id,
         CAST((b0 * 2048) // t AS INT) AS q0,
         CAST((b1 * 2048) // t AS INT) AS q1,
         CAST((b2 * 2048) // t AS INT) AS q2,
         CAST((b3 * 2048) // t AS INT) AS q3
  FROM prof
), q AS (SELECT * FROM prof WHERE doc_id % 50 = 0),
truth AS (
  SELECT q.doc_id AS qid, p.doc_id AS oid
  FROM q JOIN prof p ON p.doc_id <> q.doc_id
  WHERE abs(q.b0*p.t - p.b0*q.t) * 4096 <= q.t*p.t
    AND abs(q.b1*p.t - p.b1*q.t) * 4096 <= q.t*p.t
    AND abs(q.b2*p.t - p.b2*q.t) * 4096 <= q.t*p.t
    AND abs(q.b3*p.t - p.b3*q.t) * 4096 <= q.t*p.t
), found AS (
  SELECT truth.qid, truth.oid
  FROM truth
  JOIN sig sa ON sa.doc_id = truth.qid
  JOIN sig sb ON sb.doc_id = truth.oid
  WHERE abs(sa.q0-sb.q0) <= 1 AND abs(sa.q1-sb.q1) <= 1
    AND abs(sa.q2-sb.q2) <= 1 AND abs(sa.q3-sb.q3) <= 1
)
SELECT q.doc_id,
       CAST(coalesce(t.n_true, 0) AS BIGINT) AS n_true,
       CAST(coalesce(f.n_found, 0) AS BIGINT) AS n_found,
       CASE WHEN coalesce(t.n_true, 0) > 0
            THEN round(coalesce(f.n_found, 0) / CAST(t.n_true AS DOUBLE), 6)
       END AS recall
FROM q
LEFT JOIN (SELECT qid, count(*) AS n_true FROM truth GROUP BY qid) t
  ON t.qid = q.doc_id
LEFT JOIN (SELECT qid, count(*) AS n_found FROM found GROUP BY qid) f
  ON f.qid = q.doc_id
ORDER BY doc_id
""",
)
def m8_media_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.multimodal.media_recall_report with the probed index at
    quant=2048 and the default half-cell tolerance: k·n broadcast truth
    pass (linear for a fixed sample), candidates from
    media_near_dup_pairs(probe_adjacent=True)."""
    from dataclod_spark.operators.multimodal import media_recall_report

    # spread=False: the histogram mapInPandas is faster without the
    # round-robin exchange moving the blobs (measured 1.17 s vs
    # 1.3-3.0 s), and everything downstream reads narrow checkpoints
    d = load(spark, sf_dir, "documents", spread=False)
    media = d.filter(
        (F.octet_length("text") == F.char_length("text"))
        & (F.char_length("text") > 0)
    ).select(
        F.col("doc_id"),
        F.col("text").cast("binary").alias("content"),
    )
    return media_recall_report(
        media,
        F.col("doc_id") % 50 == 0,
        id_col="doc_id",
        content_col="content",
        quant=2048,
        probe_adjacent=True,
    ).orderBy("doc_id")
