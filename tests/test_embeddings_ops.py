"""Embedding operators: numeric semantics vs numpy, plan-shape guards."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dataclod_spark.operators.embeddings import (
    cosine_to_centroid,
    l2_normalize,
    label_centroids,
    scalar_quantize,
)

DIM = 4


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        Row(vec_id=i, label=i % 2, embedding=[float(i + j * 0.5) for j in range(DIM)])
        for i in range(10)
    ]
    return spark.createDataFrame(rows)


def test_l2_normalize_unit_norm(vecs):
    out = vecs.select(l2_normalize(F.col("embedding")).alias("n")).collect()
    for r in out:
        assert abs(math.fsum(x * x for x in r["n"]) - 1.0) < 1e-12


def test_l2_normalize_zero_vector(spark):
    df = spark.createDataFrame([Row(embedding=[0.0, 0.0, 0.0])])
    out = df.select(l2_normalize(F.col("embedding")).alias("n")).collect()
    assert out[0]["n"] == [0.0, 0.0, 0.0]


def test_label_centroids_match_numpy(vecs):
    got = {r["label"]: r for r in label_centroids(vecs, "label", "embedding", DIM).collect()}
    arr = np.array([[float(i + j * 0.5) for j in range(DIM)] for i in range(10)])
    for lbl in (0, 1):
        exp = arr[lbl::2].mean(axis=0)
        assert np.allclose(got[lbl]["centroid"], exp, atol=1e-9)
        assert got[lbl]["n_vectors"] == 5


def test_cosine_to_centroid_match_numpy(vecs):
    got = {r["vec_id"]: r["cos_centroid"] for r in
           cosine_to_centroid(vecs, "label", "embedding", DIM).collect()}
    arr = np.array([[float(i + j * 0.5) for j in range(DIM)] for i in range(10)])
    for lbl in (0, 1):
        c = arr[lbl::2].mean(axis=0)
        for i in range(lbl, 10, 2):
            exp = arr[i] @ c / (np.linalg.norm(arr[i]) * np.linalg.norm(c))
            assert abs(got[i] - exp) < 1e-9


def test_scalar_quantize_roundtrip(vecs):
    out = scalar_quantize(vecs, "embedding", DIM).collect()
    arr = np.array([[float(i + j * 0.5) for j in range(DIM)] for i in range(10)])
    mins, maxs = arr.min(axis=0), arr.max(axis=0)
    scales = (maxs - mins) / 255.0
    for r in out:
        x = np.array(r["embedding"])
        codes = np.array(r["codes"])
        exp_codes = np.clip(np.round((x - mins) / scales), 0, 255)
        assert np.array_equal(codes, exp_codes)
        recon = mins + codes * scales
        assert np.allclose(r["recon"], recon, atol=1e-12)
        assert abs(r["mean_abs_err"] - np.abs(x - recon).mean()) < 1e-12
        # int8 quantization step bounds the error by half a step
        assert r["max_abs_err"] <= scales.max() / 2 + 1e-12


def test_scalar_quantize_constant_dim(spark):
    df = spark.createDataFrame(
        [Row(embedding=[1.0, 5.0]), Row(embedding=[1.0, 7.0])]
    )
    out = scalar_quantize(df, "embedding", 2).collect()
    for r in out:
        assert r["codes"][0] == 0            # constant dim encodes 0
        assert r["recon"][0] == 1.0          # exact reconstruction
    assert {r["codes"][1] for r in out} == {0, 255}


def test_centroid_plan_no_corpus_shuffle_after_agg(vecs):
    """Scale guard: the corpus joins the centroids via BROADCAST — no
    hash-shuffle of the corpus for the join."""
    plan = (
        cosine_to_centroid(vecs, "label", "embedding", DIM)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_quantize_plan_broadcast_stats(spark):
    """The 1-row stats frame broadcasts, and corpus rows never shuffle:
    every hash Exchange sits directly above a partial aggregate, so only
    per-task per-position partials cross the network."""
    for dim in (4, 64):
        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(i + j) for j in range(dim)]) for i in range(10)]
        )
        plan = (
            scalar_quantize(df, "embedding", dim)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "Exchange hashpartitioning" in line:
                child = lines[i + 1]
                assert "HashAggregate(" in child and "partial_" in child, (dim, plan)


def test_kmeans_separates_planted_clusters(spark):
    """Two well-separated planted blobs must end in different clusters
    with tight inertia; membership counts must sum to the corpus."""
    from pyspark.sql import Row

    from dataclod_spark.operators.embeddings import kmeans_clusters

    dim = 4
    rows = []
    for i in range(30):
        base = [10.0, 10.0, 10.0, 10.0] if i % 2 == 0 else [-10.0, -10.0, -10.0, -10.0]
        rows.append(Row(vec_id=i, embedding=[b + 0.01 * (i % 5) for b in base]))
    df = spark.createDataFrame(rows)
    out = kmeans_clusters(df, "embedding", dim, k=2, iters=3).collect()
    assert sum(r["n_members"] for r in out) == 30
    assert len(out) == 2
    assert all(r["inertia"] < 0.01 for r in out)  # blobs are tight


def test_kmeans_deterministic_across_runs(spark):
    from pyspark.sql import Row

    from dataclod_spark.operators.embeddings import kmeans_clusters

    rows = [Row(vec_id=i, embedding=[float((i * 7 + j * 3) % 11) for j in range(4)]) for i in range(40)]
    df = spark.createDataFrame(rows)
    a = [tuple(r) for r in kmeans_clusters(df, "embedding", 4, k=3, iters=2).collect()]
    b = [tuple(r) for r in kmeans_clusters(df, "embedding", 4, k=3, iters=2).collect()]
    assert a == b and len(a) >= 2


def test_dim_stats_matches_numpy(spark):
    """dim_stats vs numpy on a planted matrix, including a collapsed
    (constant) dimension — the health signal the operator exists for."""
    import numpy as np
    from pyspark.sql import Row

    from dataclod_spark.operators.embeddings import dim_stats

    rng = np.random.default_rng(5)
    m = rng.normal(0, 1, size=(60, 4)).astype(np.float32)
    m[:, 2] = 0.25  # collapsed dim
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in row]) for i, row in enumerate(m)],
        "vec_id long, embedding array<float>",
    )
    got = {r.dim: r for r in dim_stats(df, "embedding", 4).collect()}
    md = m.astype(np.float64)
    for d in range(4):
        r = got[d + 1]
        assert r.n == 60
        assert abs(r.mean - md[:, d].mean()) < 1e-7
        assert abs(r.std - md[:, d].std()) < 1e-6
        assert abs(r.dim_min - md[:, d].min()) < 1e-7
        assert abs(r.dim_max - md[:, d].max()) < 1e-7
    assert got[3].std == 0.0  # collapsed dimension reads exactly 0


def test_dim_stats_null_elements_and_ragged_match_oracle(spark):
    """ADVICE r5: the v9 oracle counted NULL elements at valid positions
    and covered ragged tails beyond `dim`.  On a crafted corpus WITH both
    hazards, dim_stats must agree with the FIXED oracle shape (positions
    1..dim, NULL elements skipped) by construction."""
    import duckdb
    import pandas as pd
    from pyspark.sql import Row

    from dataclod_spark.operators.embeddings import dim_stats

    vecs = [
        [1.0, 2.0, 3.0, 4.0],
        [5.0, None, 7.0, 8.0],       # NULL element at a valid position
        [9.0, 10.0, 11.0, 12.0, 99.0, 98.0],  # ragged: longer than dim
        [13.0, 14.0, 15.0],          # ragged: shorter than dim
    ]
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = [
        (r.dim, r.n, r.mean, r.std, r.dim_min, r.dim_max)
        for r in dim_stats(df, "embedding", 4).orderBy("dim").collect()
    ]
    con = duckdb.connect()
    con.register("embeddings", pd.DataFrame({"vec_id": range(4), "embedding": vecs}))
    want = [
        tuple(r)
        for r in con.execute("""
WITH ux AS (
  SELECT u.i AS dim, CAST(e.embedding[u.i] AS DOUBLE) AS x
  FROM (SELECT vec_id, unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings WHERE embedding IS NOT NULL) u
  JOIN embeddings e ON e.vec_id = u.vec_id
  WHERE u.i <= 4 AND e.embedding[u.i] IS NOT NULL
)
SELECT dim, count(*) AS n,
       round(CAST(sum(CAST(x AS DECIMAL(27,10))) AS DOUBLE) / count(*), 8) AS mean,
       round(sqrt(greatest(
         CAST(sum(CAST(x * x AS DECIMAL(27,10))) AS DOUBLE) / count(*)
         - (CAST(sum(CAST(x AS DECIMAL(27,10))) AS DOUBLE) / count(*))
           * (CAST(sum(CAST(x AS DECIMAL(27,10))) AS DOUBLE) / count(*)),
         0.0)), 8) AS std,
       round(min(x), 8) AS dim_min, round(max(x), 8) AS dim_max
FROM ux GROUP BY dim ORDER BY dim
""").fetchall()
    ]
    assert got == want
    # the hazards are actually present: dim 2 skips the NULL element,
    # dim 4 skips the short vector, positions 5-6 are out of scope
    assert got[1][1] == 3 and got[3][1] == 3 and len(got) == 4


def test_wide_paths_null_and_empty_vectors(spark):
    """Row accounting under dirty input: NULL/empty vectors count toward
    n_vectors (centroids divide by the ROW count), and a label whose only
    vector is empty gets an all-NULL centroid."""
    from pyspark.sql import Row

    import dataclod_spark.operators.embeddings as E

    df = spark.createDataFrame(
        [
            Row(vec_id=0, label="a", embedding=[2.0, 4.0]),
            Row(vec_id=1, label="a", embedding=None),
            Row(vec_id=2, label="a", embedding=[4.0, 8.0]),
            Row(vec_id=3, label="b", embedding=[]),
        ],
        "vec_id long, label string, embedding array<double>",
    )
    got = sorted(
        (r.label, r.n_vectors, tuple(r.centroid))
        for r in E.label_centroids(df, "label", "embedding", 2).collect()
    )
    assert got == [
        ("a", 3, (2.0, 4.0)),  # sums / ROW count incl. NULL row
        ("b", 1, (None, None)),
    ]


def test_dim_1024_all_four_operators(spark):
    """The production-dim gate: dim=1024 must run in reasonable time on
    all four operators (an unrolled dim-column aggregate would be ~5k
    expressions — janino territory); results sanity-checked vs numpy."""
    import numpy as np
    from pyspark.sql import Row

    from dataclod_spark.operators.embeddings import (
        dim_stats,
        kmeans_clusters,
        label_centroids,
        scalar_quantize,
    )

    dim = 1024
    rng = np.random.default_rng(3)
    m = rng.normal(0, 1, size=(60, dim)).astype(np.float64)
    df = spark.createDataFrame(
        [
            Row(vec_id=i, label=f"l{i % 2}", embedding=[float(v) for v in row])
            for i, row in enumerate(m)
        ],
        "vec_id long, label string, embedding array<double>",
    )

    ds = {r.dim: r for r in dim_stats(df, "embedding", dim).collect()}
    assert len(ds) == dim and all(ds[d].n == 60 for d in (1, 512, 1024))
    assert abs(ds[1].mean - m[:, 0].mean()) < 1e-7
    assert abs(ds[dim].std - m[:, dim - 1].std()) < 1e-6

    lc = {r.label: r for r in label_centroids(df, "label", "embedding", dim).collect()}
    want = m[::2].mean(axis=0)  # label l0 = even ids
    assert lc["l0"].n_vectors == 30 and len(lc["l0"].centroid) == dim
    assert abs(lc["l0"].centroid[7] - want[7]) < 1e-9

    sq = scalar_quantize(df, "embedding", dim)
    row = sq.filter(F.col("vec_id") == 0).collect()[0]
    assert len(row.codes) == dim and all(0 <= c <= 255 for c in row.codes)
    span = (m.max(axis=0) - m.min(axis=0)).max()
    assert row.max_abs_err <= span / 255.0 * 0.51  # half-step quantization bound

    km = kmeans_clusters(df, "embedding", dim, k=3, iters=2).collect()
    assert sum(r.n_members for r in km) == 60 and len(km) >= 1


def test_matryoshka_energy_matches_numpy(spark):
    """Energy retained per prefix vs numpy; zero vectors excluded."""
    import numpy as np
    from pyspark.sql import Row

    from dataclod_spark.operators.embeddings import matryoshka_energy

    rng = np.random.default_rng(9)
    m = rng.normal(0, 1, size=(50, 8)).astype(np.float64)
    m[:, :4] *= 10  # front-loaded energy: prefix 4 should retain most
    rows = [Row(vec_id=i, embedding=[float(v) for v in r]) for i, r in enumerate(m)]
    rows.append(Row(vec_id=99, embedding=[0.0] * 8))  # zero vector: excluded
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.prefix: r
        for r in matryoshka_energy(df, "embedding", 8, prefixes=(4, 8)).collect()
    }
    full = np.linalg.norm(m, axis=1)
    e4 = np.linalg.norm(m[:, :4], axis=1) / full
    assert got[4].n == 50 and got[8].n == 50
    assert abs(got[4].mean_energy - e4.mean()) < 1e-6
    assert abs(got[4].min_energy - e4.min()) < 1e-6
    assert got[8].mean_energy == 1.0 and got[8].pct_ge_90 == 100.0
    assert abs(got[4].pct_ge_90 - 100.0 * (e4 >= 0.9).mean()) < 1e-9
    assert got[4].mean_energy > 0.9  # front-loaded by construction


def test_product_quantize_planted_subspace_blobs(spark):
    """PQ via pq_fit_spans: two tight blobs per subspace -> codes
    separate them and reconstruction error stays near the blob radius;
    subspaces are coded independently."""
    from pyspark.sql import Row

    from dataclod_spark.operators.embeddings import _argmin_cid, pq_fit_spans

    rows = []
    for i in range(40):
        left = [10.0, 10.0] if i % 2 == 0 else [-10.0, -10.0]
        right = [5.0, -5.0] if i % 3 == 0 else [-5.0, 5.0]
        eps = 0.01 * (i % 5)
        rows.append(Row(vec_id=i, embedding=[v + eps for v in left + right]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    subs = pq_fit_spans(df, "embedding", 4, [(1, 2), (3, 4)], k=2, iters=3)
    out = df.select(
        "vec_id",
        _argmin_cid(F.slice("embedding", 1, 2), subs[0])["cid"].alias("c0"),
        _argmin_cid(F.slice("embedding", 3, 2), subs[1])["cid"].alias("c1"),
        (
            _argmin_cid(F.slice("embedding", 1, 2), subs[0])["dist"]
            + _argmin_cid(F.slice("embedding", 3, 2), subs[1])["dist"]
        ).alias("err"),
    ).collect()
    by_left = {r.vec_id % 2: set() for r in out}
    by_right = {r.vec_id % 3 == 0: set() for r in out}
    for r in out:
        by_left[r.vec_id % 2].add(r.c0)
        by_right[r.vec_id % 3 == 0].add(r.c1)
        assert r.err < 0.02  # tight blobs -> near-exact reconstruction
    assert by_left[0].isdisjoint(by_left[1])      # left blobs got distinct codes
    assert by_right[True].isdisjoint(by_right[False])


def test_pq_fit_spans_bit_identical_to_per_span_kmeans(spark):
    """pq_fit_spans fuses all spans' Lloyd fits into one seed collect +
    one update aggregate per round; the codebooks must be BIT-identical
    to independent single-span fits of each slice (the v11-v13 oracles
    depend on exact doubles), including an overlapping full-width span
    (v13's coarse quantizer) and a span with an empty cluster."""
    import random

    from pyspark.sql import Row

    from dataclod_spark.operators.embeddings import pq_fit_spans

    rng = random.Random(7)
    rows = [
        Row(vec_id=i, embedding=[rng.uniform(-3, 3) for _ in range(8)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    spans = [(1, 8), (1, 4), (5, 8)]
    for iters in (1, 2, 3):
        fused = pq_fit_spans(df, "embedding", 8, spans, k=3, iters=iters)
        for (lo, hi), book in zip(spans, fused):
            width = hi - lo + 1
            sliced = df.select(
                "vec_id",
                F.transform(
                    F.slice("embedding", lo, width), lambda x: x.cast("double")
                ).alias("__sub"),
            )
            ref = pq_fit_spans(sliced, "__sub", width, [(1, width)], k=3, iters=iters)[0]
            assert book == ref, (iters, lo, hi)


# Lloyd codebooks (dim 4, k 3, iters 3) recorded from the earlier
# dedicated k-means trainer (an unrolled dim-column update at this width;
# exact argmin, and the map-literal routed assignment), so the single
# trainer stays pinned to the exact doubles it produced
_GOLDEN_EXACT = [
    (0, [2.8945, 3.11025, 0.95125, -1.1735]),
    (1, [1.057, -0.9584166666666666, 0.5415833333333333, -1.0205416666666667]),
    (2, [-1.6784500000000002, 1.1804999999999999, -1.23735, 0.8554999999999999]),
]
_GOLDEN_ROUTED = [
    (0, [2.3705454545454545, 0.17663636363636365, 1.641727272727273, -2.2460909090909094]),
    (1, [-0.02855, -0.9704499999999999, -0.24220000000000003, -0.7978500000000001]),
    (2, [-1.3016470588235294, 1.795, -1.2446470588235294, 1.6815882352941176]),
]


def _golden_frame(spark):
    import random

    rng = random.Random(23)
    rows = [
        Row(vec_id=i, embedding=[round(rng.uniform(-4, 4), 3) for _ in range(4)])
        for i in range(48)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.mark.parametrize("routed", [False, True], ids=["exact", "routed"])
def test_lloyd_golden_codebooks(spark, routed):
    from dataclod_spark.operators.embeddings import pq_fit_spans

    book = pq_fit_spans(
        _golden_frame(spark), "embedding", 4, [(1, 4)], k=3, iters=3, routed=routed
    )[0]
    assert book == (_GOLDEN_ROUTED if routed else _GOLDEN_EXACT)


def test_pq_fit_spans_drops_null_element_rows(spark):
    """_kmeans_base's gate holds in the multi-span trainer: a lowest-id
    row with a NULL element must neither crash the seed collect nor skew
    any span — the fit equals the fit without that row."""
    df = _golden_frame(spark)
    dirty = df.union(
        spark.createDataFrame(
            [Row(vec_id=-1, embedding=[1.0, None, 2.0, 3.0])],
            "vec_id long, embedding array<double>",
        )
    )
    from dataclod_spark.operators.embeddings import pq_fit_spans

    spans = [(1, 4), (1, 2), (3, 4)]
    got = pq_fit_spans(dirty, "embedding", 4, spans, k=3, iters=3)
    assert got == pq_fit_spans(df, "embedding", 4, spans, k=3, iters=3)


def test_routed_argmin_single_group_is_exact(spark):
    """n_groups=1 routes everything into one group whose inner argmin is
    the full exact argmin — bit-identical struct output."""
    import random

    from pyspark.sql import Row

    from dataclod_spark.operators.embeddings import (
        _argmin_cid,
        routed_argmin_cid,
    )

    rnd = random.Random(3)
    cents = [(i, [rnd.gauss(0, 1) for _ in range(8)]) for i in range(6)]
    df = spark.createDataFrame(
        [Row(v=[rnd.gauss(0, 1) for _ in range(8)]) for _ in range(50)],
        "v array<double>",
    )
    got = df.select(
        _argmin_cid(F.col("v"), cents).getField("cid").alias("e"),
        routed_argmin_cid(F.col("v"), cents, n_groups=1).getField("cid").alias("r"),
    ).collect()
    assert all(r.e == r.r for r in got)


def test_routed_argmin_high_agreement_and_determinism(spark):
    """√k routing: assignments agree with exact argmin on the vast
    majority of random vectors (IVF's boundary-only error), and the
    routing is deterministic across invocations."""
    import random

    from pyspark.sql import Row

    from dataclod_spark.operators.embeddings import (
        _argmin_cid,
        route_centroids,
        routed_argmin_cid,
    )

    rnd = random.Random(11)
    # centroids with real cluster structure (the actual regime: Lloyd
    # centroids are separated, and data sits near its own centroid —
    # structureless gaussian centroids would be IVF's pathological case)
    centers = [[rnd.gauss(0, 1) * 6 for _ in range(8)] for _ in range(32)]
    cents = [(i, c) for i, c in enumerate(centers)]
    reps1, groups1 = route_centroids(cents)
    reps2, groups2 = route_centroids(cents)
    assert reps1 == reps2 and groups1 == groups2  # deterministic
    assert len(reps1) == 6  # ceil(sqrt(32))
    assert sum(len(m) for m in groups1.values()) == 32  # partition

    rows = []
    for _ in range(400):
        c = centers[rnd.randrange(32)]
        rows.append(Row(v=[x + rnd.gauss(0, 0.5) for x in c]))
    df = spark.createDataFrame(rows, "v array<double>")
    got = df.select(
        _argmin_cid(F.col("v"), cents).getField("cid").alias("e"),
        routed_argmin_cid(F.col("v"), cents).getField("cid").alias("r"),
    ).collect()
    agree = sum(1 for r in got if r.e == r.r) / len(got)
    assert agree >= 0.95, agree


def test_semantic_dedup_routed_mode(spark):
    """assign='routed' still collapses a planted near-dup pair (identical
    inputs route identically) and labels every vector; bad mode raises."""
    import random

    import pytest
    from pyspark.sql import Row

    from dataclod_spark.operators.dedup import semantic_dedup

    rnd = random.Random(5)
    rows = [
        Row(vec_id=i, embedding=[rnd.gauss(0, 1) for _ in range(8)])
        for i in range(60)
    ]
    rows.append(Row(vec_id=1000, embedding=list(rows[7].embedding)))  # twin of 7
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: r
        for r in semantic_dedup(
            df, dim=8, k=16, iters=2, threshold=0.99, assign="routed"
        ).collect()
    }
    assert len(out) == 61
    assert out[7].component == out[1000].component == 7
    assert out[7].is_kept and not out[1000].is_kept

    with pytest.raises(ValueError, match="exact|routed"):
        semantic_dedup(df, dim=8, k=4, assign="nearest")
