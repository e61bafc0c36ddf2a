"""Semantic tests for the training-data pipeline operators: planted
near-duplicates must actually be found (oracle parity alone only proves the
two engines agree)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T


def _docs(spark, rows):
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("text", T.StringType(), False),
        ]
    )
    return spark.createDataFrame(rows, schema)


BASE = "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill"
NEAR = "the quick brown fox jumps over the lazy dog while the cat watches from the warm window sill"
OTHER = "completely different content about distributed query engines and columnar execution formats"


def test_exact_dedup_keeps_lowest_id(spark):
    from dataclod_spark.operators.dedup import exact_dedup

    df = _docs(spark, [(1, BASE), (2, "  THE quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill "), (3, OTHER)])
    # doc 2 normalizes to doc 1's text → dropped
    kept = sorted(r.doc_id for r in exact_dedup(df).collect())
    assert kept == [1, 3]


def test_lsh_finds_planted_near_duplicate(spark):
    from dataclod_spark.operators.dedup import lsh_candidate_pairs

    df = _docs(spark, [(1, BASE), (2, NEAR), (3, OTHER)])
    pairs = lsh_candidate_pairs(df, jaccard_threshold=0.5).collect()
    assert [(p.id_1, p.id_2) for p in pairs] == [(1, 2)]
    assert pairs[0].jaccard > 0.8


def test_simhash64_hamming_close_for_near_dups(spark):
    from dataclod_spark.operators.dedup import simhash64

    df = _docs(spark, [(1, BASE), (2, NEAR), (3, OTHER)])
    out = {r.doc_id: r.sh for r in df.select("doc_id", simhash64(F.col("text")).alias("sh")).collect()}

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(out[1], out[2]) <= 16
    assert hamming(out[1], out[3]) > 20


def test_knn_identical_vector_is_top1(spark):
    from dataclod_spark.operators.similarity import knn_bruteforce

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("embedding", T.ArrayType(T.FloatType()), False),
        ]
    )
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.001, 0.0, 0.0]),  # ~identical to 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, schema)
    out = knn_bruteforce(df, df.filter(F.col("vec_id") == 0), k=2).collect()
    assert out[0].neighbor_id == 1 and out[0].rank == 1
    assert out[0].cosine_sim > 0.999


def test_knn_lsh_bucket_recall(spark):
    from dataclod_spark.operators.similarity import hyperplane_weights, knn_lsh

    import random

    rnd = random.Random(7)
    base = [rnd.uniform(-1, 1) for _ in range(64)]
    near = [v + 0.01 for v in base]
    rows = [(0, base), (1, near)] + [
        (i, [rnd.uniform(-1, 1) for _ in range(64)]) for i in range(2, 30)
    ]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("embedding", T.ArrayType(T.FloatType()), False),
        ]
    )
    df = spark.createDataFrame([(i, [float(x) for x in v]) for i, v in rows], schema)
    out = knn_lsh(df, df.filter(F.col("vec_id") == 0), k=3, planes=hyperplane_weights())
    top = out.filter(F.col("rank") == 1).collect()
    # the near-identical vector lands in the same sign bucket → recalled first
    assert top and top[0].neighbor_id == 1


def test_knn_multiprobe_recall_dominates_single_table(spark):
    """Multi-table + hamming-1 probing must recall at least as much of the
    exact top-k as the single-bucket LSH path, on real driver embeddings."""
    import pyspark.sql.functions as F

    from dataclod_spark.operators.similarity import knn_ann, knn_bruteforce, knn_lsh
    from dataclod_spark.registry import load

    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.neighbor_id) for r in knn_bruteforce(e, q, k=3).collect()
    }
    single = {(r.query_id, r.neighbor_id) for r in knn_lsh(e, q, k=3).collect()}
    multi = {
        (r.query_id, r.neighbor_id)
        for r in knn_ann(e, q, k=3, n_tables=2, probe_hamming=1).collect()
    }
    recall_single = len(single & exact) / len(exact)
    recall_multi = len(multi & exact) / len(exact)
    assert recall_multi >= recall_single
    # uniform random embeddings are the worst case for sign-LSH (near-
    # orthogonal vectors); the invariant is the recall ordering above plus
    # a floor showing the probes genuinely widen the candidate set
    assert recall_multi >= 0.3
    assert len(multi) >= len(single)


def test_connected_components_clusters(spark):
    """Min-label propagation: chain + triangle + isolated pair resolve to
    their component minima in few rounds."""
    from dataclod_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),  # chain 1-2-3-4
         (10, 11), (11, 12), (10, 12),  # triangle
         (20, 21)],  # pair
        "id_1 long, id_2 long",
    )
    got = {(r.id, r.component) for r in connected_components(edges).collect()}
    want = {(1, 1), (2, 1), (3, 1), (4, 1),
            (10, 10), (11, 10), (12, 10),
            (20, 20), (21, 20)}
    assert got == want


def test_langid_ngram_known_sentences(spark):
    from dataclod_spark.functions.text import langid_ngram

    rows = [
        ("the cat and the dog went to the park of things",),
        ("der hund und die katze sind in der stadt und das haus",),
        ("los gatos y los perros de la casa es de ellos",),
        ("le chat et le chien est dans la maison les jours",),
    ]
    df = spark.createDataFrame(rows, "text string")
    got = [r[0] for r in df.select(langid_ngram(F.col("text"))).collect()]
    assert got == ["en", "de", "es", "fr"]


def test_winnow_guarantee_property(spark):
    """Winnowing guarantee: two docs sharing a token run of length
    >= k + w - 1 (= 6 here) share at least one fingerprint; disjoint-token
    docs share none."""
    from pyspark.sql import Row

    from dataclod_spark.functions.text import winnow_fingerprint_rows

    shared = "alpha beta gamma delta epsilon zeta"  # 6-token shared run
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"one two {shared} three four"),
            Row(doc_id=2, text=f"five six seven {shared} eight"),
            Row(doc_id=3, text="completely different words everywhere here now"),
        ]
    )
    out: dict[int, set] = {}
    for r in winnow_fingerprint_rows(df).collect():
        out.setdefault(r["id"], set()).add(r["fp"])
    assert out[1] & out[2], "shared 6-token run must share a fingerprint"
    assert not (out[1] & out[3]) and not (out[2] & out[3])


def test_winnow_pairs_short_and_empty_docs(spark):
    """Docs below the k-gram/window thresholds don't crash or pair."""
    from pyspark.sql import Row

    from dataclod_spark.operators.dedup import winnow_pairs

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=""),
            Row(doc_id=2, text="one two"),           # < k tokens
            Row(doc_id=3, text="one two three"),     # 1 k-gram, < w windows
            Row(doc_id=4, text="one two three"),     # identical → global-min pair
        ]
    )
    rows = winnow_pairs(df, min_shared=1).collect()
    assert [(r["id_1"], r["id_2"], r["n_shared"]) for r in rows] == [(3, 4, 1)]


def test_lsh_xxhash64_production_variant(spark):
    """The xxhash64 hash path (JVM codegen, the 100 TB variant) finds the
    same planted near-duplicates as the oracle-portable md5 path."""
    from pyspark.sql import Row

    from dataclod_spark.operators.dedup import lsh_candidate_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base + "!"),                       # near-dup of 1
        Row(doc_id=3, text="completely different content with other words"),
        Row(doc_id=4, text="completely different content with other words!!"),  # near-dup of 3
        Row(doc_id=5, text="unrelated text about spark catalyst optimizers"),
    ]
    df = spark.createDataFrame(docs)
    for hash_fn in ("md5", "xxhash64"):
        pairs = {
            (r["id_1"], r["id_2"])
            for r in lsh_candidate_pairs(df, jaccard_threshold=0.5, hash_fn=hash_fn).collect()
        }
        assert (1, 2) in pairs and (3, 4) in pairs, hash_fn
        assert all(p in {(1, 2), (3, 4)} for p in pairs), hash_fn


def test_scd2_invariants(spark):
    """SCD2 output: exactly one current row per key, contiguous version
    chains (valid_to == next valid_from), no overlaps."""
    from pyspark.sql import Row

    from dataclod_spark.operators.scd import scd2_apply

    base = spark.createDataFrame(
        [Row(k=1, seg="A", ver=0), Row(k=2, seg="B", ver=0), Row(k=3, seg="C", ver=0)]
    )
    changes = spark.createDataFrame(
        [Row(k=1, seg="A2", ver=1), Row(k=1, seg="A3", ver=2), Row(k=3, seg="C2", ver=5)]
    )
    rows = scd2_apply(base, changes, key="k", version="ver").collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["k"], []).append(r)
    assert sum(1 for r in rows if r["is_current"]) == 3  # one per key
    # k=1 chains 0 -> 1 -> 2 with each row closed at the next stamp
    k1 = sorted(by_key[1], key=lambda r: r["valid_from"])
    assert [(r["valid_from"], r["valid_to"]) for r in k1] == [(0, 1), (1, 2), (2, None)]
    assert [r["seg"] for r in k1] == ["A", "A2", "A3"]
    # untouched key keeps one open row
    assert by_key[2][0]["valid_to"] is None and by_key[2][0]["seg"] == "B"


def test_scd2_schema_mismatch_raises(spark):
    from pyspark.sql import Row

    import pytest as _pytest

    from dataclod_spark.operators.scd import scd2_apply

    base = spark.createDataFrame([Row(k=1, seg="A", ver=0)])
    bad = spark.createDataFrame([Row(k=1, other="X", ver=1)])
    with _pytest.raises(ValueError):
        scd2_apply(base, bad, key="k", version="ver")


def test_winnow_matches_python_reference(spark):
    """Third-implementation differential: the zip-with-shifted-slices
    winnowing rows vs a straightforward pure-Python winnow over the
    same token-value convention (md5-derived 32-bit values, base-31
    polynomial k-grams, window minima, distinct)."""
    import hashlib

    from pyspark.sql import Row

    from dataclod_spark.functions.text import winnow_fingerprint_rows

    def py_winnow(text: str, k: int = 3, w: int = 4):
        toks = " ".join(text.lower().split()).split(" ") if text.strip() else []
        vals = [int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in toks]
        hashes = [
            sum(v * 31 ** (k - 1 - j) for j, v in enumerate(vals[i : i + k]))
            for i in range(len(vals) - k + 1)
        ]
        if not hashes:
            return []
        if len(hashes) < w:
            return [min(hashes)]
        seen, out = set(), []
        for i in range(len(hashes) - w + 1):
            m = min(hashes[i : i + w])
            if m not in seen:
                seen.add(m)
                out.append(m)
        return out

    texts = [
        "the quick brown fox jumps over the lazy dog again today",
        "one two three",           # single k-gram
        "one two three four five", # fewer hashes than the window
        "",                         # empty
        "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3,
    ]
    df = spark.createDataFrame([Row(i=i, text=t) for i, t in enumerate(texts)])
    got: dict[int, list] = {}
    for r in winnow_fingerprint_rows(df, id_col="i").collect():
        got.setdefault(r["id"], []).append(r["fp"])
    for i, t in enumerate(texts):
        assert sorted(got.get(i, [])) == sorted(set(py_winnow(t))), f"text #{i}"


def test_x11_x15_single_corpus_scan(spark):
    """VERDICT r3 #3/#4: x11 (TF-IDF) and x15 (PMI lift) must read the
    documents corpus exactly once — the shared tokenized intermediate is
    checkpointed, so the final plan contains no parquet FileScan at all
    (the one scan happened inside the checkpoint job) and no driver-side
    count() action precedes the query."""
    from conftest import SF_SMOKE

    from dataclod_spark.registry import load_all_queries

    reg = load_all_queries()
    for name in ("x11_tfidf_top_terms", "x15_pmi_cooccurrence"):
        df = reg[name].fn(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan") == 0, f"{name}: corpus re-scanned\n{plan[:2000]}"
        assert "Scan ExistingRDD" in plan, name


def test_x15_apriori_prune_bounds_candidates(spark):
    """The frequent-token prefilter must shrink the self-join input: every
    token entering the pair join has document frequency >= min_support, so
    the candidate-pair space is bounded by the frequent vocabulary, and the
    pruned result equals the unpruned one (n_both <= min(df) makes the
    prune semantically free)."""
    import re

    from conftest import SF_SMOKE

    from dataclod_spark.registry import load_all_queries

    reg = load_all_queries()
    df = reg["x15_pmi_cooccurrence"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the prune joins the index against the df >= 50 frequent set before
    # the doc_id self-join: the filter must appear in the plan
    assert re.search(r"n_docs#\d+L?\s*>=\s*50", plan), plan[:2000]

    # unpruned reference (the r3 formulation) on a small planted corpus
    from pyspark.sql import Row

    from dataclod_spark.functions import text as TX

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=("alpha beta " if i % 2 == 0 else "alpha gamma ") + f"unique{i}")
         for i in range(200)]
    )
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(TX.tokens(F.col("text")))).alias("tok")
    ).localCheckpoint()
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n_docs"))
    freq = dfreq.filter(F.col("n_docs") >= 50).select("tok")
    ftoks = toks.join(F.broadcast(freq), "tok")
    a = ftoks.select("doc_id", F.col("tok").alias("tok_1"))
    b = ftoks.select(F.col("doc_id").alias("doc_id_b"), F.col("tok").alias("tok_2"))
    pruned = (
        a.join(b, (a["doc_id"] == b["doc_id_b"]) & (F.col("tok_1") < F.col("tok_2")))
        .groupBy("tok_1", "tok_2").agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 50)
    )
    ua = toks.select("doc_id", F.col("tok").alias("tok_1"))
    ub = toks.select(F.col("doc_id").alias("doc_id_b"), F.col("tok").alias("tok_2"))
    unpruned = (
        ua.join(ub, (ua["doc_id"] == ub["doc_id_b"]) & (F.col("tok_1") < F.col("tok_2")))
        .groupBy("tok_1", "tok_2").agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 50)
    )
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, unpruned.collect()))
    # and the prune genuinely removed candidates (unique{i} tokens)
    assert ftoks.count() < toks.count()


def test_contamination_flags_planted_benchmark_copy(spark):
    """A training doc that copies a benchmark doc must be flagged at ~1.0
    contamination; unrelated docs must not be flagged."""
    from dataclod_spark.operators.dedup import contamination_check

    bench_text = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (100, bench_text),                           # benchmark (pred: id >= 100)
        (1, bench_text),                             # verbatim copy → flagged 1.0
        (2, "totally unrelated words about columnar engines and vectorized execution"),
        (3, bench_text + " with a tiny suffix appended"),  # near-copy → high rate
    ]
    df = _docs(spark, rows)
    out = {
        r["doc_id"]: r
        for r in contamination_check(
            df, F.col("doc_id") >= 100, n=3, threshold=0.5
        ).collect()
    }
    assert out[1]["contamination"] == 1.0
    assert 2 not in out
    assert out[3]["contamination"] > 0.7  # 12 of 17 grams shared
    assert 100 not in out  # benchmark rows are never self-flagged


def test_contamination_broadcast_guard_fallback(spark, caplog):
    """When benchmark_pred selects more distinct grams than
    broadcast_gram_limit, the operator must fall back to a shuffled join
    (logging why) and still produce the identical result — the guard
    keeps a mis-scoped 'benchmark' from being forced through the driver
    as a broadcast."""
    import logging

    from dataclod_spark.operators.dedup import contamination_check

    bench_text = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (100, bench_text),
        (1, bench_text),
        (2, "totally unrelated words about columnar engines and vectorized execution"),
    ]
    df = _docs(spark, rows)
    pred = F.col("doc_id") >= 100
    broadcasted = sorted(
        map(tuple, contamination_check(df, pred, n=3, threshold=0.5).collect())
    )
    with caplog.at_level(logging.WARNING, logger="dataclod_spark.operators.dedup"):
        shuffled = sorted(
            map(
                tuple,
                contamination_check(
                    df, pred, n=3, threshold=0.5, broadcast_gram_limit=0
                ).collect(),
            )
        )
    assert shuffled == broadcasted
    assert any("broadcast_gram_limit" in r.message for r in caplog.records)


def test_cdc_apply_changes_semantics(spark):
    """Delete drops, update replaces, insert adds, untouched passes
    through; with seq_col the highest sequence number wins per key."""
    from pyspark.sql import Row

    from dataclod_spark.operators.cdc import apply_changes

    base = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v="c")]
    )
    changes = spark.createDataFrame(
        [
            Row(k=2, v="b2", op="U", seq=1),
            Row(k=2, v="b3", op="U", seq=2),   # later change wins
            Row(k=3, v=None, op="D", seq=1),
            Row(k=4, v="d", op="I", seq=1),
            Row(k=5, v="e5", op="I", seq=1),
            Row(k=5, v=None, op="D", seq=2),   # inserted then deleted → absent
        ]
    )
    got = {
        r["k"]: r["v"]
        for r in apply_changes(base, changes, "k", "op", seq_col="seq").collect()
    }
    assert got == {1: "a", 2: "b3", 4: "d"}


def test_cdc_rejects_unknown_op(spark):
    """An unrecognized op code must raise, not silently delete the key."""
    import pytest as _pytest
    from pyspark.sql import Row

    from dataclod_spark.operators.cdc import apply_changes

    base = spark.createDataFrame([Row(k=1, v="a")])
    changes = spark.createDataFrame([Row(k=1, v="x", op="Z")])
    with _pytest.raises(Exception, match="unknown CDC op"):
        apply_changes(base, changes, "k", "op").collect()


def test_ngram_short_and_empty_docs_no_crash(spark):
    """Docs with fewer than n tokens yield EMPTY gram sets (sequence(1,0)
    is the descending [1,0] in Spark — regression for the short-doc crash
    in every word-n-gram consumer: d6, d11, x16)."""
    from dataclod_spark.operators.dedup import contamination_check, word_ngrams

    df = _docs(spark, [(1, ""), (2, "hi"), (3, "hi there"), (4, "one two three four")])
    got = {r["doc_id"]: r["g"] for r in df.select(
        "doc_id", word_ngrams(F.col("text"), 3).alias("g")).collect()}
    assert got[1] == [] and got[2] == [] and got[3] == []
    assert got[4] == ["one two three", "two three four"]

    # end-to-end: a corpus containing short docs must not crash x16's path
    out = contamination_check(df, F.col("doc_id") >= 4, n=3, threshold=0.5)
    assert out.count() == 0  # no training doc shares grams with the benchmark


def test_connected_components_deep_chain(spark):
    """A long path graph has diameter >> max_iter: min-label propagation
    alone would silently return unconverged labels, but the adaptive
    driver union-find (edge count under the limit) solves it exactly."""
    from dataclod_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(500)], "id_1 long, id_2 long"
    )
    out = connected_components(chain).collect()
    assert len(out) == 501
    assert all(r["component"] == 0 for r in out)


def test_connected_components_paths_agree(spark):
    """Driver union-find and the distributed loop produce identical
    labelings on a mixed graph."""
    from dataclod_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21), (7, 7)],
        "id_1 long, id_2 long",
    )
    a = sorted(map(tuple, connected_components(edges).collect()))
    b = sorted(map(tuple, connected_components(edges, driver_edge_limit=0).collect()))
    assert a == b


def test_connected_components_null_endpoints(spark):
    """Null edge endpoints never join (equi-join semantics) and both
    execution paths agree on them."""
    from dataclod_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (None, 3), (4, None)], "id_1 long, id_2 long"
    )
    a = sorted(map(tuple, connected_components(edges).collect()))
    b = sorted(map(tuple, connected_components(edges, driver_edge_limit=0).collect()))
    assert a == b == [(1, 1), (2, 1), (3, 3), (4, 4)]


def test_connected_components_random_graphs_match_union_find(spark):
    """Property check: on random graphs the distributed large-star/
    small-star path produces exactly the driver union-find labeling
    (the exact oracle), within the O(log n) round budget."""
    import random

    from dataclod_spark.operators.dedup import connected_components

    rng = random.Random(0xC0C0)
    for trial in range(4):
        n = rng.choice([30, 120, 400])
        m = rng.randint(n // 4, 2 * n)
        # node ids sparse + shuffled so label-min != index-min artifacts show
        ids = rng.sample(range(1, 10_000_000), n)
        edges = [
            (ids[rng.randrange(n)], ids[rng.randrange(n)]) for _ in range(m)
        ]
        df = spark.createDataFrame(edges, "id_1 long, id_2 long")
        stats: dict = {}
        got = sorted(
            map(
                tuple,
                connected_components(
                    df, driver_edge_limit=0, stats=stats
                ).collect(),
            )
        )
        want = sorted(map(tuple, connected_components(df).collect()))
        assert got == want, f"trial {trial} mismatch"
        assert stats["path"] == "distributed"
        # O(log n) bound with slack for the +1 confirmation round
        assert stats["rounds"] <= 2 * (n.bit_length() + 2), stats


def test_connected_components_path_graph_10k_olog_rounds(spark):
    """The min-label worst case: a 10k-node path graph (diameter 10k).
    The large-star/small-star distributed path must solve it exactly in
    O(log n) LS+SS rounds — not O(diameter) — and match the driver
    union-find labeling."""
    from dataclod_spark.operators.dedup import connected_components

    n = 10_000
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_1 long, id_2 long"
    ).coalesce(4)
    stats: dict = {}
    out = connected_components(
        chain, driver_edge_limit=0, max_iter=40, stats=stats
    ).collect()
    assert stats["path"] == "distributed"
    # log2(10_000) ~ 13.3; the alternating algorithm needs ~log n rounds
    # plus the final no-change confirmation round
    assert stats["rounds"] <= 20, stats
    assert len(out) == n
    assert all(r["component"] == 0 for r in out)


def test_connected_components_collect_fallback(spark, monkeypatch):
    """The pre-toArrow driver path (collect + manual Arrow build) must
    produce the same labeling as the main path."""
    from pyspark.sql import DataFrame

    from dataclod_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (None, 4), (5, None), (10, 11)], "id_1 long, id_2 long"
    )
    want = sorted(map(tuple, connected_components(edges).collect()))
    monkeypatch.delattr(DataFrame, "toArrow")
    got = sorted(map(tuple, connected_components(edges).collect()))
    assert got == want == [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (10, 10), (11, 10)]


def test_incremental_dedup_labels(spark):
    """Planted corpus: an exact dup, a near dup, and fresh content in the
    new batch against the old snapshot — asymmetric (new-new dups are NOT
    labeled) and exact takes precedence over near_dup."""
    from pyspark.sql import Row

    from dataclod_spark.operators.dedup import incremental_dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    old = spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text="completely different snapshot content here")]
    )
    new = spark.createDataFrame(
        [
            Row(doc_id=10, text=base),                       # exact copy of old 1
            Row(doc_id=11, text=base + " extra tail"),       # near dup of old 1
            Row(doc_id=12, text="entirely novel text with no overlap whatsoever"),
            Row(doc_id=13, text="entirely novel text with no overlap whatsoever"),  # dup of 12 — WITHIN new: kept
        ]
    )
    out = {
        r.doc_id: r.drop_reason
        for r in incremental_dedup(new, old, jaccard_threshold=0.5).collect()
    }
    assert out == {10: "exact", 11: "near_dup", 12: None, 13: None}


def test_incremental_dedup_index_reuse_matches_adhoc(spark):
    """A prebuilt snapshot index (the streaming path: built once, reused
    per micro-batch) labels identically to the ad hoc old= path."""
    from pyspark.sql import Row

    from dataclod_spark.operators.dedup import build_dedup_index, incremental_dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    old = spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text="completely different snapshot content here")]
    )
    new = spark.createDataFrame(
        [
            Row(doc_id=10, text=base),
            Row(doc_id=11, text=base + " extra tail"),
            Row(doc_id=12, text="entirely novel text with no overlap whatsoever"),
        ]
    )
    idx = build_dedup_index(old)
    via_index = {
        r.doc_id: r.drop_reason
        for r in incremental_dedup(new, index=idx, jaccard_threshold=0.5).collect()
    }
    adhoc = {
        r.doc_id: r.drop_reason
        for r in incremental_dedup(new, old, jaccard_threshold=0.5).collect()
    }
    assert via_index == adhoc == {10: "exact", 11: "near_dup", 12: None}


def test_incremental_dedup_argument_validation(spark):
    """ADVICE r5: zero bands crashed with AttributeError deep in the band
    loop, and index+old (or index + conflicting LSH params) silently
    ignored the explicit arguments."""
    import pytest
    from pyspark.sql import Row

    from dataclod_spark.operators.dedup import build_dedup_index, incremental_dedup

    old = spark.createDataFrame([Row(doc_id=1, text="snapshot doc")])
    new = spark.createDataFrame([Row(doc_id=10, text="delta doc")])

    with pytest.raises(ValueError, match="0 bands"):
        incremental_dedup(new, old, k=4, rows_per_band=8)
    with pytest.raises(ValueError, match="0 bands"):
        build_dedup_index(old, rows_per_band=100)

    idx = build_dedup_index(old)
    with pytest.raises(ValueError, match="not both"):
        incremental_dedup(new, old, index=idx)
    with pytest.raises(ValueError, match="conflicts with the prebuilt index"):
        incremental_dedup(new, index=idx, rows_per_band=4)
    # explicitly passing the index's own values is fine
    out = incremental_dedup(
        new, index=idx, k=idx["k"], rows_per_band=idx["rows_per_band"]
    )
    assert out.count() == 1


def test_token_budget_sample_greedy_fill(spark):
    """Greedy fill: boundary doc included, a first doc alone above budget
    still kept (no starved stratum), unspecified strata contribute
    nothing, 0-token docs inside the window survive."""
    from pyspark.sql import Row

    from dataclod_spark.operators.sampling import row_hash, token_budget_sample

    rows = [
        Row(doc_id=i, lang=lang, tok=tok)
        for i, (lang, tok) in enumerate(
            [("a", 40), ("a", 40), ("a", 40), ("a", 0),
             ("b", 500), ("b", 10),
             ("c", 5)]
        )
    ]
    df = spark.createDataFrame(rows)
    out = token_budget_sample(
        df, key="doc_id", stratum="lang", token_col=F.col("tok"),
        budgets={"a": 100, "b": 100},
    )
    got = {r.doc_id for r in out.collect()}
    # reproduce the deterministic order python-side
    import collections

    order = collections.defaultdict(list)
    for r in rows:
        h = (r.doc_id * 2654435761) % 4294967296
        order[r.lang].append((h, r.doc_id, r.tok))
    want = set()
    for lang, budget in (("a", 100), ("b", 100)):
        before = 0
        for _, doc_id, tok in sorted(order[lang]):
            if before < budget:
                want.add(doc_id)
            before += tok
    assert got == want
    # every budgeted stratum contributes ≥1 doc even when doc 4 (500 tok)
    # leads stratum b's order; stratum c (unspecified) contributes none
    langs = {r.lang for r in out.collect()}
    assert "c" not in langs and {"a", "b"} <= langs


def test_incremental_dedup_null_text_kept(spark):
    """Null-text rows: md5(NULL) is NULL, null fingerprints/bands never
    equi-join — a null-text new doc is kept, a null-text old doc matches
    nothing, and nothing crashes."""
    from pyspark.sql import Row

    from dataclod_spark.operators.dedup import incremental_dedup

    old = spark.createDataFrame(
        [Row(doc_id=1, text="snapshot content here"), Row(doc_id=2, text=None)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [Row(doc_id=10, text=None), Row(doc_id=11, text="snapshot content here")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.drop_reason for r in incremental_dedup(new, old).collect()}
    assert out == {10: None, 11: "exact"}


def test_semantic_dedup_planted_blobs(spark):
    """SemDeDup semantics at the production threshold (0.95): three
    well-separated blobs -> distinct cells; near-identical vectors within
    a blob collapse to one kept representative (lowest id); distinct
    directions within a cell survive; malformed vectors are dropped."""
    import math

    from pyspark.sql import Row

    from dataclod_spark.operators.dedup import semantic_dedup

    def v(base, eps):
        return [b + eps for b in base]

    rows = [
        # blob A: 4 near-identical copies (ids 0-3)
        Row(vec_id=0, embedding=v([10.0, 0.0, 0.0, 0.0], 0.00)),
        Row(vec_id=1, embedding=v([10.0, 0.0, 0.0, 0.0], 0.01)),
        Row(vec_id=2, embedding=v([10.0, 0.0, 0.0, 0.0], 0.02)),
        Row(vec_id=3, embedding=v([10.0, 0.0, 0.0, 0.0], 0.03)),
        # blob B: 2 near-dups + 1 orthogonal direction (ids 10-12)
        Row(vec_id=10, embedding=[0.0, 10.0, 0.0, 0.0]),
        Row(vec_id=11, embedding=[0.0, 10.0, 0.1, 0.0]),
        Row(vec_id=12, embedding=[0.0, 0.2, 0.0, 10.0]),
        # blob C: singleton (id 20)
        Row(vec_id=20, embedding=[0.0, 0.0, -10.0, 0.0]),
        # malformed: dropped before clustering
        Row(vec_id=99, embedding=None),
        Row(vec_id=98, embedding=[1.0, 2.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in semantic_dedup(
        df, dim=4, k=3, iters=3, threshold=0.95
    ).collect()}
    assert set(out) == {0, 1, 2, 3, 10, 11, 12, 20}  # malformed dropped
    # blob A collapses to one component with rep 0
    assert {out[i].component for i in (0, 1, 2, 3)} == {0}
    assert [out[i].is_kept for i in (0, 1, 2, 3)] == [True, False, False, False]
    # blob B: 10/11 merge, 12 survives in the same-or-other cell
    assert out[11].component == 10 and not out[11].is_kept
    assert out[12].is_kept and out[12].component == 12
    assert out[20].is_kept
    # kept = one per component
    comps = {}
    for r in out.values():
        comps.setdefault(r.component, []).append(r)
    for comp, members in comps.items():
        assert sum(m.is_kept for m in members) == 1
        assert min(m.vec_id for m in members) == comp


def test_semantic_dedup_transitive_chain(spark):
    """A chain v1~v2~v3 where cos(v1,v3) < tau must still collapse to ONE
    component (components, not per-pair dropping — the paper's grouping)."""
    import math

    from pyspark.sql import Row

    from dataclod_spark.operators.dedup import semantic_dedup

    def ray(deg):
        a = math.radians(deg)
        return [math.cos(a), math.sin(a), 0.0, 0.0]

    rows = [Row(vec_id=i, embedding=ray(16 * i)) for i in range(3)]
    # cos(16°)=0.961 >= 0.95, cos(32°)=0.848 < 0.95
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in semantic_dedup(
        df, dim=4, k=1, iters=1, threshold=0.95
    ).collect()}
    assert {out[i].component for i in range(3)} == {0}
    assert [out[i].is_kept for i in range(3)] == [True, False, False]


def test_temperature_budgets_alpha_semantics(spark):
    """alpha=1 reproduces natural proportions; alpha<1 up-samples the
    small stratum; budgets never exceed the total and respect floor."""
    from pyspark.sql import Row

    from dataclod_spark.operators.sampling import (
        temperature_budgets,
        temperature_mixture,
    )

    rows = (
        [Row(doc_id=i, src="big", tok=100) for i in range(90)]
        + [Row(doc_id=100 + i, src="small", tok=100) for i in range(10)]
    )
    df = spark.createDataFrame(rows)

    nat = temperature_budgets(df, "src", F.col("tok"), 10_000, alpha=1.0)
    assert nat == {"big": 9000, "small": 1000}

    smooth = temperature_budgets(df, "src", F.col("tok"), 10_000, alpha=0.5)
    assert smooth["small"] > 1000 and smooth["big"] < 9000  # up-sampled
    assert sum(smooth.values()) <= 10_000

    flat = temperature_budgets(df, "src", F.col("tok"), 10_000, alpha=0.0)
    assert flat == {"big": 5000, "small": 5000}

    # the fill respects the derived budgets (greedy: boundary doc included)
    out = temperature_mixture(df, "doc_id", "src", F.col("tok"), 10_000, alpha=0.5)
    got = {r.src: r.n for r in out.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
    import math
    for s in ("big", "small"):
        assert got[s] == min(math.ceil(smooth[s] / 100), {"big": 90, "small": 10}[s])


def test_snapshot_diff_semantics(spark):
    """NULL-safe per-column diff: NULL->value and value->NULL are
    changes, NULL->NULL is not; changed_cols lists names sorted; added/
    removed classified by key presence; unchanged rows dropped."""
    import pytest
    from pyspark.sql import Row

    from dataclod_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [
            Row(k=1, a="x", b=10),
            Row(k=2, a=None, b=20),   # NULL -> value on a
            Row(k=3, a="z", b=None),  # NULL -> NULL on b: unchanged
            Row(k=4, a="w", b=40),    # removed
            Row(k=6, a="u", b=60),    # both cols change
        ],
        "k long, a string, b int",
    )
    new = spark.createDataFrame(
        [
            Row(k=1, a="x", b=10),    # unchanged -> dropped
            Row(k=2, a="q", b=20),
            Row(k=3, a="z", b=None),
            Row(k=5, a="n", b=50),    # added
            Row(k=6, a="v", b=61),
        ],
        "k long, a string, b int",
    )
    out = {r.k: (r.change_type, r.changed_cols) for r in snapshot_diff(old, new, ["k"]).collect()}
    assert out == {
        2: ("changed", "a"),
        4: ("removed", ""),
        5: ("added", ""),
        6: ("changed", "a,b"),
    }
    with pytest.raises(ValueError, match="missing from old"):
        snapshot_diff(old.drop("b"), new, ["k"])


def _bpe_python_reference(texts, n_merges, min_freq=2):
    import collections
    import re

    words = collections.Counter()
    for t in texts:
        norm = re.sub(r"\s+", " ", t).strip().lower()
        for w in norm.split(" "):
            if w:
                words[w] += 1
    vocab = {tuple(w): f for w, f in words.items()}
    merges = []
    for r in range(n_merges):
        cnt = collections.Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                cnt[(syms[i], syms[i + 1])] += f
        if not cnt:
            break
        (a, b), c = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if c < min_freq:
            break
        merges.append((r + 1, a, b, c))
        new = {}
        for syms, f in vocab.items():
            out = [syms[0]]
            for s in syms[1:]:
                if out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            new[tuple(out)] = new.get(tuple(out), 0) + f
        vocab = new
    return merges


def test_bpe_train_matches_python_reference(spark):
    """Random corpora: the distributed merge sequence equals the classic
    per-word Python BPE, including tie-breaks and the greedy overlap rule
    ('aaaa' merges to [aa, aa], never overlapping)."""
    import random

    from pyspark.sql import Row

    from dataclod_spark.operators.bpe import bpe_train

    rnd = random.Random(13)
    vocab = ["banana", "bandana", "aaaa", "abab", "cab", "the", "thee"]
    texts = [
        " ".join(rnd.choice(vocab) for _ in range(rnd.randint(1, 12)))
        for _ in range(40)
    ]
    df = spark.createDataFrame([Row(text=t) for t in texts])
    got = [
        (r.merge_rank, r.left_sym, r.right_sym, r.pair_freq)
        for r in bpe_train(df, n_merges=6).orderBy("merge_rank").collect()
    ]
    assert got == _bpe_python_reference(texts, 6)


def test_bpe_train_min_freq_stop_and_empty(spark):
    from pyspark.sql import Row

    from dataclod_spark.operators.bpe import bpe_train

    df = spark.createDataFrame([Row(text="ab ab xy")])
    out = [
        (r.left_sym, r.right_sym, r.pair_freq)
        for r in bpe_train(df, n_merges=5, min_freq=2).collect()
    ]
    # only ('a','b') reaches freq 2; ('x','y') = 1 < min_freq stops training
    assert out == [("a", "b", 2)]
    empty = spark.createDataFrame([Row(text="   ")])
    assert bpe_train(empty, n_merges=3).count() == 0


def test_bpe_merge_fold_greedy_overlap(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from dataclod_spark.operators.bpe import merge_pair_fold

    df = spark.createDataFrame(
        [Row(syms=list("aaaa")), Row(syms=list("aba")), Row(syms=["a"]), Row(syms=[])],
        "syms array<string>",
    )
    got = [r.m for r in df.select(merge_pair_fold(F.col("syms"), "a", "a").alias("m")).collect()]
    assert got == [["aa", "aa"], ["a", "b", "a"], ["a"], []]


def test_bpe_merge_fold_property(spark):
    """Property: the JVM fold equals the Python greedy left-to-right
    merge on random symbol sequences over a tiny alphabet (maximizes
    adjacent-pair and overlap collisions)."""
    import random

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from dataclod_spark.operators.bpe import merge_pair_fold

    rnd = random.Random(99)
    cases = []
    for _ in range(120):
        syms = [rnd.choice("ab") for _ in range(rnd.randint(0, 9))]
        cases.append(syms)
    df = spark.createDataFrame(
        [Row(i=i, syms=s) for i, s in enumerate(cases)], "i long, syms array<string>"
    )

    def py_merge(syms, a, b):
        if len(syms) <= 1:
            return syms
        out = [syms[0]]
        for s in syms[1:]:
            if out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        return out

    for a, b in [("a", "b"), ("a", "a"), ("b", "a")]:
        got = {
            r.i: r.m
            for r in df.select("i", merge_pair_fold(F.col("syms"), a, b).alias("m")).collect()
        }
        for i, syms in enumerate(cases):
            assert got[i] == py_merge(syms, a, b), (a, b, syms)


def test_line_dedup_report_planted(spark):
    """Planted shared chunk: the corpus-wide FIRST (doc, line_idx)
    occurrence stays, every later copy (cross-doc and intra-doc) counts
    duplicate; short tails hash as their own line."""
    from pyspark.sql import Row

    from dataclod_spark.operators.dedup import line_dedup_report

    line = "a b c d e"  # 5 tokens = one line at line_tokens=5
    rows = [
        Row(doc_id=1, text=f"{line} unique tail words here"),      # line0=shared, line1 own
        Row(doc_id=2, text=f"{line} other second chunk is this"),  # line0 dup of doc1
        Row(doc_id=3, text=f"{line} {line}"),                      # both lines dup (2nd intra-doc)
        Row(doc_id=4, text="totally different content entirely"),
    ]
    df = spark.createDataFrame(rows)
    out = {r.doc_id: (r.n_lines, r.n_dup_lines) for r in line_dedup_report(df, line_tokens=5).collect()}
    assert out == {1: (2, 0), 2: (2, 1), 3: (2, 2), 4: (1, 0)}


def test_hash_split_disjoint_stable_and_validated(spark):
    """Splits are disjoint+exhaustive for 100%-sum specs, NULL for the
    unallocated remainder, STABLE under corpus growth (a row's split
    never changes when other rows appear), and invalid specs raise."""
    import pytest
    from pyspark.sql import Row

    from dataclod_spark.operators.sampling import hash_split

    df = spark.createDataFrame([Row(doc_id=i) for i in range(500)])
    full = hash_split(df, "doc_id", {"train": 80, "val": 10, "test": 10})
    counts = {r.split: r.n for r in full.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}  # no NULLs at 100%
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    assert sum(counts.values()) == 500

    part = hash_split(df, "doc_id", {"train": 50})
    got = {r.doc_id: r.split for r in part.collect()}
    assert None in set(got.values())  # unallocated remainder

    # stability: the same doc keeps its split in a larger corpus
    big = spark.createDataFrame([Row(doc_id=i) for i in range(2000)])
    full_big = {r.doc_id: r.split for r in hash_split(big, "doc_id", {"train": 80, "val": 10, "test": 10}).collect()}
    full_small = {r.doc_id: r.split for r in full.collect()}
    assert all(full_big[k] == v for k, v in full_small.items())

    with pytest.raises(ValueError, match="sum to 110"):
        hash_split(df, "doc_id", {"a": 60, "b": 50})
    with pytest.raises(ValueError, match="negative"):
        hash_split(df, "doc_id", {"a": -1})


# --- round 7: ADVICE fixes + batched BPE -----------------------------------


def _bpe_python_batched(texts, n_merges, min_freq=2, batch_size=1):
    """Per-word Python replay of the BATCHED training rule: rank pairs on
    round-start counts, select via the operator's own select_batch, apply
    the whole batch in one combined left-to-right pass."""
    import collections
    import re

    from dataclod_spark.operators.bpe import select_batch

    words = collections.Counter()
    for t in texts:
        norm = re.sub(r"\s+", " ", t).strip().lower()
        for w in norm.split(" "):
            if w:
                words[w] += 1
    vocab = {tuple(w): f for w, f in words.items()}
    merges = []
    while len(merges) < n_merges:
        m = min(batch_size, n_merges - len(merges))
        cnt = collections.Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                cnt[(syms[i], syms[i + 1])] += f
        ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:m]
        selected = select_batch([(a, b, c) for (a, b), c in ranked], m, min_freq)
        if not selected:
            break
        for a, b, c in selected:
            merges.append((len(merges) + 1, a, b, c))
        lut = {(a, b): a + b for a, b, _ in selected}
        new = {}
        for syms, f in vocab.items():
            out = [syms[0]]
            for s in syms[1:]:
                if (out[-1], s) in lut:
                    out[-1] = lut[(out[-1], s)]
                else:
                    out.append(s)
            new[tuple(out)] = new.get(tuple(out), 0) + f
        vocab = new
    return merges


def test_bpe_batched_matches_python_batched(spark):
    """Random corpora: the batched Spark path (batch_size=3) reproduces
    the Python batched reference exactly — including round boundaries
    (pair_freq is the ROUND-start count) and conflict-stop selection."""
    import random

    from pyspark.sql import Row

    from dataclod_spark.operators.bpe import bpe_train

    rnd = random.Random(41)
    vocab = ["banana", "bandana", "aaaa", "abab", "cab", "the", "thee", "abba"]
    for seed in (1, 2, 3):
        rnd = random.Random(seed)
        texts = [
            " ".join(rnd.choice(vocab) for _ in range(rnd.randint(1, 10)))
            for _ in range(30)
        ]
        df = spark.createDataFrame([Row(text=t) for t in texts])
        got = [
            (r.merge_rank, r.left_sym, r.right_sym, r.pair_freq)
            for r in bpe_train(df, n_merges=7, batch_size=3)
            .orderBy("merge_rank")
            .collect()
        ]
        assert got == _bpe_python_batched(texts, 7, batch_size=3), seed


def test_bpe_batched_equals_sequential_when_order_safe(spark):
    """Symbol-disjoint, well-separated pair counts: one batched round of
    3 merges equals 3 sequential rounds exactly (the order-safe case),
    and batch_size=1 remains bit-identical to the classic reference."""
    from pyspark.sql import Row

    from dataclod_spark.operators.bpe import bpe_train

    texts = ["ab"] * 100 + ["cd"] * 50 + ["ef"] * 25
    df = spark.createDataFrame([Row(text=t) for t in texts])
    want = [(1, "a", "b", 100), (2, "c", "d", 50), (3, "e", "f", 25)]
    for bs in (1, 3):
        got = [
            (r.merge_rank, r.left_sym, r.right_sym, r.pair_freq)
            for r in bpe_train(df, n_merges=3, batch_size=bs)
            .orderBy("merge_rank")
            .collect()
        ]
        assert got == want, bs
    assert _bpe_python_reference(texts, 3) == want


def test_bpe_select_batch_rules():
    """Selection is a maximal disjoint PREFIX: conflicts (shared left,
    right, or just-created merged symbol) STOP the round rather than
    skipping; min_freq stops; cap at batch_size."""
    from dataclod_spark.operators.bpe import select_batch

    # merged symbol 'ab' conflicts with later ('ab' as left) candidate
    cands = [("a", "b", 9), ("ab", "c", 8), ("x", "y", 7)]
    assert select_batch(cands, 3, 2) == [("a", "b", 9)]
    # shared right symbol stops
    cands = [("a", "b", 9), ("c", "b", 8), ("x", "y", 7)]
    assert select_batch(cands, 3, 2) == [("a", "b", 9)]
    # disjoint prefix runs to batch_size cap
    cands = [("a", "b", 9), ("c", "d", 8), ("e", "f", 7)]
    assert select_batch(cands, 2, 2) == [("a", "b", 9), ("c", "d", 8)]
    # min_freq cuts mid-list
    cands = [("a", "b", 9), ("c", "d", 1)]
    assert select_batch(cands, 3, 2) == [("a", "b", 9)]
    assert select_batch([("a", "b", 1)], 3, 2) == []


def test_bpe_merge_pairs_fold_combined_pass(spark):
    """The one-pass multi-pair fold equals applying each disjoint pair's
    own greedy pass in sequence, including the 'aaa' non-overlap rule."""
    from pyspark.sql import Row

    from dataclod_spark.operators.bpe import merge_pairs_fold

    df = spark.createDataFrame(
        [
            Row(syms=list("abcdab")),
            Row(syms=list("aaacd")),
            Row(syms=["a"]),
            Row(syms=[]),
        ],
        "syms array<string>",
    )
    got = [
        r.m
        for r in df.select(
            merge_pairs_fold(F.col("syms"), [("a", "b"), ("c", "d")]).alias("m")
        ).collect()
    ]
    assert got == [["ab", "cd", "ab"], ["a", "a", "a", "cd"], ["a"], []]


def test_bpe_batch_merge_sequence_rules():
    """Encode-time batching: consecutive disjoint prefixes, split at any
    shared symbol (incl. the merged product) or at batch_size."""
    from dataclod_spark.operators.bpe import batch_merge_sequence

    # 'th'+'e' shares the product of ('t','h') -> new batch
    seq = [("t", "h"), ("th", "e"), ("a", "b")]
    assert batch_merge_sequence(seq, 8) == [[("t", "h")], [("th", "e"), ("a", "b")]]
    # disjoint run respects the size cap
    seq = [("a", "b"), ("c", "d"), ("e", "f")]
    assert batch_merge_sequence(seq, 2) == [[("a", "b"), ("c", "d")], [("e", "f")]]
    # shared right symbol splits
    seq = [("a", "b"), ("c", "b")]
    assert batch_merge_sequence(seq, 8) == [[("a", "b")], [("c", "b")]]
    assert batch_merge_sequence([], 8) == []


def test_bpe_replay_batched_equals_sequential(spark):
    """Property (the x26 scale fix): replaying a fixed merge sequence
    with symbol-disjoint consecutive batching (batch_size=64) is
    bit-identical to the per-merge replay (batch_size=1) AND to a Python
    sequential greedy reference — on random vocabularies over a tiny
    alphabet whose merge sequences overlap heavily (forcing batch
    splits)."""
    import random

    from pyspark.sql import Row

    from dataclod_spark.operators.bpe import replay_merges

    def py_merge(syms, a, b):
        if len(syms) <= 1:
            return syms
        out = [syms[0]]
        for s in syms[1:]:
            if out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        return out

    for seed in (7, 8, 9):
        rnd = random.Random(seed)
        words = [
            "".join(rnd.choice("ab") for _ in range(rnd.randint(1, 8)))
            for _ in range(25)
        ]
        # chain-heavy sequence: products feed later merges
        merges = [("a", "b"), ("ab", "a"), ("b", "b"), ("aba", "bb"), ("a", "a")]
        df = spark.createDataFrame(
            [Row(i=i, syms=list(w), freq=1) for i, w in enumerate(words)],
            "i long, syms array<string>, freq long",
        )
        expect = []
        for w in words:
            syms = list(w)
            for a, b in merges:
                syms = py_merge(syms, a, b)
            expect.append(syms)
        for bs in (1, 64):
            got = {
                r.i: r.syms
                for r in replay_merges(df, merges, batch_size=bs)
                .select("i", "syms")
                .collect()
            }
            for i, w in enumerate(words):
                assert got[i] == expect[i], (seed, bs, w)


def test_hash_split_negative_and_bad_keys(spark):
    """pmod bucketing: negative integral keys land in a real split (no
    silent NULL bucket); non-integral key types raise at plan time; a
    NULL key raises at execution."""
    import pytest
    from pyspark.sql import Row

    from dataclod_spark.operators.sampling import hash_split

    neg = spark.createDataFrame(
        [Row(doc_id=i) for i in range(-250, 250)], "doc_id long"
    )
    full = hash_split(neg, "doc_id", {"train": 80, "val": 10, "test": 10})
    got = {r.doc_id: r.split for r in full.collect()}
    assert set(got.values()) <= {"train", "val", "test"}
    assert None not in got.values()  # 100% bands => full disjoint assignment

    with pytest.raises(ValueError, match="must be integral"):
        hash_split(
            spark.createDataFrame([Row(doc_id="x")]), "doc_id", {"train": 100}
        )
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    nulls = spark.createDataFrame([Row(doc_id=None)], "doc_id long")
    with pytest.raises((Py4JJavaError, PySparkException), match="NULL key"):
        hash_split(nulls, "doc_id", {"train": 100}).collect()


def test_snapshot_diff_null_keys_pair_up(spark):
    """NULL-key rows join null-safely: old-side NULL key + new-side NULL
    key is ONE row ('changed'/unchanged by value), not a spurious
    added+removed pair; presence comes from side markers, not key
    null-ness."""
    from pyspark.sql import Row

    from dataclod_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [Row(k=None, a="x"), Row(k=1, a="y")], "k long, a string"
    )
    new = spark.createDataFrame(
        [Row(k=None, a="z"), Row(k=1, a="y")], "k long, a string"
    )
    out = [
        (r.k, r.change_type, r.changed_cols)
        for r in snapshot_diff(old, new, ["k"]).collect()
    ]
    assert out == [(None, "changed", "a")]

    # old-side-only NULL key must be 'removed', not 'added'
    out2 = {
        (r.k, r.change_type)
        for r in snapshot_diff(
            old, spark.createDataFrame([Row(k=1, a="y")], "k long, a string"), ["k"]
        ).collect()
    }
    assert out2 == {(None, "removed")}


def test_semantic_dedup_zero_norm_vector_is_kept_singleton(spark):
    """An all-zero vector of the correct width must not abort the cosine
    stage (ANSI DIVIDE_BY_ZERO) — it has undefined cosine, never pairs,
    and labels as its own kept singleton."""
    from pyspark.sql import Row

    from dataclod_spark.operators.dedup import semantic_dedup

    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[1.0, 1e-9, 0.0, 0.0]),  # near-dup of 1
        Row(vec_id=3, embedding=[0.0, 0.0, 0.0, 0.0]),   # zero norm
        Row(vec_id=4, embedding=[0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: (r.component, r.is_kept)
        for r in semantic_dedup(
            df, dim=4, k=1, iters=1, threshold=0.95
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert out[3] == (3, True)          # zero vector: own singleton, kept
    assert out[1] == (1, True) and out[2] == (1, False)  # planted pair


def test_semantic_dedup_auto_k_tracks_corpus(spark):
    """k=None applies the paper's k ≈ corpus/cell_target contract: the
    expected cell size stays bounded as the corpus grows (distinct cell
    count scales with n), with the floor of 8 for small corpora."""
    import random

    from pyspark.sql import Row

    from dataclod_spark.operators.dedup import semantic_dedup

    rnd = random.Random(7)

    def corpus(n):
        return spark.createDataFrame(
            [
                Row(vec_id=i, embedding=[rnd.gauss(0, 1) for _ in range(4)])
                for i in range(n)
            ],
            "vec_id long, embedding array<double>",
        )

    small = semantic_dedup(corpus(40), dim=4, iters=1, cell_target=10)
    n_cells_small = small.select("cell").distinct().count()
    assert n_cells_small <= 8  # floor k=8 (some cells may be empty)

    big = semantic_dedup(corpus(320), dim=4, iters=1, cell_target=10)
    n_cells_big = big.select("cell").distinct().count()
    # ×8 corpus at cell_target=10 -> k=32: cells must actually multiply
    assert n_cells_big > n_cells_small
    assert n_cells_big > 8


def test_dsir_weights_direction_and_counts(spark):
    """DSIR semantics: documents whose tokens concentrate in the target
    slice's buckets score positive log-weights, off-target documents
    negative; n_tok counts whitespace tokens exactly."""
    from pyspark.sql import Row

    from dataclod_spark.operators.sampling import dsir_weights

    rows = (
        [Row(doc_id=i, lang="en", text="alpha beta gamma delta") for i in range(10)]
        + [Row(doc_id=100 + i, lang="de", text="zug bahn strasse welt") for i in range(10)]
    )
    df = spark.createDataFrame(rows)
    out = {r.doc_id: r for r in dsir_weights(df, target=F.col("lang") == "en").collect()}
    assert len(out) == 20
    assert all(out[i].n_tok == 4 for i in out)
    # en-token buckets have p_target ≈ p_raw·2 (en is half the corpus but
    # ALL of those buckets' mass); de-token buckets have p_target ≈ 0
    assert all(out[i].log_weight > 0 for i in range(10))
    assert all(out[100 + i].log_weight < 0 for i in range(10))
    # the off-target doc's tokens hit add-one-smoothed near-zero target
    # buckets, so its penalty magnitude exceeds the in-target doc's gain
    # (ln(α/…) blows past ln(2): the DSIR shape, not a symmetry)
    assert -out[100].log_weight > out[0].log_weight


def test_pq_adc_codes_match_v11_and_distances_are_lut_exact(spark):
    """v12's codes must equal v11's (same codebooks, same assignment) and
    each adc_dist must equal the probe-to-assigned-centroid distance
    recomputed in Python from independent single-span pq_fit_spans
    codebooks."""
    from dataclod_spark.operators.embeddings import pq_fit_spans
    from dataclod_spark.queries.similarity import _adc_q, v12_pq_adc_topk
    from dataclod_spark.registry import load

    sf = "/root/testdata/sf0.001"
    got = v12_pq_adc_topk(spark, sf).collect()
    assert len(got) == 10

    e = load(spark, sf, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )
    luts = []
    for lo, hi in ((1, 32), (33, 64)):
        cents = pq_fit_spans(e, "embedding", 64, [(lo, hi)], k=4, iters=2)[0]
        q = [_adc_q(i) for i in range(lo, hi + 1)]
        luts.append({cid: sum((a - b) * (a - b) for a, b in zip(q, cv)) for cid, cv in cents})
    from dataclod_spark.queries.similarity import v11_product_quantize

    v11 = {r.vec_id: (r.code_0, r.code_1) for r in v11_product_quantize(spark, sf).collect()}
    for r in got:
        assert (r.code_0, r.code_1) == v11[r.vec_id]
        want = round(luts[0][r.code_0] + luts[1][r.code_1], 6)
        assert abs(r.adc_dist - want) < 1e-9, (r.vec_id, r.adc_dist, want)


def test_bpe_encode_stats_invariants(spark):
    """Encode-side invariants: merging never changes the character mass
    (total_chars equals the pre-merge weighted word length), tokens can
    only shrink from chars (compression ≤ 1), and the merges actually
    fired (compression < 1 on a merge-rich corpus)."""
    from pyspark.sql import Row

    from dataclod_spark.operators.bpe import bpe_encode_stats

    texts = ["the cat sat", "the cat ran", "the the the"] * 20
    df = spark.createDataFrame([Row(text=t) for t in texts])
    r = bpe_encode_stats(df, n_merges=4, min_freq=2).collect()[0]
    n_chars = sum(len(w) for t in texts for w in t.split())
    assert r.total_chars == n_chars
    assert r.total_tokens <= r.total_chars
    assert r.compression < 1.0
    assert r.n_words == 4  # the, cat, sat, ran
    assert r.total_freq == len(texts) * 3


def test_dsir_select_stratified_quota(spark):
    """Selection keeps ceil(top_pct%·n) PER stratum by (weight desc,
    doc_id) — a high-scoring majority stratum cannot crowd out a small
    one, and the boundary tie breaks on doc_id."""
    from pyspark.sql import Row

    from dataclod_spark.operators.sampling import dsir_select

    docs = spark.createDataFrame(
        [Row(doc_id=i, lang="en", text="x") for i in range(8)]
        + [Row(doc_id=100 + i, lang="de", text="x") for i in range(4)]
    )
    wts = spark.createDataFrame(
        [Row(doc_id=i, log_weight=float(i)) for i in range(8)]
        + [Row(doc_id=100 + i, log_weight=-5.0) for i in range(4)]  # all tie
    )
    got = sorted(
        r.doc_id for r in dsir_select(docs, wts, stratum="lang", top_pct=50).collect()
    )
    # en: ceil(4) highest weights = 4,5,6,7; de: ceil(2) of the tie = lowest ids
    assert got == [4, 5, 6, 7, 100, 101]

    import pytest

    with pytest.raises(ValueError, match="top_pct"):
        dsir_select(docs, wts, top_pct=0)


def test_cdc_compact_changes_net_classes(spark):
    """All net classes incl. single-op keys and a D→I re-insert (net U:
    the target had the row at batch start and still has it, with new
    payload); insert-then-delete cancels to NO row."""
    from pyspark.sql import Row

    from dataclod_spark.operators.cdc import compact_changes

    rows = [
        Row(k=1, v="a1", op="U", seq=1), Row(k=1, v="a2", op="U", seq=2),  # U
        Row(k=2, v="b1", op="I", seq=1), Row(k=2, v="b2", op="U", seq=2),  # I
        Row(k=3, v="c1", op="I", seq=1), Row(k=3, v=None, op="D", seq=2),  # cancel
        Row(k=4, v="d1", op="U", seq=1), Row(k=4, v=None, op="D", seq=2),  # D
        Row(k=5, v=None, op="D", seq=1), Row(k=5, v="e2", op="I", seq=2),  # re-insert -> U
        Row(k=6, v="f1", op="I", seq=1),                                   # lone I
        Row(k=7, v=None, op="D", seq=1),                                   # lone D
        Row(k=8, v="h1", op="U", seq=1),                                   # lone U
    ]
    df = spark.createDataFrame(rows, "k long, v string, op string, seq int")
    got = {r.k: (r.v, r.net_op) for r in compact_changes(df, keys=["k"]).collect()}
    assert got == {
        1: ("a2", "U"),
        2: ("b2", "I"),
        4: (None, "D"),
        5: ("e2", "U"),
        6: ("f1", "I"),
        7: (None, "D"),
        8: ("h1", "U"),
    }
    assert 3 not in got  # insert-then-delete cancels entirely


def test_dedup_keep_best_keeps_highest_quality(spark):
    """The planted near-dup pair must keep the HIGHER-quality member even
    though it has the larger id (keep-first would pick id 1)."""
    from dataclod_spark.functions.text import quality_score
    from dataclod_spark.operators.dedup import dedup_keep_best

    # NEAR is one token longer than BASE -> strictly higher length
    # component of quality_score at this size
    df = _docs(spark, [(1, BASE), (2, NEAR), (3, OTHER)])
    q = {r.doc_id: r.q for r in df.select(
        "doc_id", quality_score(F.col("text")).alias("q")).collect()}
    rows = {
        r.cluster_rep: r
        for r in dedup_keep_best(
            df, quality_score(F.col("text")), jaccard_threshold=0.5
        ).collect()
    }
    assert set(rows) == {1, 3}
    best = max((1, 2), key=lambda i: (q[i], -i))
    assert rows[1].kept_doc_id == best
    assert rows[1].cluster_size == 2
    assert rows[1].kept_quality == q[best]
    assert rows[3].kept_doc_id == 3 and rows[3].cluster_size == 1


def test_dedup_keep_best_tie_breaks_to_min_id(spark):
    from pyspark.sql import functions as F  # noqa: F811
    from dataclod_spark.operators.dedup import dedup_keep_best

    # identical text -> identical quality -> tie must break to min id
    df = _docs(spark, [(7, BASE), (9, BASE)])
    rows = dedup_keep_best(df, F.lit(0.5), jaccard_threshold=0.5).collect()
    assert len(rows) == 1
    assert rows[0].cluster_rep == 7 and rows[0].kept_doc_id == 7
    assert rows[0].cluster_size == 2


def test_media_near_dedup_groups_profile_twins(spark):
    """Different bytes, same quantized byte-class profile -> one cell;
    empty and NULL blobs share the reserved (-1) cell."""
    from pyspark.sql import types as T  # noqa: F811
    from dataclod_spark.operators.multimodal import media_near_dedup

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("content", T.BinaryType(), True),
        ]
    )
    rows = [
        (1, bytearray(b"AAAAaaaa")),   # 4 bytes in [64,96), 4 in >=96
        (2, bytearray(b"BBBBbbbb")),   # same class profile, different bytes
        (3, bytearray(b"    \x01\x01\x01\x01")),  # different profile
        (4, bytearray(b"")),
        (5, None),
    ]
    out = {r.media_id: r for r in media_near_dedup(
        spark.createDataFrame(rows, schema)).collect()}
    sig = lambda r: (r.q0, r.q1, r.q2, r.q3)  # noqa: E731
    assert sig(out[1]) == sig(out[2])
    assert out[1].canonical_id == 1 and out[2].canonical_id == 1
    assert out[1].is_kept and not out[2].is_kept
    assert sig(out[3]) != sig(out[1])
    assert sig(out[4]) == (-1, -1, -1, -1) == sig(out[5])
    assert out[4].canonical_id == 4 and out[5].canonical_id == 4


def test_source_drift_flags_divergent_source(spark):
    """A source that clones the corpus distribution scores ~0; a source
    with disjoint vocabulary scores strictly higher."""
    from pyspark.sql import types as T  # noqa: F811
    from dataclod_spark.operators.sampling import source_drift

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("source", T.StringType(), False),
            T.StructField("text", T.StringType(), False),
        ]
    )
    common = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, "clone_a" if i % 2 else "clone_b", common) for i in range(40)]
    rows += [(100 + i, "weird", "zzz qqq xxx jjj www vvv kkk yyy") for i in range(20)]
    out = {r.source: r for r in source_drift(
        spark.createDataFrame(rows, schema)).collect()}
    assert set(out) == {"clone_a", "clone_b", "weird"}
    assert out["weird"].js_divergence > out["clone_a"].js_divergence
    assert out["weird"].js_divergence > out["clone_b"].js_divergence
    assert abs(out["clone_a"].js_divergence - out["clone_b"].js_divergence) < 1e-6
    assert out["clone_a"].n_tok == 8 * 20


def test_source_bucket_counts_additive(spark):
    """The drift profile is the streaming monitor's state: counts of
    disjoint slices must merge by summation to the whole-corpus profile
    (what makes the drained streaming report equal the batch one)."""
    from pyspark.sql import types as T  # noqa: F811
    from dataclod_spark.operators.sampling import source_bucket_counts

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("source", T.StringType(), False),
            T.StructField("text", T.StringType(), False),
        ]
    )
    rows = [
        (i, f"s{i % 3}", f"tok{i % 7} tok{i % 5} shared words here")
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, schema)
    whole = {
        (r["__g"], r["__b"]): r["__c"]
        for r in source_bucket_counts(df).collect()
    }
    merged: dict = {}
    for part in (df.filter(F.col("doc_id") < 11), df.filter(F.col("doc_id") >= 11)):
        for r in source_bucket_counts(part).collect():
            key = (r["__g"], r["__b"])
            merged[key] = merged.get(key, 0) + r["__c"]
    assert merged == whole


def test_scd2_enrich_boundary_semantics(spark):
    """Interval membership is [valid_from, valid_to): a fact stamped
    exactly at a version boundary sees the NEW version; before the first
    version -> NULL attributes; open (NULL valid_to) rows match forever."""
    from pyspark.sql import types as T  # noqa: F811
    from dataclod_spark.operators.scd import scd2_enrich

    hist = spark.createDataFrame(
        [
            (1, "old", 10, 20),
            (1, "new", 20, None),
            (2, "only", 5, None),
        ],
        T.StructType(
            [
                T.StructField("k", T.LongType(), False),
                T.StructField("attr", T.StringType(), False),
                T.StructField("valid_from", T.LongType(), False),
                T.StructField("valid_to", T.LongType(), True),
            ]
        ),
    )
    facts = spark.createDataFrame(
        [(100, 1, 9), (101, 1, 10), (102, 1, 19), (103, 1, 20),
         (104, 1, 999), (105, 2, 5), (106, 3, 50)],
        "fid long, fk long, ts long",
    )
    out = {
        r.fid: r.attr
        for r in scd2_enrich(facts, hist, "fk", "ts", "k").collect()
    }
    assert out[100] is None          # before first version
    assert out[101] == "old"         # inclusive valid_from
    assert out[102] == "old"
    assert out[103] == "new"         # boundary ts sees the NEW version
    assert out[104] == "new"         # open row matches forever
    assert out[105] == "only"
    assert out[106] is None          # unknown key
    # 1:<=1 — no fact row duplicated by the join
    assert scd2_enrich(facts, hist, "fk", "ts", "k").count() == 7


def test_ngram_novelty_semantics(spark):
    """A mirrored doc drags BOTH copies to novelty 0 (corpus-wide df, not
    pairwise best-match); unique prose scores 1; short docs are NULL."""
    from dataclod_spark.operators.dedup import ngram_novelty

    df = _docs(
        spark,
        [
            (1, BASE),          # mirrored by 2 -> all grams shared
            (2, BASE),
            (3, OTHER),         # unique -> novelty 1
            (4, "two words"),   # < 3 tokens -> no grams -> NULL
        ],
    )
    out = {r.doc_id: r for r in ngram_novelty(df).collect()}
    assert out[1].novelty == 0.0 and out[2].novelty == 0.0
    assert out[3].novelty == 1.0 and out[3].n_shared == 0
    assert out[4].n_grams == 0 and out[4].novelty is None


def test_mixture_epochs_regimes(spark):
    """Exact integer epoch math: fits-in-one-pass, exact multiple,
    oversubscribed, excluded (budget 0), and zero-available strata."""
    from pyspark.sql import types as T  # noqa: F811
    from dataclod_spark.operators.sampling import mixture_epochs

    schema = T.StructType(
        [
            T.StructField("lang", T.StringType(), False),
            T.StructField("tok", T.LongType(), True),
        ]
    )
    rows = [("a", 100), ("a", 100), ("b", 50), ("c", 10), ("d", None), ("d", 0)]
    df = spark.createDataFrame(rows, schema)
    out = {
        r.lang: r
        for r in mixture_epochs(
            df, "lang", F.col("tok"),
            {"a": 150, "b": 100, "c": 0, "d": 7},
        ).collect()
    }
    assert out["a"].epochs == 1 and out["a"].repeated_tokens == 0
    assert out["b"].epochs == 2 and out["b"].repeated_tokens == 50
    assert out["c"].epochs == 0 and out["c"].repeated_tokens == 0
    assert out["d"].available_tokens == 0
    assert out["d"].epochs is None and out["d"].repeated_tokens == 7


def test_ngram_novelty_mirror_property(spark):
    """Mirroring the corpus (every doc duplicated under a new id) forces
    novelty to exactly 0 for every doc with gram evidence — the invariant
    a mirror-site crawl would trigger."""
    from dataclod_spark.operators.dedup import ngram_novelty

    base = _docs(spark, [(1, BASE), (2, NEAR), (3, OTHER)])
    mirrored = base.unionByName(
        base.withColumn("doc_id", F.col("doc_id") + 1000)
    )
    out = ngram_novelty(mirrored).collect()
    assert len(out) == 6
    assert all(r.novelty == 0.0 for r in out)
    assert all(r.n_shared == r.n_grams for r in out)


def test_lsh_recall_report_semantics(spark):
    """Planted near-dup -> found and graded 1.0; isolated doc -> NULL
    recall; and found <= true always (candidates are exact-verified, so
    the index can only LOSE pairs, never invent them)."""
    from dataclod_spark.operators.dedup import lsh_recall_report

    df = _docs(spark, [(1, BASE), (2, NEAR), (3, OTHER)])
    out = {
        r.doc_id: r
        for r in lsh_recall_report(
            df, F.col("doc_id") <= 3, jaccard_threshold=0.5
        ).collect()
    }
    assert out[1].n_true == 1 and out[1].n_found == 1 and out[1].recall == 1.0
    assert out[2].n_true == 1 and out[2].recall == 1.0
    assert out[3].n_true == 0 and out[3].recall is None
    assert all(r.n_found <= r.n_true for r in out.values())


def test_lsh_recall_truth_matches_set_arithmetic(spark):
    """The inverted-index truth pass (equi-join on exploded shingles,
    |A∪B| = |A|+|B|−|A∩B|) must reproduce exactly the n_true a direct
    Python set computation gives — including a doc pair that straddles
    the threshold only after round(·, 4) — and its plan must carry no
    BroadcastNestedLoopJoin (the per-pair array_intersect evaluation the
    rewrite removed)."""
    from dataclod_spark.functions.text import normalize_text as _  # noqa: F401
    from dataclod_spark.operators.dedup import (
        SHINGLE_SIZE,
        lsh_recall_report,
    )

    texts = {1: BASE, 2: NEAR, 3: OTHER, 4: BASE + " tail tweak"}
    df = _docs(spark, sorted(texts.items()))
    thr = 0.2
    rep = lsh_recall_report(df, F.col("doc_id") <= 2, jaccard_threshold=thr)
    assert "BroadcastNestedLoopJoin" not in rep._jdf.queryExecution().executedPlan().toString()

    import re

    def shingles(t):
        n = re.sub(r"\s+", " ", t.strip().lower())
        if len(n) < SHINGLE_SIZE:
            return {n}
        return {n[i : i + SHINGLE_SIZE] for i in range(len(n) - SHINGLE_SIZE + 1)}

    sets = {k: shingles(v) for k, v in texts.items()}
    expect = {
        q: sum(
            1
            for c in sets
            if c != q
            and round(len(sets[q] & sets[c]) / len(sets[q] | sets[c]), 4) >= thr
        )
        for q in (1, 2)
    }
    got = {r.doc_id: r.n_true for r in rep.collect()}
    assert got == expect


def test_bpe_fertility_by_group(spark):
    """Per-group fertility under global merges: the group whose words the
    merges learned compresses (fertility < 1); a group of words sharing
    no learned pair encodes char-by-char (fertility exactly 1.0).
    Integer totals match a hand computation."""
    from pyspark.sql import Row

    from dataclod_spark.operators.bpe import bpe_fertility_by, bpe_train

    rows = [Row(lang="aa", text="abab abab abab abab")] * 6 + [
        Row(lang="zz", text="xyzq qzyx")
    ]
    df = spark.createDataFrame(rows)
    merges = {
        (r.left_sym, r.right_sym)
        for r in bpe_train(df, "text", n_merges=2, min_freq=2).collect()
    }
    assert ("a", "b") in merges  # the dominant pair is learned
    out = {
        r.lang: r
        for r in bpe_fertility_by(df, "lang", "text", n_merges=2, min_freq=2).collect()
    }
    zz = out["zz"]
    assert zz.total_tokens == zz.total_chars == 8  # char-by-char encode
    assert zz.fertility == 1.0 and zz.n_words == 2 and zz.total_freq == 2
    aa = out["aa"]
    assert aa.n_words == 1          # one distinct word 'abab'
    assert aa.total_freq == 24      # 4 words/doc x 6 docs
    assert aa.total_chars == 96     # 24 occurrences x 4 chars
    assert aa.fertility < 1.0       # merges compressed it


def test_shared_span_pairs_planted_spans(spark):
    """Planted exact substrings: one 7-token shared run reports span 7;
    two 6-token runs split by a one-token difference report n_spans=2
    (the diagonal run-merge must NOT bridge across the mismatch);
    unrelated docs report nothing."""
    from pyspark.sql import Row

    from dataclod_spark.operators.dedup import shared_span_pairs

    quote = "one two three four five six seven"
    rows = [
        Row(doc_id=1, text=quote + " unique1 unique2"),
        Row(doc_id=2, text="prefix words " + quote + " trailer"),
        Row(doc_id=3, text="a1 a2 a3 a4 a5 a6 xx b1 b2 b3 b4 b5 b6"),
        Row(doc_id=4, text="a1 a2 a3 a4 a5 a6 yy b1 b2 b3 b4 b5 b6"),
        Row(doc_id=5, text="totally different words entirely here now"),
    ]
    df = spark.createDataFrame(rows)
    out = {
        (r.id_1, r.id_2): (r.max_span_tokens, r.n_spans)
        for r in shared_span_pairs(df, min_span=6, max_doc_freq=None).collect()
    }
    assert out[(1, 2)] == (7, 1)
    assert out[(3, 4)] == (6, 2)
    assert not any(5 in p for p in out)


# ---------- round 10: operator review fixes ----------------------------------


def test_group_quantiles_exact_rank_is_rational(spark):
    """ceil(q·n) must be computed in exact integer arithmetic: the double
    path overshot by one whenever q·n was an exact integer with q's
    double above the decimal (q=0.9·n=10 → 10 not 9; q=0.55·n=100 → 56
    not 55).  DuckDB's percentile_disc is exact, so this was a latent
    driver-red for any group size divisible by the q denominator."""
    from dataclod_spark.operators.quantiles import group_quantiles_exact

    df10 = spark.createDataFrame(
        [("g", float(i)) for i in range(1, 11)], "grp string, v double"
    )
    got10 = {r.q: r.value for r in group_quantiles_exact(df10, "grp", "v", [0.9, 0.5]).collect()}
    assert got10[0.9] == 9.0 and got10[0.5] == 5.0
    df100 = spark.createDataFrame(
        [("g", float(i)) for i in range(1, 101)], "grp string, v double"
    )
    got100 = {
        r.q: r.value
        for r in group_quantiles_exact(df100, "grp", "v", [0.55, 0.99, 1.0]).collect()
    }
    assert got100[0.55] == 55.0 and got100[0.99] == 99.0 and got100[1.0] == 100.0


def test_asof_join_null_timestamps_match_nothing(spark):
    """merge_asof/ASOF semantics: a right row with NULL event time is
    never 'the closest', and a left row with NULL time matches nothing
    (the old code let NULLS FIRST/LAST ordering turn both into spurious
    matches)."""
    from dataclod_spark.operators.asof_join import asof_join

    left = spark.createDataFrame(
        [(1, 10), (1, None)], "k int, t int"
    )
    right = spark.createDataFrame(
        [(1, None, 999), (1, 5, 111)], "k int, t int, val int"
    )
    out = {
        (r.k, r.t): r.val
        for r in asof_join(left, right, on="t", by="k").collect()
    }
    assert out[(1, 10)] == 111       # the real t=5 click, not the NULL row
    assert out[(1, None)] is None    # NULL left time matches nothing
    # forward direction: NULL left time must not match the next right row
    outf = {
        (r.k, r.t): r.val
        for r in asof_join(left, right, on="t", by="k", direction="forward").collect()
    }
    assert outf[(1, None)] is None


def test_byte_histogram_respects_id_type(spark):
    """String media ids must survive the feature pass (the schema used to
    hardcode `long`, crashing Arrow conversion for every non-long id)."""
    from dataclod_spark.operators.multimodal import (
        byte_histogram_features,
        media_near_dedup,
    )

    m = spark.createDataFrame(
        [("a", bytearray(b"\x00" * 4)), ("b", bytearray(b"\xff" * 4))],
        "media_id string, content binary",
    )
    rows = {r.media_id: r for r in byte_histogram_features(m).collect()}
    assert rows["a"].b0 == 4 and rows["b"].b3 == 4
    # the whole near-dup family rides the same schema
    assert media_near_dedup(m).count() == 2


def test_scd2_enrich_no_duplicate_key_column(spark):
    """fact_key == hist_key must not produce an ambiguous duplicate
    output column."""
    from dataclod_spark.operators.scd import scd2_enrich

    facts = spark.createDataFrame([(1, 100)], "cid int, ts int")
    hist = spark.createDataFrame(
        [(1, 50, None, "gold")], "cid int, valid_from int, valid_to int, tier string"
    )
    out = scd2_enrich(facts, hist, "cid", "ts", "cid")
    assert out.columns.count("cid") == 1
    r = out.select("cid", "tier").collect()[0]  # would raise AMBIGUOUS_REFERENCE before
    assert (r.cid, r.tier) == (1, "gold")


def test_sample_frames_preserves_null_content_and_validates(spark):
    from dataclod_spark.operators.multimodal import sample_frames
    import pytest as _pytest

    m = spark.createDataFrame(
        [(1, bytearray(b"abcd")), (2, None)], "media_id long, content binary"
    )
    out = sample_frames(m, every_n=2)
    by_id = {}
    for r in out.collect():
        by_id.setdefault(r.media_id, []).append(r)
    assert 2 in by_id                       # NULL-content row survives
    assert by_id[2][0].frame_no is None and by_id[2][0].frame_content is None
    assert all(r.frame_no is not None for r in by_id[1])
    with _pytest.raises(ValueError, match="every_n"):
        sample_frames(m, every_n=0)


def test_row_hash_extended_domain(spark):
    """64-bit and negative keys: no ANSI overflow abort, range [0, 2^32),
    bit-compatible with the old formula for keys in [0, 2^31)."""
    from dataclod_spark.operators.sampling import hash_sample, row_hash

    df = spark.createDataFrame(
        [(5_000_000_000,), (-7,), (123,), (2**62,)], "k long"
    )
    vals = {r.k: r.h for r in df.select("k", row_hash(F.col("k")).alias("h")).collect()}
    assert all(0 <= v < 2**32 for v in vals.values())
    assert vals[123] == (123 * 2654435761) % 4294967296
    # negative keys obey the rate (the old negative hash kept them at ANY rate)
    assert hash_sample(df, "k", 0).count() == 0
    assert hash_sample(df, "k", 100).count() == 4


def test_knn_zero_norm_vectors_excluded_not_fatal(spark):
    """A zero-norm vector anywhere must not ANSI-abort the knn family —
    it has no cosine direction and is excluded from matching."""
    from dataclod_spark.operators.similarity import (
        cosine_profile,
        knn_bruteforce,
        knn_ivf,
    )

    rows = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = knn_bruteforce(df, df, k=2).collect()
    ids = {r.query_id for r in out} | {r.neighbor_id for r in out}
    assert 0 not in ids and len(out) > 0
    # ivf: the zero vector is among the lowest ids and must NOT seed a centroid
    ivf = knn_ivf(df, df, k=1, n_centroids=2, n_probe=1).collect()
    assert 0 not in ({r.query_id for r in ivf} | {r.neighbor_id for r in ivf})
    prof = cosine_profile(df, df, decimals=1).collect()
    assert sum(r.n_pairs for r in prof) == 6  # 3 usable vectors, ordered pairs


def test_probe_hamming_two_expands_and_three_raises():
    from dataclod_spark.operators.similarity import _probe_buckets
    from pyspark.sql import functions as F
    import pytest as _pytest

    # expression arity: 1 + C(4,1) + C(4,2) probes at hamming 2
    arr2 = _probe_buckets(F.lit("0000"), 4, 2)
    arr1 = _probe_buckets(F.lit("0000"), 4, 1)
    assert "1011" in str(arr2.__repr__()) or True  # structural check below
    with _pytest.raises(ValueError, match="probe_hamming > 2"):
        _probe_buckets(F.lit("0000"), 4, 3)


def test_probe_hamming_two_values(spark):
    from dataclod_spark.operators.similarity import _probe_buckets

    row = spark.range(1).select(
        _probe_buckets(F.lit("0000"), 4, 2).alias("p")
    ).collect()[0]
    probes = set(row.p)
    assert "0000" in probes
    assert {"1000", "0100", "0010", "0001"} <= probes          # distance 1
    assert {"1100", "1010", "1001", "0110", "0101", "0011"} <= probes  # distance 2
    assert len(row.p) == 1 + 4 + 6


def test_temperature_budgets_null_stratum(spark):
    """NULL strata are module-contract (eqNullSafe joins); the driver-side
    sort must not TypeError on a None key."""
    from dataclod_spark.operators.sampling import temperature_budgets

    df = spark.createDataFrame(
        [(1, "en", 10), (2, None, 10), (3, "fr", 20)],
        "doc_id long, lang string, tok int",
    )
    b = temperature_budgets(df, "lang", F.col("tok"), total_budget=30, alpha=0.5)
    assert set(b) == {"en", None, "fr"} and all(v >= 0 for v in b.values())


def test_dim_sign_signature_short_vector_is_not_fatal(spark):
    """A vector shorter than n_bits yields 0 bits for the missing dims
    instead of an ANSI INVALID_ARRAY_INDEX job abort."""
    from dataclod_spark.operators.dedup import dim_sign_signature

    df = spark.createDataFrame(
        [(1, [1.0, -1.0]), (2, [1.0] * 16)], "vec_id long, e array<double>"
    )
    got = {r.vec_id: r.sig for r in df.select(
        "vec_id", dim_sign_signature(F.col("e"), 16).alias("sig")
    ).collect()}
    assert got[1] == 1           # only bit 0 set; dims 2..15 -> 0, no abort
    assert got[2] == 2**16 - 1


def test_kmeans_ignores_null_element_vectors(spark):
    from dataclod_spark.operators.embeddings import pq_fit_spans

    rows = [(0, [None, 1.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = pq_fit_spans(df, "embedding", 2, [(1, 2)], k=2, iters=2)[0]
    assert len(cents) == 2
    assert all(all(x is not None for x in c) for _, c in cents)


def test_scalar_quantize_null_element_stays_null(spark):
    from dataclod_spark.operators.embeddings import scalar_quantize

    df = spark.createDataFrame(
        [(1, [0.0, None]), (2, [1.0, 2.0]), (3, [2.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in scalar_quantize(df, "embedding", dim=2).collect()}
    assert out[1].codes[1] is None          # not a fabricated 0
    assert out[2].codes[0] is not None


def test_contamination_check_null_pred_is_training_side(spark):
    from dataclod_spark.operators.dedup import contamination_check

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps", "bench"),
         (2, "the quick brown fox jumps", None),     # NULL source
         (3, "totally unrelated words here", "web")],
        "doc_id long, text string, source string",
    )
    out = contamination_check(
        df, benchmark_pred=F.col("source") == "bench", n=3
    )
    got = {r.doc_id for r in out.collect()}
    # the output is FLAGGED rows only: the NULL-source duplicate of the
    # benchmark text must be screened and flagged (it silently vanished
    # from both branches before r10); the clean row stays unflagged
    assert 2 in got and 1 not in got


def test_lsh_candidate_pairs_validates_bands(spark):
    from dataclod_spark.operators.dedup import lsh_candidate_pairs
    import pytest as _pytest

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="rows_per_band"):
        lsh_candidate_pairs(df, k=4, rows_per_band=8)


def test_exact_dedup_custom_id_col(spark):
    from dataclod_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(5, "same text"), (2, "same text"), (9, "other")],
        "my_id long, text string",
    )
    kept = {r.my_id for r in exact_dedup(df, id_col="my_id").collect()}
    assert kept == {2, 9}


def test_temperature_mixture_keeps_null_stratum(spark):
    """A NULL stratum is in-contract module-wide: temperature_budgets
    emits a None-keyed budget for it, and _budget_expr must match it
    null-safely — under == the when-branch never fired, NULL-stratum rows
    got the default 0 budget, and the mixture silently dropped them
    despite their allocation (ADVICE r10 medium)."""
    from pyspark.sql import Row

    from dataclod_spark.operators.sampling import (
        temperature_budgets,
        temperature_mixture,
        token_budget_sample,
    )

    rows = (
        [Row(doc_id=i, src="en", tok=100) for i in range(20)]
        + [Row(doc_id=100 + i, src=None, tok=100) for i in range(20)]
    )
    df = spark.createDataFrame(rows)

    budgets = temperature_budgets(df, "src", F.col("tok"), 2_000, alpha=1.0)
    assert budgets == {None: 1000, "en": 1000}

    out = temperature_mixture(df, "doc_id", "src", F.col("tok"), 2_000, alpha=1.0)
    got = {
        r["src"]: r["n"]
        for r in out.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # greedy fill: 1000-token budget over 100-token docs -> 10 docs each,
    # for the NULL stratum exactly as for the named one
    assert got == {None: 10, "en": 10}

    # the direct dict-spec path matches too
    out2 = token_budget_sample(
        df, "doc_id", "src", F.col("tok"), {None: 500, "en": 300}
    )
    got2 = {
        r["src"]: r["n"]
        for r in out2.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got2 == {None: 5, "en": 3}
