"""Dedup family + ANN operators over the driver's flat documents /
embeddings tables (sf0.001)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entity_linking_in_biomedical_spark.operators.dedup import (
    embedding_near_duplicates,
    exact_duplicates,
    fingerprint_duplicates,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from entity_linking_in_biomedical_spark.operators.similarity import (
    brute_force_topk,
    fit_ivf_centroids,
    ivf_assign_udf,
    ivf_recall_at_k,
    ivf_topk,
    lsh_recall_at_k,
    lsh_topk,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_exact_duplicates_synthetic(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "unique text"), (4, "a b c")],
        "doc_id bigint, text string",
    )
    got = exact_duplicates(df).collect()
    assert len(got) == 1
    assert got[0]["dup_count"] == 3
    assert got[0]["doc_ids"] == ["1", "2", "4"]


def test_fingerprint_catches_reorder(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, "sat the CAT!"), (3, "a dog ran")],
        "doc_id bigint, text string",
    )
    got = fingerprint_duplicates(df).collect()
    assert len(got) == 1 and got[0]["doc_ids"] == ["1", "2"]


def test_minhash_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("lazy", "sleepy")
    far = "completely different content about spark dataframes and shuffles here"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id bigint, text string"
    )
    got = minhash_near_duplicates(df, jaccard_threshold=0.5)
    rows = got.collect()
    assert [(r["a_id"], r["b_id"]) for r in rows] == [("1", "2")]
    assert 0.5 <= rows[0]["jaccard"] <= 1.0


def test_ngram_jaccard_pairs(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, "nothing shared at all whatsoever")],
        "doc_id bigint, text string",
    )
    rows = ngram_jaccard_pairs(df, jaccard_threshold=0.4).collect()
    assert [(r["a_id"], r["b_id"]) for r in rows] == [("1", "2")]


def test_simhash_near_duplicates(spark):
    base = "one two three four five six seven eight nine ten eleven twelve"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # identical -> hamming 0, must be found
            (3, "spark catalyst tungsten arrow pandas codegen shuffle"),
        ],
        "doc_id bigint, text string",
    )
    rows = simhash_near_duplicates(df).collect()
    found = {(r["a_id"], r["b_id"]): r["hamming"] for r in rows}
    assert found.get(("1", "2")) == 0
    # contract: every reported pair respects the threshold; unrelated
    # docs (3) never pair with 1/2
    assert all(h <= 3 for h in found.values())
    assert all("3" not in p for p in found)


def test_simhash_pigeonhole_blocks(spark):
    """Pairs within the hamming threshold share >=1 exact 15-bit block
    (the lossless-blocking property the operator relies on)."""
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india juliett "
            "kilo lima mike november oscar papa quebec romeo sierra tango") * 3
    df = spark.createDataFrame([(1, base), (2, base + " uniform")], "doc_id bigint, text string")
    from entity_linking_in_biomedical_spark.functions.text_metrics import simhash64

    a, b = [r[0] for r in df.select(simhash64("text")).collect()]
    hamming = bin(a ^ b).count("1")
    if hamming <= 3:
        shared = any(
            ((a >> (k * 15)) & 0x7FFF) == ((b >> (k * 15)) & 0x7FFF) for k in range(4)
        )
        assert shared


def test_brute_force_topk_self_is_nearest(spark, emb):
    db = emb.limit(200)
    queries = db.limit(5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got = brute_force_topk(queries, db, k=3)
    top1 = {r["q_id"]: r["vec_id"] for r in got.filter("rank = 1").collect()}
    assert all(str(q) == str(v) or True for q, v in top1.items())
    # the query vector itself must rank first with cosine ~1
    for r in got.filter("rank = 1").collect():
        assert r["cosine"] == pytest.approx(1.0, abs=1e-4)
        assert r["q_id"] == r["vec_id"]


def test_lsh_topk_self_is_nearest(spark, emb):
    db = emb.limit(300)
    queries = db.limit(4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got = lsh_topk(queries, db, k=5)
    # self always lands in its own bucket -> rank 1 with cosine ~1
    for r in got.filter("rank = 1").collect():
        assert r["q_id"] == r["vec_id"]
        assert r["cosine"] == pytest.approx(1.0, abs=1e-4)


def test_lsh_recall_contract(spark, emb):
    """The driver's ann_lsh contract: per-query recall@5 >= 0.9 vs the
    exact brute-force top-k, at the same index settings the driver query
    uses (16 tables x 4 bits, multiprobe 2 — sized for the isotropic
    driver embeddings whose true neighbors sit at cosine ~0.3)."""
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    rec = lsh_recall_at_k(queries, emb, k=5, n_tables=16, bits=4, multiprobe=2).collect()
    assert len(rec) == 10
    assert all(r["recall"] >= 0.9 for r in rec), sorted(
        (r["q_id"], r["recall"]) for r in rec
    )


def test_lsh_bucket_cap_bounds_candidates(spark, emb):
    """max_bucket truncates hot buckets instead of exploding: with a cap
    of 3 the candidate set per query is bounded by tables*probes*cap."""
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got = lsh_topk(queries, emb, k=1000, n_tables=2, bits=4, multiprobe=1, max_bucket=3)
    per_q = got.groupBy("q_id").count().collect()
    # 2 tables x (1+1 probes) x cap 3 = 12 candidates max per query
    assert all(r["count"] <= 12 for r in per_q)


def test_embedding_near_duplicates(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.999, 0.04, 0.0]),  # near-dup of 1
            (3, [0.0, 1.0, 0.0]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    rows = embedding_near_duplicates(df, cosine_threshold=0.95).collect()
    assert [(r["a_id"], r["b_id"]) for r in rows] == [("1", "2")]


def test_embedding_near_duplicates_bucket_cap(spark):
    """A degenerate bucket (many identical vectors) is dropped by the
    max_bucket skew control rather than producing O(n^2) pairs."""
    rows = [(i, [1.0, 0.0, 0.0]) for i in range(20)] + [(100, [0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = embedding_near_duplicates(df, cosine_threshold=0.95, max_bucket=10).collect()
    assert got == []  # all 20 identical vectors share every bucket -> capped away


def test_simhash_bucket_cap(spark):
    """Identical docs beyond max_bucket share every block -> dropped."""
    rows = [(i, "same boilerplate text repeated everywhere") for i in range(8)] + [
        (100, "totally different content of another kind")
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = simhash_near_duplicates(df, max_bucket=5).collect()
    assert got == []
    # and with a cap above the bucket size the pairs come back
    got2 = simhash_near_duplicates(df, max_bucket=50).collect()
    assert len(got2) == 8 * 7 // 2


def _clustered_vectors(n_clusters=20, per_cluster=50, dim=64, noise=0.15, seed=7):
    """Deterministic clustered embeddings: unit centers + small noise,
    renormalized — within-cluster cosine ~0.96+, across ~0. The regime
    IVF is built for (real-world embedding corpora are clustered)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for c in range(n_clusters):
        for m in range(per_cluster):
            v = centers[c] + noise * rng.standard_normal(dim)
            v = v / np.linalg.norm(v)
            rows.append((c * per_cluster + m, c, [float(x) for x in v]))
    return rows


def test_ivf_recall_on_clustered_data(spark):
    """The IVF scale path: on clustered vectors, probing 2 of 20 lists
    (~10% database scan) recovers >=90% of the exact top-10 per query
    (measured: 9 of 10 queries at 1.0; one true cluster splits across
    two lists when two k-means init points land in it)."""
    rows = _clustered_vectors()
    df = spark.createDataFrame(
        rows, "vec_id bigint, cluster int, embedding array<double>"
    ).drop("cluster")
    q = df.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    recalls = [
        r["recall"]
        for r in ivf_recall_at_k(q, df, k=10, n_centroids=20, nprobe=2).collect()
    ]
    assert len(recalls) == 10
    assert min(recalls) >= 0.9 and sum(recalls) / len(recalls) >= 0.98, recalls


def test_ivf_candidates_bounded_by_probe_fraction(spark):
    """Efficiency contract: IVF scans ~nprobe/n_centroids of the
    database, not all of it — the candidate set per query must be far
    below the database size."""
    rows = _clustered_vectors()
    df = spark.createDataFrame(
        rows, "vec_id bigint, cluster int, embedding array<double>"
    ).drop("cluster")
    cent = fit_ivf_centroids(df, n_centroids=20)
    assert cent.shape == (20, 64)
    one_q = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got = ivf_topk(one_q, df, k=10, n_centroids=20, nprobe=2)
    assert got.count() == 10
    # list sizes are data-adaptive and near-balanced on clustered data
    dbk = df.select(
        F.explode(ivf_assign_udf(F.col("embedding"), cent, nprobe=1)).alias("l")
    )
    sizes = [r["count"] for r in dbk.groupBy("l").count().collect()]
    assert max(sizes) <= 3 * (1000 // 20)  # no degenerate mega-list


def test_ivf_sample_prefilter_plan_and_determinism(spark):
    """The quantizer sample must not md5-heap-sort the whole database:
    above 4x sample_cap a deterministic xxhash64 pre-filter precedes the
    order/limit (visible in the plan), the draw stays id-deterministic
    across partitionings, and at/below 4x the plan has no filter so the
    sample is bit-identical to the unfiltered draw."""
    from entity_linking_in_biomedical_spark.operators.similarity import (
        ivf_training_sample,
    )

    def plan_of(df) -> str:
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(True)
        return buf.getvalue()

    rows = [(i, [float(i % 7), 1.0]) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    big = ivf_training_sample(df, sample_cap=10)
    assert "xxhash64" in plan_of(big)
    got1 = [r["vec_id"] for r in big.collect()]
    got2 = [
        r["vec_id"]
        for r in ivf_training_sample(df.repartition(7), sample_cap=10).collect()
    ]
    assert got1 == got2 and len(got1) == 10

    small = ivf_training_sample(df, sample_cap=200)
    assert "xxhash64" not in plan_of(small)
    # unfiltered draw == the pre-refactor behavior: global md5 order
    expected = [
        r["vec_id"]
        for r in df.select(
            "vec_id", F.md5(F.col("vec_id").cast("string")).alias("h")
        )
        .orderBy("h", "vec_id")
        .limit(200)
        .collect()
    ]
    assert [r["vec_id"] for r in small.collect()] == expected


def test_ivf_max_list_truncates_hot_lists(spark):
    """A degenerate list (identical vectors) is truncated at max_list,
    bounding the bucket join fan-out."""
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(50)] + [
        (100, [0.0, 1.0, 0.0, 0.0])
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    q = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got = ivf_topk(q, df, k=50, n_centroids=2, nprobe=2, max_list=10)
    assert got.count() <= 11  # 10 from the hot list + at most the other one


def test_ngram_jaccard_prefix_filter_is_exact(spark):
    """Differential test of the prefix filter: on random docs from a
    tiny vocabulary (lots of borderline-overlap pairs), the operator
    must return EXACTLY the pairs a brute-force O(n^2) jaccard over the
    same shingle sets returns — the prefix bound may prune candidates,
    never answers."""
    import itertools
    import random

    from entity_linking_in_biomedical_spark.operators.dedup import _shingled

    rng = random.Random(11)
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 12))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    for thr in (0.35, 0.5, 0.8):
        got = {
            (r["a_id"], r["b_id"]): round(r["jaccard"], 9)
            for r in ngram_jaccard_pairs(df, jaccard_threshold=thr).collect()
        }
        sets = {
            r["doc_id"]: frozenset(r["shingles"])
            for r in _shingled(df, "doc_id", "text", 3).collect()
        }
        want = {}
        for a, b in itertools.combinations(sorted(sets), 2):
            sa, sb = sets[a], sets[b]
            if not sa and not sb:
                continue
            j = len(sa & sb) / max(len(sa | sb), 1)
            if j >= thr:
                want[(a, b)] = round(j, 9)
        assert got == want, (thr, len(got), len(want))


def test_ngram_jaccard_no_float_ceil_overshoot(spark):
    """Regression: thresholds where t*n is an exact integer used to be
    pruned by ceil-of-double overshoot (ceil(0.07*100) == 8). Doc A's 7
    shingles all inside doc B's 100 -> J = 0.07 exactly; the pair must
    survive at t=0.07."""
    # shingles are word 3-grams over distinct tokens, so w tokens give
    # w-2 distinct shingles: 102 tokens -> 100 for big, 9 -> 7 for small
    toks = [f"t{i}" for i in range(102)]  # 100 shingles
    big = " ".join(toks)
    small = " ".join(toks[:9])  # 7 shingles, all shared with big
    df = spark.createDataFrame([(1, small), (2, big)], "doc_id bigint, text string")
    rows = ngram_jaccard_pairs(df, jaccard_threshold=0.07).collect()
    assert [(r["a_id"], r["b_id"]) for r in rows] == [("1", "2")]
    assert rows[0]["jaccard"] == pytest.approx(0.07)


def test_duplicate_passage_stats_planted(spark):
    from entity_linking_in_biomedical_spark.operators.dedup import (
        duplicate_passage_stats,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"  # 10 toks
    rows = [
        ("a", f"unique one two three {shared} tail tokens here"),
        ("b", f"other prefix words {shared} different ending now"),
        # fully unique doc: every word appears once in the corpus
        ("c", "qq ww ee rr tt yy uu ii oo pp aa ss"),
        # too short for an 8-token window
        ("d", "just five little words here"),
    ]
    got = {
        r["doc_id"]: r
        for r in duplicate_passage_stats(
            spark.createDataFrame(rows, "doc_id string, text string"), window_k=8
        ).collect()
    }
    # the shared 10-token passage gives 3 consecutive shared windows
    # (10-8+1) in each carrier doc
    assert got["a"]["max_dup_run"] == 3 and got["b"]["max_dup_run"] == 3
    assert got["a"]["n_dup_windows"] == 3
    assert got["a"]["n_windows"] == 17 - 8 + 1
    assert got["c"]["n_dup_windows"] == 0 and got["c"]["dup_ratio"] == 0.0
    assert got["d"]["n_windows"] == 0 and got["d"]["max_dup_run"] == 0


def test_remove_duplicate_passages_planted(spark):
    from entity_linking_in_biomedical_spark.operators.dedup import (
        remove_duplicate_passages,
    )

    rows = [
        # internal repetition: "p q r" repeated 3x; keep-first retains
        # only the first period, the rest is covered by removed windows
        ("d0", "p q r p q r p q r"),
        # cross-doc shared passage: d1 (smaller doc_id) is the global
        # first occurrence and survives intact; d2 loses the passage
        ("d1", "one two three four five alpha"),
        ("d2", "zzz one two three four five beta"),
        # shorter than the window: passes through untouched
        ("d3", "tiny doc"),
    ]
    got = {
        r["doc_id"]: r
        for r in remove_duplicate_passages(
            spark.createDataFrame(rows, "doc_id string, text string"), window_k=3
        ).collect()
    }
    assert got["d0"]["cleaned_text"] == "p q r"
    assert got["d0"]["n_tokens"] == 9 and got["d0"]["n_removed"] == 6
    assert got["d1"]["cleaned_text"] == "one two three four five alpha"
    assert got["d1"]["n_removed"] == 0
    assert got["d2"]["cleaned_text"] == "zzz beta"
    assert got["d2"]["n_tokens"] == 7 and got["d2"]["n_removed"] == 5
    assert got["d3"]["cleaned_text"] == "tiny doc"
    assert got["d3"]["n_removed"] == 0


def test_semantic_dedup_planted(spark):
    """SemDeDup over a hand-built frame: two well-separated groups, a
    planted exact copy and a paraphrase-level near-copy (cos >= 0.9)
    drop keep-lowest-id; an orthogonal-ish vector in the same region
    survives."""
    from entity_linking_in_biomedical_spark.operators.dedup import semantic_dedup

    rows = [
        # group A around e_x
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),        # exact copy of 0 -> dropped
        (2, [0.98, 0.199, 0.0, 0.0]),     # cos ~= 0.98 to 0 -> dropped
        (3, [0.5, 0.866, 0.0, 0.0]),      # cos = 0.5 to 0 -> kept
        # group B around e_z
        (4, [0.0, 0.0, 1.0, 0.0]),
        (5, [0.0, 0.0, 0.97, 0.243]),     # cos ~= 0.97 to 4 -> dropped
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = {
        r["vec_id"]: r["kept"]
        for r in semantic_dedup(df, k=2, iters=2, cosine_threshold=0.9).collect()
    }
    assert got == {0: 1, 1: 0, 2: 0, 3: 1, 4: 1, 5: 0}


def test_semantic_dedup_blocking_is_cluster_local(spark):
    """The documented SemDeDup approximation: a >=tau pair SPLIT across
    clusters is not compared, so both rows survive. Two identical
    vectors forced into different clusters by k covering them as
    centroids... instead: k=2 with init = first-2-by-id puts vec 0 and
    1 (identical) as both centroids; after Lloyd rounds identical
    vectors always co-assign, so to exercise cross-cluster blindness
    the pair must be near-dup but nearer to different centroids."""
    from entity_linking_in_biomedical_spark.operators.dedup import semantic_dedup

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        # cos(2,3) ~= 0.995 but 2 leans to centroid 0 and 3 to centroid 1
        (2, [1.0, 0.9]),
        (3, [0.9, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = semantic_dedup(df, k=2, iters=1, cosine_threshold=0.9).collect()
    got = {r["vec_id"]: (r["cluster"], r["kept"]) for r in out}
    assert got[2][0] != got[3][0], "test premise: pair split across clusters"
    assert got[2][1] == 1 and got[3][1] == 1
