"""Similarity search: brute-force exactness + LSH approximation properties."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docling_japanese_books_spark.operators.similarity import (
    lsh_bucket,
    topk_bruteforce,
    topk_lsh,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_bruteforce_self_query_ranks_first(spark, emb):
    queries = emb.filter("vec_id = 10").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = topk_bruteforce(queries, emb, k=1).collect()
    assert out[0].vec_id == 10 and abs(out[0].score - 1.0) < 1e-9


def test_bruteforce_k_rows_per_query(spark, emb):
    queries = emb.filter("vec_id < 4").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = topk_bruteforce(queries, emb.filter("vec_id >= 4"), k=5)
    counts = out.groupBy("query_id").count().collect()
    assert all(r["count"] == 5 for r in counts) and len(counts) == 4


def test_lsh_self_query_finds_itself(spark, emb):
    queries = emb.filter("vec_id = 10").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = topk_lsh(queries, emb, dim=64, k=1, n_planes=6).collect()
    assert out and out[0].vec_id == 10  # same vector -> same bucket, score 1


def test_lsh_results_subset_of_bruteforce_scores(spark, emb):
    queries = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter("vec_id >= 3")
    bf = {
        (r.query_id, r.vec_id): r.score
        for r in topk_bruteforce(queries, corpus, k=1000).collect()
    }
    approx = topk_lsh(queries, corpus, dim=64, k=5, n_planes=4).collect()
    for r in approx:
        assert abs(bf[(r.query_id, r.vec_id)] - r.score) < 1e-9


def test_lsh_bucket_deterministic(spark, emb):
    a = emb.select(lsh_bucket(F.col("embedding"), 64, 8, seed=1).alias("b")).collect()
    b = emb.select(lsh_bucket(F.col("embedding"), 64, 8, seed=1).alias("b")).collect()
    assert [r.b for r in a] == [r.b for r in b]
    assert all(0 <= r.b < 256 for r in a)


def test_ivf_self_query_and_subset(spark, emb):
    from docling_japanese_books_spark.operators.similarity import topk_ivf

    queries = emb.filter("vec_id IN (10, 20)").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = topk_ivf(queries, emb, dim=64, k=3, n_cells=8, n_probe=8).collect()
    # n_probe == n_cells -> exact: self is rank 1
    top1 = {r.query_id: r.vec_id for r in out if r.rank == 1}
    assert top1 == {10: 10, 20: 20}


def test_ivf_probe_limits_candidates(spark, emb):
    from docling_japanese_books_spark.operators.similarity import (
        topk_bruteforce,
        topk_ivf,
    )

    queries = emb.filter("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter("vec_id >= 2")
    approx = topk_ivf(queries, corpus, dim=64, k=5, n_cells=8, n_probe=2).collect()
    bf = {
        (r.query_id, r.vec_id): r.score
        for r in topk_bruteforce(queries, corpus, k=1000).collect()
    }
    assert approx
    for r in approx:  # scores must agree with exact cosine
        assert abs(bf[(r.query_id, r.vec_id)] - r.score) < 1e-9


def test_lsh_multiprobe_recall_monotone(spark, emb):
    queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter("vec_id >= 5")
    bf_top1 = {
        r.query_id: r.vec_id
        for r in topk_bruteforce(queries, corpus, k=1).collect()
    }

    def recall(n_probe_bits: int) -> float:
        got = {
            r.query_id: r.vec_id
            for r in topk_lsh(
                queries, corpus, dim=64, k=1, n_planes=8, n_probe_bits=n_probe_bits
            ).collect()
            if r.rank == 1
        }
        return sum(got.get(q) == v for q, v in bf_top1.items()) / len(bf_top1)

    r0, r4 = recall(0), recall(4)
    assert r4 >= r0  # probing more buckets never reduces recall
    # multi-probe candidate sets strictly contain single-probe sets
    single = {(r.query_id, r.vec_id) for r in topk_lsh(
        queries, corpus, dim=64, k=50, n_planes=8, n_probe_bits=0).collect()}
    multi = {(r.query_id, r.vec_id) for r in topk_lsh(
        queries, corpus, dim=64, k=50, n_planes=8, n_probe_bits=4).collect()}
    assert single <= multi


def test_ivf_trained_centroids(spark, emb):
    import numpy as np
    from docling_japanese_books_spark.operators.similarity import (
        topk_ivf,
        train_centroids,
    )

    corpus = emb.filter("vec_id >= 2")
    cents = train_centroids(corpus, dim=64, n_cells=4, n_iters=2)
    assert cents.shape == (4, 64)

    # training must be deterministic
    cents2 = train_centroids(corpus, dim=64, n_cells=4, n_iters=2)
    assert np.allclose(cents, cents2)

    # trained centroids plug into the same search plan; scores stay exact
    queries = emb.filter("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = topk_ivf(
        queries, corpus, dim=64, k=3, n_cells=4, n_probe=4, centroids=cents
    ).collect()
    bf = {
        (r.query_id, r.vec_id): r.score
        for r in topk_bruteforce(queries, corpus, k=1000).collect()
    }
    assert out
    for r in out:
        assert abs(bf[(r.query_id, r.vec_id)] - r.score) < 1e-9


def test_bruteforce_ranks_on_rounded_score(spark):
    """A 1e-9 near-tie must rank by the ROUNDED score (then id) so Spark
    and a 6-decimal-rounding oracle can never disagree on tie order."""
    from docling_japanese_books_spark.operators.similarity import topk_bruteforce

    # two corpus vectors whose cosine vs the query differ by ~1e-9:
    # vec 2 is an epsilon rotation of vec 1 — both round to the same score
    q = spark.createDataFrame([(0, [1.0, 0.0])], "query_id long, embedding array<float>")
    corpus = spark.createDataFrame(
        [
            (9, [0.9, 0.435889894354]),      # cos ~0.9
            (1, [0.999999999, 4.4721e-5]),   # cos ~1.0
            (2, [0.9999999992, 4.0e-5]),     # cos ~1.0 (1e-10 closer)
        ],
        "vec_id long, embedding array<float>",
    )
    out = topk_bruteforce(q, corpus, k=3).collect()
    by_rank = {r.rank: r.vec_id for r in out}
    # rounded scores tie at 1.0 -> ascending id breaks the tie, NOT the ulp
    assert by_rank[1] == 1 and by_rank[2] == 2 and by_rank[3] == 9
    for r in out:
        assert r.score == round(r.score, 6)


def test_null_and_ragged_embeddings_degrade_not_crash(spark, emb, tmp_path):
    """ADVICE r4: a null or length-mismatched embedding element must map
    to a null cell/bucket (row silently excluded from candidates), never
    TypeError the whole task — one bad row was killing topk_ivf/topk_lsh."""
    from docling_japanese_books_spark.operators.similarity import topk_ivf

    bad = spark.createDataFrame(
        [(9001, None), (9002, [1.0, 2.0])],  # null + ragged (dim 2, not 64)
        "vec_id long, embedding array<float>",
    )
    corpus = emb.filter("vec_id >= 2").select("vec_id", "embedding").unionByName(bad)
    queries = emb.filter("vec_id IN (10, 20)").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    out = topk_ivf(queries, corpus, dim=64, k=3, n_cells=8, n_probe=8).collect()
    assert {r.query_id: r.vec_id for r in out if r.rank == 1} == {10: 10, 20: 20}
    assert all(r.vec_id < 9000 for r in out)  # bad rows never become candidates

    out2 = topk_lsh(queries, corpus, dim=64, k=3, n_planes=6).collect()
    assert out2 and all(r.vec_id < 9000 for r in out2)

    # a bad QUERY row yields no results for that query, not a crash
    bad_q = bad.select(F.col("vec_id").alias("query_id"), "embedding")
    assert topk_ivf(bad_q, corpus, dim=64, k=3, n_cells=8, n_probe=2).count() == 0
    assert topk_lsh(bad_q, corpus, dim=64, k=3, n_planes=6).count() == 0

    # the persisted indexes: save -> search over the same corpus. The bad
    # rows land in the null (__HIVE_DEFAULT_PARTITION__) cell/bucket, which
    # no probe ever names, so they are written but never returned.
    import os

    from docling_japanese_books_spark.operators.ann_index import (
        save_ivf_index,
        save_lsh_index,
        topk_ivf_indexed,
        topk_lsh_indexed,
    )

    ivf, lsh = str(tmp_path / "ivf"), str(tmp_path / "lsh")
    save_ivf_index(corpus, ivf, n_cells=8)
    save_lsh_index(corpus, lsh, dim=64, n_planes=6)
    for path, key in ((ivf, "cell"), (lsh, "bucket")):
        null_part = f"{path}/assignments/{key}=__HIVE_DEFAULT_PARTITION__"
        assert os.path.isdir(null_part), os.listdir(f"{path}/assignments")
        stored = spark.read.parquet(f"{path}/assignments")
        assert {
            r.vec_id for r in stored.filter(F.col(key).isNull()).collect()
        } == {9001, 9002}

    for out in (
        topk_ivf_indexed(spark, queries, ivf, k=3, n_probe=8).collect(),
        topk_lsh_indexed(spark, queries, lsh, k=3).collect(),
    ):
        assert {r.query_id: r.vec_id for r in out if r.rank == 1} == {10: 10, 20: 20}
        assert all(r.vec_id < 9000 for r in out)
    assert topk_ivf_indexed(spark, bad_q, ivf, k=3, n_probe=2).count() == 0
    assert topk_lsh_indexed(spark, bad_q, lsh, k=3).count() == 0
