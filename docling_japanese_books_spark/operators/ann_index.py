"""Persisted ANN indexes — build once, search later, never re-hash.

The reference creates a DURABLE vector collection and searches it in a
separate process later (ref vector_db.py:208-229 creates the persistent
Milvus collection; :350-400 searches it). Here "the collection" is the
index's artifacts written as parquet tables:

    {path}/centroids/     (cell:int, vec:array<double>)      — KBs
    {path}/assignments/   (vec_id, embedding, cell=...)      — the corpus,
                          PARTITIONED BY cell

(LSH: ``hyperplanes/`` and a bucket-partitioned ``assignments/``; PQ:
``codebooks/`` and ``codes/``.)

There is one search core: the in-memory engines in ``similarity.py``
hold these same artifacts as DataFrames, and the searches here load them
and call the same probe -> broadcast join -> score -> rank code. The one
step added here is the partition prune: the distinct probe keys are a
bounded collect (<= n_cells whatever the batch size), so the key filter
is a STATIC partition-pruning predicate — a 4-of-64-cell probe reads ~6%
of the index bytes. The corpus is never re-assigned or fully re-read.

tests/test_ann_index.py pins save -> load fidelity (a loaded index
answers exactly as the in-memory one it was saved from) and the pruned
scan plan; the exhaustive-probe configuration is oracle-checked
end-to-end by the ``ann_ivf_persist`` driver query.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .quantize import pq_encode_udf, topk_pq_adc
from .similarity import (
    _ivf_index,
    _ivf_probes,
    _lsh_index,
    _lsh_probes,
    _probe_join_topk,
)


def _write_matrix(spark: SparkSession, mat: "np.ndarray", path: str, key: str) -> None:
    """A model matrix as a one-file ``(key int, vec array<double>)`` table."""
    rows = [(i, [float(x) for x in row]) for i, row in enumerate(mat)]
    df = spark.createDataFrame(rows, f"{key} int, vec array<double>")
    df.coalesce(1).write.mode("overwrite").parquet(path)


def _read_matrix(spark: SparkSession, path: str, key: str) -> "np.ndarray":
    """Inverse of :func:`_write_matrix` (tiny bounded collect)."""
    rows = spark.read.parquet(path).orderBy(key).collect()
    return np.array([r["vec"] for r in rows], dtype=np.float64)


def _search_probed(
    spark: SparkSession, path: str, probes: DataFrame, key: str, k: int,
    query_id: str, corpus_id: str, vec_col: str,
) -> DataFrame:
    """Scan only the probed partitions of ``{path}/assignments``, then the
    search step the in-memory engines run. The distinct-key collect is one tiny job
    that turns the join into a statically pruned scan (only the probed
    partitions are listed, let alone read); an in-memory index has no
    files to prune, so only this path pays it."""
    keys = sorted(int(r[key]) for r in probes.select(key).distinct().collect())
    assigned = spark.read.parquet(f"{path}/assignments").filter(
        F.col(key).isin(keys)
    )
    return _probe_join_topk(assigned, probes, key, k, query_id, corpus_id, vec_col)


def save_ivf_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    centroids: "np.ndarray | None" = None,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> "np.ndarray":
    """Build and persist an IVF index: centroid table + cell-partitioned
    corpus assignments. One pass over the corpus (the assignment UDF),
    one partitioned write — the pay-once cost that every later search
    job amortizes. Returns the centroid matrix."""
    cents, assigned = _ivf_index(corpus, n_cells, centroids, corpus_id, vec_col)
    _write_matrix(corpus.sparkSession, cents, f"{path}/centroids", "cell")
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/assignments"
    )
    return cents


def load_ivf_centroids(spark: SparkSession, path: str) -> "np.ndarray":
    """Centroid matrix from the artifact table (tiny bounded collect)."""
    return _read_matrix(spark, f"{path}/centroids", "cell")


def topk_ivf_indexed(
    spark: SparkSession,
    queries: DataFrame,
    path: str,
    k: int = 5,
    n_probe: int = 4,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a persisted IVF index: probe-cell UDF on the query side
    only, static partition pruning on the assignments scan, broadcast
    probe join + per-query rank. The corpus side of the plan contains no
    Python stage and scans only the probed cells' partitions."""
    cents = load_ivf_centroids(spark, path)
    probes = _ivf_probes(queries, cents, n_probe, query_id, vec_col)
    return _search_probed(
        spark, path, probes, "cell", k, query_id, corpus_id, vec_col
    )


def save_pq_index(
    corpus: DataFrame,
    path: str,
    codebooks: "np.ndarray",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist a product-quantization index: the (m, k, dsub) codebook
    tensor as a tiny parquet table plus the corpus encoded to m one-byte
    codes. A search job then reads ONLY (id, codes) — float vectors never
    hit disk twice nor the search scan at all (the PQ storage win,
    ~dim*4/m smaller)."""
    spark = corpus.sparkSession
    books = np.asarray(codebooks, dtype=np.float64)
    m, k, dsub = books.shape
    rows = [
        (s, c, [float(x) for x in books[s, c]])
        for s in range(m)
        for c in range(k)
    ]
    spark.createDataFrame(
        rows, "subspace int, centroid int, vec array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    (
        corpus.select(
            corpus_id, pq_encode_udf(books)(F.col(vec_col)).alias("codes")
        )
        .write.mode("overwrite")
        .parquet(f"{path}/codes")
    )


def load_pq_codebooks(spark: SparkSession, path: str) -> "np.ndarray":
    rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = max(r.subspace for r in rows) + 1
    k = max(r.centroid for r in rows) + 1
    dsub = len(rows[0].vec)
    books = np.zeros((m, k, dsub), dtype=np.float64)
    for r in rows:
        books[r.subspace, r.centroid] = r.vec
    return books


def topk_pq_indexed(
    spark: SparkSession,
    queries: DataFrame,
    path: str,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a persisted PQ index by asymmetric distance: the scan side
    is the codes table alone (plan-pinned — its ReadSchema carries no
    embedding column), the codebooks ride the scoring UDF's closure."""
    books = load_pq_codebooks(spark, path)
    codes = spark.read.parquet(f"{path}/codes")
    return topk_pq_adc(
        queries, codes, books, k=k,
        query_id=query_id, corpus_id=corpus_id, vec_col=vec_col,
    )


def save_lsh_index(
    corpus: DataFrame,
    path: str,
    dim: int,
    n_planes: int = 8,
    seed: int = 42,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an LSH index: hyperplane matrix (derivable from the seed,
    stored anyway so a reader never depends on RNG reproducibility) +
    bucket-partitioned corpus."""
    planes, assigned = _lsh_index(corpus, dim, n_planes, seed, corpus_id, vec_col)
    _write_matrix(corpus.sparkSession, planes, f"{path}/hyperplanes", "plane")
    assigned.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{path}/assignments"
    )


def topk_lsh_indexed(
    spark: SparkSession,
    queries: DataFrame,
    path: str,
    k: int = 5,
    n_probe_bits: int = 0,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a persisted LSH index (multi-probe supported); the corpus is
    bucketed once at save time and only probed buckets are scanned."""
    planes = _read_matrix(spark, f"{path}/hyperplanes", "plane")
    probes = _lsh_probes(queries, planes, n_probe_bits, query_id, vec_col)
    return _search_probed(
        spark, path, probes, "bucket", k, query_id, corpus_id, vec_col
    )
