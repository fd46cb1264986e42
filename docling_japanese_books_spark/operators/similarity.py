"""Similarity search over embedding columns (J2/T1 at batch scale).

One search core serves every top-k engine. Brute force (broadcast query
batch x corpus) is the exactness baseline. IVF and LSH search an index
held as two artifacts: a model matrix (centroids or hyperplanes, riding
in pandas-UDF closures so the plan stays O(1) in cells x dims) and the
corpus with its cell or bucket column. Queries compute their probe keys
executor-side; one broadcast join on the key yields candidate pairs. The
engines here hold the artifacts as DataFrames; ``ann_index.py`` persists
them as parquet and searches the loaded copy with the same probe and
join code. Every engine, PQ-ADC included, ends in :func:`_rank_top_k`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vectors import cosine


def _stack(v: "pd.Series", dim: "int | None" = None) -> "np.ndarray":
    """Arrow hands an array<float> column as a Series of numpy arrays;
    stack into a (batch, ``dim``) float64 matrix (empty-safe).

    Null or length-mismatched elements become all-NaN rows instead of
    raising — a single null embedding must degrade to a null cell/bucket
    downstream (matching the former column-algebra formulation), never
    kill the whole task. Callers that matmul against a model matrix pass
    its ``dim`` so an off-width row can never change the batch width (a
    ragged row alone in its batch would otherwise shape-error the matmul).
    The dominant all-valid case stays a single vectorized np.array call."""
    if len(v) == 0:
        return np.zeros((0, dim or 1), dtype=np.float64)
    try:
        out = np.array(
            [np.asarray(x, dtype=np.float64) for x in v], dtype=np.float64
        )
        if out.ndim == 2 and (dim is None or out.shape[1] == dim):
            return out
    except (TypeError, ValueError):
        pass
    d = dim
    if d is None:
        dims = [len(x) for x in v if x is not None]
        d = max(dims) if dims else 1
    out = np.full((len(v), d), np.nan, dtype=np.float64)
    for i, x in enumerate(v):
        if x is None:
            continue
        try:
            a = np.asarray(x, dtype=np.float64)
        except (TypeError, ValueError):
            continue
        if a.ndim == 1 and len(a) == d:
            out[i] = a
    return out


def _rank_top_k(
    pairs: DataFrame, score: Column, k: int, query_id: str, corpus_id: str,
    name: str = "score", ascending: bool = False,
) -> DataFrame:
    """The one score-and-rank rule of every top-k engine: round the score
    to 6 dp BEFORE ranking, order per query by score (descending for a
    similarity, ascending for a distance) then ascending corpus id, keep
    rank <= k. Ranking on the rounded value means a 1e-9 near-tie can
    never flip against an oracle that compares rounded values. A pair
    with a null score never ranks.

    Scale: the only shuffle is the per-query rank, keyed by query."""
    scored = pairs.select(
        query_id, corpus_id, F.round(score, 6).alias(name)
    ).filter(F.col(name).isNotNull())
    order = F.asc(name) if ascending else F.desc(name)
    w = Window.partitionBy(query_id).orderBy(order, F.asc(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _cosine_score(vec_col: str) -> Column:
    """Cosine of a corpus vector against the pair's query vector
    ``_qvec``; a pair with a null or mismatched vector scores 0."""
    return F.coalesce(cosine(F.col(vec_col), F.col("_qvec")), F.lit(0.0))


def topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k per query: broadcast(queries) x corpus + the shared
    rank rule. Queries are the small side by construction (a search
    batch); the corpus never shuffles."""
    q = queries.select(F.col(query_id), F.col(vec_col).alias("_qvec"))
    pairs = corpus.crossJoin(F.broadcast(q))
    return _rank_top_k(pairs, _cosine_score(vec_col), k, query_id, corpus_id)


def _probe_join_topk(
    assigned: DataFrame, probes: DataFrame, key: str, k: int,
    query_id: str, corpus_id: str, vec_col: str,
) -> DataFrame:
    """The IVF/LSH search step, in memory and persisted alike: the
    assigned corpus ``(corpus_id, vec_col, key)`` joins the broadcast
    probe rows ``(query_id, _qvec, key)`` on the cell/bucket key, then
    the shared rank rule. The corpus never moves."""
    pairs = assigned.join(F.broadcast(probes), key)
    return _rank_top_k(pairs, _cosine_score(vec_col), k, query_id, corpus_id)


def _seed_centroids(
    corpus: DataFrame, n_cells: int, corpus_id: str, vec_col: str
) -> "np.ndarray":
    """The one centroid-seeding rule: the vectors of the first ``n_cells``
    rows in xxhash64 order of the id (ties by id). Deterministic AND spread
    over the corpus; first-N-by-id seeds cluster whenever ids follow
    insert order. Null embeddings are never seeds."""
    rows = (
        corpus.filter(F.col(vec_col).isNotNull())
        .select(vec_col, corpus_id)
        .orderBy(F.xxhash64(corpus_id), corpus_id)
        .limit(n_cells)
        .select(vec_col)
        .collect()
    )
    return np.array([[float(x) for x in r[0]] for r in rows], dtype=np.float64)


def _unit_rows(m: "np.ndarray") -> "np.ndarray":
    """Row-normalised float64 copy of a centroid matrix; a zero row stays
    zero instead of dividing by zero."""
    m = np.asarray(m, dtype=np.float64)
    norms = np.linalg.norm(m, axis=1)
    norms[norms == 0] = 1.0
    return m / norms[:, None]


def _cell_assign_udf(cents: "np.ndarray"):
    """argmax-cosine cell id as a vectorized pandas UDF. The centroid
    matrix rides in the closure (pickled once per task, KBs), so the plan
    carries ONE expression node whatever the cells x dims (a literal-array
    formulation emitted ~65k nodes at 64 x 1024). Ties go to the first
    max."""
    unit = _unit_rows(cents)

    @F.pandas_udf(T.IntegerType())
    def assign(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="Int32")
        sims = _stack(v, unit.shape[1]) @ unit.T
        # NaN rows (null/ragged embeddings) -> null cell, not a bogus argmax
        valid = np.isfinite(sims).all(axis=1)
        out = pd.array(sims.argmax(axis=1).astype(np.int32), dtype="Int32")
        out[~valid] = pd.NA
        return pd.Series(out)

    return assign


def _probe_cells_udf(cents: "np.ndarray", n_probe: int):
    """Top-``n_probe`` nearest cell ids as a vectorized pandas UDF (same
    closure-broadcast centroid matrix as :func:`_cell_assign_udf`). Probe
    selection stays executor-side so the query frame is never collected to
    the driver. Ties break toward the lower cell id (stable argsort)."""
    unit = _unit_rows(cents)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probes(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        sims = _stack(v, unit.shape[1]) @ unit.T
        valid = np.isfinite(sims).all(axis=1)
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
        return pd.Series(
            [
                row.astype(np.int32).tolist() if ok else None
                for row, ok in zip(order, valid)
            ]
        )

    return probes


def _ivf_index(
    corpus: DataFrame, n_cells: int, centroids: "np.ndarray | None",
    corpus_id: str, vec_col: str,
) -> "tuple[np.ndarray, DataFrame]":
    """An IVF index as (centroid matrix, assigned corpus
    ``(corpus_id, vec_col, cell)``): the two artifacts
    ``ann_index.save_ivf_index`` writes, held in memory. A null or
    ragged embedding gets a null cell and is never a candidate."""
    cents = (
        _seed_centroids(corpus, n_cells, corpus_id, vec_col)
        if centroids is None
        else np.asarray(centroids, dtype=np.float64)
    )
    assigned = corpus.select(
        corpus_id, vec_col, _cell_assign_udf(cents)(F.col(vec_col)).alias("cell")
    )
    return cents, assigned


def _ivf_probes(
    queries: DataFrame, cents: "np.ndarray", n_probe: int, query_id: str, vec_col: str
) -> DataFrame:
    """``(query_id, _qvec, cell)``: one row per probed cell of each query.

    The probe array is materialized in its own projection, then
    explode_outer + null-filter: a plain explode over a deterministic UDF
    makes Catalyst inject a size()>0 pre-filter that re-evaluates the UDF
    (pinned by tests/test_plans.py for the chunkers; same shape here). A
    query with a bad embedding has no probes and so no results."""
    return (
        queries.select(
            F.col(query_id),
            F.col(vec_col).alias("_qvec"),
            _probe_cells_udf(cents, n_probe)(F.col(vec_col)).alias("_cells"),
        )
        .select(query_id, "_qvec", F.explode_outer("_cells").alias("cell"))
        .filter(F.col("cell").isNotNull())
    )


def train_centroids(
    corpus: DataFrame,
    dim: int,
    n_cells: int = 16,
    n_iters: int = 3,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Distributed Lloyd iterations for IVF centroids.

    Init = the shared hash-ordered seeds (:func:`_seed_centroids`). Each
    iteration: assign cells (the closure-matrix UDF), per-cell means via
    dim per-element averages (one shuffle on the cell id), collect the
    k x dim result (tiny) and fold into the next plan. Empty cells keep
    their previous centroid. 3 iterations = 3 jobs; the corpus is scanned,
    never collected."""
    cents = _seed_centroids(corpus, n_cells, corpus_id, vec_col)
    for _ in range(n_iters):
        assigned = corpus.withColumn(
            "_cell", _cell_assign_udf(cents)(F.col(vec_col))
        )
        # per-cell per-dimension means via posexplode + groupBy(cell, dim):
        # avg is partially aggregatable, so the shuffle carries only
        # k x dim x n_partitions partial sums — and the plan stays O(1)
        # expressions regardless of dim (a dim-wide avg(element_at) column
        # list blows up the plan at 1024+ dims)
        means = (
            assigned.select("_cell", F.posexplode(F.col(vec_col)).alias("_d", "_v"))
            .groupBy("_cell", "_d")
            .agg(F.avg("_v").alias("_m"))
            .collect()
        )
        new = cents.copy()
        by_cell: dict = {}
        for r in means:
            by_cell.setdefault(r["_cell"], {})[r["_d"]] = r["_m"]
        for cell, dims in by_cell.items():
            new[cell] = [dims[i] for i in range(dim)]
        cents = new
    return cents


def topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    centroids: "np.ndarray | None" = None,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: partition the corpus into cells around
    centroids, probe only the n_probe cells nearest each query.

    Centroids default to the shared hash-ordered seeds (a kmeans stand-in
    that keeps the operator dependency-free); trained ones
    (:func:`train_centroids`) plug into the same plan. Same probe -> join
    -> rank code as ``ann_index.topk_ivf_indexed``; the query side is
    never collected to the driver.

    Scale: corpus never moves — the only join is corpus ⋈ broadcast(probe
    rows) on the cell id, then per-query rank. Recall grows with n_probe
    (n_probe = n_cells degenerates to exact brute force)."""
    cents, assigned = _ivf_index(corpus, n_cells, centroids, corpus_id, vec_col)
    probes = _ivf_probes(queries, cents, n_probe, query_id, vec_col)
    return _probe_join_topk(
        assigned, probes, "cell", k, query_id, corpus_id, vec_col
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> "np.ndarray":
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).astype(np.float64)


def bucket_udf_for(planes: "np.ndarray"):
    """Sign-bit bucket UDF for an explicit hyperplane matrix (used both by
    the seeded in-memory path and the persisted-index path, which loads
    its planes from an artifact table)."""
    weights = (1 << np.arange(planes.shape[0], dtype=np.int64))

    @F.pandas_udf(T.LongType())
    def bucket(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="Int64")
        proj = _stack(v, planes.shape[1]) @ planes.T
        valid = np.isfinite(proj).all(axis=1)
        bits = proj >= 0
        out = pd.array((bits.astype(np.int64) @ weights).astype(np.int64), dtype="Int64")
        out[~valid] = pd.NA
        return pd.Series(out)

    return bucket


def lsh_bucket(vec: Column, dim: int, n_planes: int = 8, seed: int = 42) -> Column:
    """Pack sign(v . plane_i) bits into a bucket id — a vectorized pandas
    UDF whose (n_planes x dim) plane matrix rides in the closure: one
    matmul + sign-bit pack per Arrow batch, a single plan node regardless
    of dimensionality (the former literal-array formulation emitted
    n_planes x dim plan literals and n_planes interpreted folds per row).
    Planes are deterministic (seeded numpy)."""
    return bucket_udf_for(_hyperplanes(dim, n_planes, seed))(vec)


def _lsh_index(
    corpus: DataFrame, dim: int, n_planes: int, seed: int, corpus_id: str, vec_col: str
) -> "tuple[np.ndarray, DataFrame]":
    """An LSH index as (hyperplane matrix, assigned corpus
    ``(corpus_id, vec_col, bucket)``): the two artifacts
    ``ann_index.save_lsh_index`` writes, held in memory."""
    planes = _hyperplanes(dim, n_planes, seed)
    assigned = corpus.select(
        corpus_id, vec_col, bucket_udf_for(planes)(F.col(vec_col)).alias("bucket")
    )
    return planes, assigned


def _lsh_probes(
    queries: DataFrame, planes: "np.ndarray", n_probe_bits: int, query_id: str,
    vec_col: str,
) -> DataFrame:
    """``(query_id, _qvec, bucket)``: each query's own bucket plus, for
    multi-probe, the buckets one flip away in each of its first
    ``n_probe_bits`` sign bits. The bucket UDF runs ONCE per query row in
    its own projection; the XOR fan-out reads the materialized column. A
    query with a bad embedding (null bucket) has no probes: the null filter
    sits above the explode so Catalyst cannot push it onto the UDF and
    evaluate it twice."""
    base = F.col("_b0")
    probe_arr = F.array(
        base, *[base.bitwiseXOR(F.lit(1 << i)) for i in range(n_probe_bits)]
    )
    return (
        queries.select(
            F.col(query_id),
            F.col(vec_col).alias("_qvec"),
            bucket_udf_for(planes)(F.col(vec_col)).alias("_b0"),
        )
        .select(query_id, "_qvec", F.explode(probe_arr).alias("bucket"))
        .filter(F.col("bucket").isNotNull())
    )


def topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    seed: int = 42,
    n_probe_bits: int = 0,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane bucket.

    Recall is tunable two ways: fewer planes -> bigger buckets; and
    multi-probe (``n_probe_bits`` > 0) -> each query also probes the
    buckets reachable by flipping one of its first ``n_probe_bits`` sign
    bits (the nearest neighboring half-spaces). Multi-probe multiplies the
    query side only — the corpus is bucketed once and never moves. Same
    probe -> join -> rank code as ``ann_index.topk_lsh_indexed``."""
    planes, assigned = _lsh_index(corpus, dim, n_planes, seed, corpus_id, vec_col)
    probes = _lsh_probes(queries, planes, n_probe_bits, query_id, vec_col)
    return _probe_join_topk(
        assigned, probes, "bucket", k, query_id, corpus_id, vec_col
    )
