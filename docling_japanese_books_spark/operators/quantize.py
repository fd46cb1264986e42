"""Embedding quantization kernels (A14 made real).

The reference's quantization study is analytical — storage-size and
claimed-speed tables (``quantization_analysis.py:110-247``); it never
quantizes a vector. These are the actual kernels, as column algebra so
they run inside the scan projection:

- **int8 symmetric**: scale = max|v| / 127, q_i = round(v_i / scale),
  dequant = q_i * scale. Storage 4x smaller; reconstruction error
  measured, not assumed.
- **binary (sign)**: b_i = 1 if v_i > 0 — 32x smaller, searched by
  hamming distance (pairs with the SimHash machinery in dedup.py).

HOF expressions are interpreted per element (fine for projections at
64-1024 dims; for a quantize-everything hot path, swap in a numpy pandas
UDF with identical arithmetic).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_EPS = 1e-12  # all-zero vectors quantize to zeros, not NaNs


def int8_scale(vec: Column) -> Column:
    """Symmetric per-vector scale: max|v| / 127."""
    return F.greatest(
        F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double")))) / 127.0,
        F.lit(_EPS),
    )


def quantize_int8(vec: Column, scale: Column) -> Column:
    """v -> array<int> in [-127, 127]."""
    return F.transform(
        vec, lambda x: F.round(x.cast("double") / scale).cast("int")
    )


def dequantize_int8(q: Column, scale: Column) -> Column:
    return F.transform(q, lambda x: x.cast("double") * scale)


def reconstruction_mse(vec: Column, deq: Column) -> Column:
    """Mean squared error between the original and dequantized vectors."""
    sq = F.zip_with(vec, deq, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b))
    return F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x) / F.size(vec)


def quantize_binary(vec: Column) -> Column:
    """Sign quantization: array<int> of 0/1 (1 where v > 0)."""
    return F.transform(vec, lambda x: (x.cast("double") > 0).cast("int"))


# ---------------------------------------------------------------------------
# Product quantization (the vector-search scale path: m bytes per vector)
# ---------------------------------------------------------------------------
#
# int8 shrinks 4x and binary 32x, but both still scan full vectors. PQ
# (Jegou et al. 2011, the public IVF-PQ recipe) splits each vector into m
# subspaces, k-means-codebooks each, and stores m ONE-BYTE codes; search
# computes one (m x k) lookup table per query and scores a candidate with
# m table lookups — no float vector is ever touched at scan time. Training
# runs driver-side on a BOUNDED sample (codebooks are the model — KBs);
# encoding and ADC scoring are Arrow-batched UDFs with the codebooks in
# their closures, the same closure-broadcast pattern as IVF/LSH.

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from .similarity import _rank_top_k, _stack  # noqa: E402


def train_pq_codebooks(
    sample: "np.ndarray", m: int, k: int = 16, n_iters: int = 5
) -> "np.ndarray":
    """(n, dim) training sample -> (m, k, dim/m) codebooks. Deterministic:
    init = first k distinct subvectors in sample order, then Lloyd
    iterations; empty cells keep their previous centroid. When k >= the
    number of distinct subvectors the codebook contains them all and
    encoding becomes EXACT (pytest pins that degenerate case)."""
    sample = np.asarray(sample, dtype=np.float64)
    if sample.ndim != 2 or sample.shape[0] == 0:
        raise ValueError("PQ training needs a non-empty (n, dim) sample")
    n, dim = sample.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = []
    for s in range(m):
        sub = sample[:, s * dsub : (s + 1) * dsub]
        uniq, first = np.unique(sub, axis=0, return_index=True)
        init = sub[np.sort(first)][:k]
        cents = np.full((min(k, len(init)), dsub), 0.0)
        cents[: len(init)] = init
        for _ in range(n_iters):
            d = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(len(cents)):
                mask = assign == c
                if mask.any():
                    cents[c] = sub[mask].mean(axis=0)
        if len(cents) < k:  # pad so every codebook is (k, dsub)
            cents = np.vstack([cents, np.repeat(cents[-1:], k - len(cents), 0)])
        books.append(cents)
    return np.stack(books)


def pq_encode_udf(codebooks: "np.ndarray"):
    """embedding -> array<int> of m codes (one batched distance matrix
    per subspace per Arrow batch; codebooks in the closure)."""
    books = np.asarray(codebooks, dtype=np.float64)
    m, k, dsub = books.shape

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        x = _stack(v, m * dsub)
        valid = np.isfinite(x).all(axis=1)
        codes = np.zeros((len(x), m), dtype=np.int32)
        for s in range(m):
            sub = x[:, s * dsub : (s + 1) * dsub]
            d = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
            codes[:, s] = np.nan_to_num(d, nan=np.inf).argmin(axis=1)
        return pd.Series(
            [row.tolist() if ok else None for row, ok in zip(codes, valid)]
        )

    return encode


def pq_decode(codes: "np.ndarray", codebooks: "np.ndarray") -> "np.ndarray":
    """(n, m) codes -> (n, dim) reconstructed vectors (test/analysis)."""
    books = np.asarray(codebooks, dtype=np.float64)
    m = books.shape[0]
    return np.concatenate(
        [books[s][np.asarray(codes)[:, s]] for s in range(m)], axis=1
    )


def topk_pq_adc(
    queries: DataFrame,
    corpus_codes: DataFrame,
    codebooks: "np.ndarray",
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str = "codes",
) -> DataFrame:
    """Asymmetric-distance top-k: per query an (m x k) LUT of squared
    subspace distances, candidate score = m lookups over its codes.
    Smallest distance ranks first (ties by corpus id). The corpus side
    carries only codes — never float vectors — so at 100 TB the scan is
    m bytes/row; queries broadcast."""
    books = np.asarray(codebooks, dtype=np.float64)
    m, kc, dsub = books.shape

    @F.pandas_udf(T.DoubleType())
    def adc(qv: pd.Series, codes: pd.Series) -> pd.Series:
        if len(qv) == 0:
            return pd.Series([], dtype="float64")
        q = _stack(qv, m * dsub)
        luts: dict = {}
        out = np.full(len(qv), np.nan)
        for i in range(len(qv)):
            qi = q[i]
            if not np.isfinite(qi).all() or codes.iloc[i] is None:
                continue
            key = qi.tobytes()
            lut = luts.get(key)
            if lut is None:
                lut = np.stack(
                    [
                        ((books[s] - qi[s * dsub : (s + 1) * dsub]) ** 2).sum(1)
                        for s in range(m)
                    ]
                )
                luts[key] = lut
            c = np.asarray(codes.iloc[i], dtype=np.int64)
            out[i] = lut[np.arange(m), c].sum()
        return pd.Series(out)

    q = queries.select(F.col(query_id), F.col(vec_col).alias("_qvec"))
    pairs = corpus_codes.crossJoin(F.broadcast(q))
    return _rank_top_k(
        pairs, adc(F.col("_qvec"), F.col(codes_col)), k, query_id, corpus_id,
        name="adc_dist", ascending=True,
    )
