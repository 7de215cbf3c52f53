"""Stage-2 pair-scoring kernels — the analog of the reference's
cross-encoder pairwise rescoring (/root/reference/blink/crossencoder/
crossencoder.py:210-220, batched scoring train_crossencoder_mst.py:64-89).

Three kernels, per BASELINE.json north star:
  * Jaro-Winkler on paths      (batched Arrow pandas UDF)
  * token-set Jaccard          (native Column expr — JVM, codegen)
  * TF cosine                  (Counter-based Arrow kernel, exact in
                                any summation order)
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------- Jaro-Winkler

_JW_PREFIX_WEIGHT = 0.1
_JW_BOOST_THRESHOLD = 0.7  # winkler boost applied only above this jaro score


def jaro_py(s1: str, s2: str) -> float:
    """Standard Jaro similarity (pure Python; also the UDF kernel)."""
    n1, n2 = len(s1), len(s2)
    if n1 == 0 or n2 == 0:
        return 0.0  # DuckDB convention: empty vs anything (incl. empty) -> 0
    if s1 == s2:
        return 1.0
    window = max(n1, n2) // 2 - 1
    if window < 0:
        window = 0
    m1 = [False] * n1
    m2 = [False] * n2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - window)
        hi = min(n2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = True
                m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(n1):
        if m1[i]:
            while not m2[j]:
                j += 1
            if s1[i] != s2[j]:
                t += 1
            j += 1
    t //= 2
    return (matches / n1 + matches / n2 + (matches - t) / matches) / 3.0


def jaro_winkler_py(s1: str, s2: str) -> float:
    """Jaro-Winkler with standard 0.1 prefix weight + 0.7 boost threshold
    (matches DuckDB's jaro_winkler_similarity — verified in tests)."""
    jaro = jaro_py(s1, s2)
    if jaro > _JW_BOOST_THRESHOLD:
        prefix = 0
        for c1, c2 in zip(s1[:4], s2[:4]):
            if c1 != c2:
                break
            prefix += 1
        jaro += prefix * _JW_PREFIX_WEIGHT * (1.0 - jaro)
    return jaro


def jaro_winkler_udf():
    """Arrow-batched pandas UDF: (string, string) -> double."""

    @F.pandas_udf(T.DoubleType())
    def _jw(batches: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        cache: dict[tuple[str, str], float] = {}
        for s1, s2 in batches:
            out = []
            for a, b in zip(s1, s2):
                if a is None or b is None:
                    out.append(0.0)
                    continue
                key = (a, b)
                v = cache.get(key)
                if v is None:
                    v = jaro_winkler_py(a, b)
                    if len(cache) < 1_000_000:
                        cache[key] = v
                out.append(v)
            yield pd.Series(out, dtype="float64")

    return _jw


# ------------------------------------------------------------ token Jaccard


def token_set_jaccard(a: Column, b: Column) -> Column:
    """|A ∩ B| / |A ∪ B| over distinct-token arrays. JVM-native.

    Both-empty => 1.0 (identical empties are a match).
    """
    da, db = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(da, db)).cast("double")
    union = F.size(F.array_union(da, db)).cast("double")
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


# ---------------------------------------------------------------- TF cosine


def tf_cosine_py(a: list[str], b: list[str]) -> float:
    """Pure-Python oracle + UDF kernel.

    Bit-identical to the DuckDB oracle in ANY summation order: term
    counts are integers, so dot and the squared norms are exact in
    float64 (< 2^53); math.sqrt is correctly rounded IEEE; the final
    division is a single rounding — so the Counter kernel keeps
    value-hash parity.
    """
    import math
    from collections import Counter

    ca, cb = Counter(a or []), Counter(b or [])
    if not ca or not cb:
        return 0.0
    if len(ca) > len(cb):
        ca, cb = cb, ca
    dot = sum(v * cb[k] for k, v in ca.items() if k in cb)
    na = math.sqrt(sum(v * v for v in ca.values()))
    nb = math.sqrt(sum(v * v for v in cb.values()))
    return dot / (na * nb) if na and nb else 0.0


def tf_cosine_udf():
    """Arrow-batched pandas UDF: (array<string>, array<string>) -> double."""

    @F.pandas_udf(T.DoubleType())
    def _cos(batches: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        for a, b in batches:
            yield pd.Series(
                [tf_cosine_py(list(x) if x is not None else [], list(y) if y is not None else [])
                 for x, y in zip(a, b)],
                dtype="float64",
            )

    return _cos


# ----------------------------------------------- fused hashed-pair scorer


def presorted_pair_scores_udf():
    """The fused stage-2 scorer: ONE Arrow pass per pair batch computes
    Jaro-Winkler on paths plus token-set Jaccard and TF-cosine over
    PRE-AGGREGATED per-file features (sorted unique token hashes tu,
    counts tc, precomputed L2 norm) — per pair only a merge-intersect
    + dot remain. One UDF = one Python worker chain per task (two
    separate UDFs doubled worker churn). Exact-integer math =>
    bit-identical results at any parallelism.

    (path_a, path_b, tu_a, tc_a, norm_a, tu_b, tc_b, norm_b)
        -> struct<jw: double, jaccard: double, cosine: double>
    """
    import numpy as np

    @F.pandas_udf("jw double, jaccard double, cosine double")
    def _scores(
        batches: Iterator[tuple[pd.Series, ...]],
    ) -> Iterator[pd.DataFrame]:
        jw_cache: dict[tuple[str, str], float] = {}
        for pa, pb, tu_a, tc_a, na_s, tu_b, tc_b, nb_s in batches:
            n = len(tu_a)
            jw = np.empty(n, dtype=np.float64)
            jac = np.empty(n, dtype=np.float64)
            cos = np.empty(n, dtype=np.float64)
            na_v = na_s.to_numpy(dtype=np.float64)
            nb_v = nb_s.to_numpy(dtype=np.float64)
            for i in range(n):
                s1, s2 = pa.iat[i], pb.iat[i]
                if s1 is None or s2 is None:
                    jw[i] = 0.0
                else:
                    key = (s1, s2)
                    v = jw_cache.get(key)
                    if v is None:
                        v = jaro_winkler_py(s1, s2)
                        if len(jw_cache) < 1_000_000:
                            jw_cache[key] = v
                    jw[i] = v
                ux = np.asarray(tu_a.iat[i] if tu_a.iat[i] is not None else [], dtype=np.int64)
                uy = np.asarray(tu_b.iat[i] if tu_b.iat[i] is not None else [], dtype=np.int64)
                if ux.size == 0 and uy.size == 0:
                    jac[i], cos[i] = 1.0, 0.0
                    continue
                if ux.size == 0 or uy.size == 0:
                    jac[i], cos[i] = 0.0, 0.0
                    continue
                inter, ix, iy = np.intersect1d(
                    ux, uy, assume_unique=True, return_indices=True
                )
                union = ux.size + uy.size - inter.size
                jac[i] = inter.size / union if union else 1.0
                if inter.size:
                    cx = np.asarray(tc_a.iat[i], dtype=np.int64)
                    cy = np.asarray(tc_b.iat[i], dtype=np.int64)
                    dot = float((cx[ix] * cy[iy]).sum())
                    denom = na_v[i] * nb_v[i]
                    cos[i] = dot / denom if denom else 0.0
                else:
                    cos[i] = 0.0
            yield pd.DataFrame({"jw": jw, "jaccard": jac, "cosine": cos})

    return _scores


def presorted_jaccard_udf():
    """Set Jaccard over PRE-SORTED-UNIQUE int64 hash arrays (the fused
    stage-1 kernel's ``su`` field): one merge-intersect per pair, one
    Arrow pass per batch. Exact-integer math => deterministic at any
    parallelism.

    (array<long>, array<long>) -> double
    """
    import numpy as np

    @F.pandas_udf(T.DoubleType())
    def _jac(batches: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        for a, b in batches:
            n = len(a)
            out = np.empty(n, dtype=np.float64)
            for i, (x, y) in enumerate(zip(a, b)):
                xa = np.asarray(x if x is not None else [], dtype=np.int64)
                ya = np.asarray(y if y is not None else [], dtype=np.int64)
                if xa.size == 0 and ya.size == 0:
                    out[i] = 1.0
                    continue
                if xa.size == 0 or ya.size == 0:
                    out[i] = 0.0
                    continue
                inter = np.intersect1d(xa, ya, assume_unique=True).size
                out[i] = inter / (xa.size + ya.size - inter)
            yield pd.Series(out)

    return _jac


# ------------------------------------------------------------ vector cosine


def array_dot(a: Column, b: Column) -> Column:
    """Inner product over two array<float|double> columns, JVM-native,
    with the SAME sequential fold as array_cosine so DuckDB's
    list_dot_product reproduces it bit-for-bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda p, q: p.cast("double") * q.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def array_cosine(a: Column, b: Column) -> Column:
    """Cosine over two array<float|double> columns, JVM-native
    (F.zip_with product + F.aggregate sum — sequential order, so the
    DuckDB list-based oracle reproduces it bit-for-bit after rounding)."""
    na, nb = F.sqrt(array_dot(a, a)), F.sqrt(array_dot(b, b))
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(
        array_dot(a, b) / (na * nb)
    )
