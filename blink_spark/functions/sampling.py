"""Deterministic dataset splitting and sampling (beyond-reference).

A training-data pipeline needs reproducible train/val/test splits and
bounded eval samples that do not change when the corpus is
repartitioned, re-read, or grown by appending — so every assignment
here is a pure function of the row's ID, never of partition layout or
row order (contrast ``DataFrame.randomSplit``, whose output depends on
partitioning). Production hashes with xxhash64; ``id_hash="md5"``
swaps in the md5-prefix hash both engines can compute, the repo's
standard parity construction for DuckDB value oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from blink_spark.functions.parityhash import check_id_hash

# 2^60 — the md5-prefix hash is 15 hex digits = 60 bits; xxhash64 is
# folded into the same range so both paths share the bucket math
_HASH_SPACE = float(1 << 60)


def _id_hash64(id_col: str, seed: int, id_hash: str):
    """Both branches honor ``seed``: the md5 parity hash folds it into
    the hashed string (md5("<id>-<seed>")) so seed-varied splits (e.g.
    cross-validation folds) differ under either hash. A DuckDB twin
    must hash the same concatenation: md5(id::VARCHAR || '-<seed>').
    Any other id_hash raises (parityhash.check_id_hash)."""
    check_id_hash(id_hash)
    if id_hash == "md5":
        return F.expr(
            f"cast(conv(substring(md5(concat(cast({id_col} as string), "
            f"'-{seed}')), 1, 15), 16, 10) as bigint)"
        )
    return F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1 << 60))


def hash_split(
    df: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    seed: int = 42,
    id_hash: str = "xxhash",
    split_col: str = "split",
) -> DataFrame:
    """Assign each row to a named split by hashing its ID into [0, 1)
    and cutting at the cumulative fractions — appending new rows never
    reassigns old ones, and the same ID lands in the same split on
    every run, machine, and parallelism. fractions must sum to 1
    (within 1e-9); splits are cut in the dict's iteration order."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    h = _id_hash64(id_col, seed, id_hash) / F.lit(_HASH_SPACE)
    expr = None
    cum = 0.0
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        cond = h < F.lit(cum)
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    expr = (
        F.lit(names[-1])
        if expr is None
        else expr.otherwise(F.lit(names[-1]))
    )
    return df.withColumn(split_col, expr)


def stratified_exact_split(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str,
    id_col: str = "doc_id",
    seed: int = 42,
    id_hash: str = "xxhash",
    split_col: str = "split",
) -> DataFrame:
    """Exact-proportion split WITHIN each stratum: rows are ranked by
    hash inside the stratum and cut at ceil(cum_fraction · n) — every
    stratum contributes its exact share to every split (hash_split is
    only asymptotically proportional). One rank exchange per stratum;
    deterministic at any parallelism (hash ties broken by id)."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    h = _id_hash64(id_col, seed, id_hash)
    w = W.partitionBy(strata_col).orderBy(h.asc(), F.col(id_col).asc())
    ranked = df.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(W.partitionBy(strata_col))
    )
    expr = None
    cum = 0.0
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        cond = F.col("_rn") <= F.ceil(F.lit(cum) * F.col("_n"))
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    expr = (
        F.lit(names[-1])
        if expr is None
        else expr.otherwise(F.lit(names[-1]))
    )
    return ranked.withColumn(split_col, expr).drop("_rn", "_n")


def per_group_sample(
    df: DataFrame,
    n: int,
    group_col: str,
    id_col: str = "doc_id",
    seed: int = 42,
    id_hash: str = "xxhash",
) -> DataFrame:
    """The n rows with smallest hash(id) per group — a deterministic,
    append-stable uniform sample (the repo's hash-min pattern, shared
    with ivf_cells_df / dendrogram sampling) for bounded eval sets."""
    h = _id_hash64(id_col, seed, id_hash)
    w = W.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n)
        .drop("_rn")
    )
