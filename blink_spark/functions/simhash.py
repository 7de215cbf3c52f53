"""SimHash fingerprints + banded Hamming near-dup search.

The second near-duplicate family next to MinHash-LSH (stage-1 analog
of the reference's approximate retrieval,
/root/reference/blink/biencoder/data_process_mult.py:238-249): each
document gets a 60-bit bit-majority fingerprint; near-duplicates are
pairs within a Hamming radius.

Fingerprints come from one Arrow-batched numpy kernel (simhash_udf),
with DuckDB SQL twins for the oracle harness. Token hash = first 60
bits of md5 (available identically in both), so Spark and DuckDB
produce bit-identical fingerprints.

Scale path: candidate pairs come from a band equi-join, not a cross
join. With B bands and radius r, r <= B-1 differing bits leave at
least one band untouched (pigeonhole), so the banded join finds EVERY
pair within the radius — the banded plan is exact, not approximate,
while shuffling only same-band rows.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

N_BITS = 60
DEFAULT_BANDS = 4
BAND_BITS = N_BITS // DEFAULT_BANDS  # 15


def token_hash60_sql(tokens_sql_expr: str) -> str:
    """DuckDB SQL: list of tokens -> list of 60-bit md5 token hashes
    (distinct tokens; set semantics like MinHash) — the oracle twin of
    simhash_udf's token hash."""
    return (
        f"list_transform(list_distinct({tokens_sql_expr}), "
        f"t -> ('0x' || substr(md5(t), 1, 15))::BIGINT)"
    )


def simhash_sql(hashes_expr: str) -> str:
    """DuckDB SQL: list of token hashes -> 60-bit simhash. Bit j of the
    result is the majority vote of bit j over all token hashes (>=0 net
    vote -> 1) — the oracle twin of simhash_udf."""
    return (
        f"list_sum([CASE WHEN coalesce(list_sum(list_transform({hashes_expr}, "
        f"h -> ((h // (1::BIGINT << j)) % 2) * 2 - 1)), 0) >= 0 "
        f"THEN (1::BIGINT << j) ELSE 0::BIGINT END "
        f"for j in generate_series(0, {N_BITS - 1})])::BIGINT"
    )


def simhash_udf():
    """Arrow-batched pandas UDF: array<string> tokens -> simhash.

    The production kernel: one numpy bit-matrix per batch. Exact
    integer math throughout, so it is bit-identical to the DuckDB
    oracle (token_hash60_sql + simhash_sql) — verified in tests.
    """
    jbits = np.arange(N_BITS, dtype=np.int64)
    weights = (np.int64(1) << jbits)

    @F.pandas_udf(T.LongType())
    def _sim(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        cache: dict[str, int] = {}

        def h60(t: str) -> int:
            v = cache.get(t)
            if v is None:
                v = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                if len(cache) < 2_000_000:
                    cache[t] = v
            return v

        for series in batches:
            out = np.empty(len(series), dtype=np.int64)
            for i, toks in enumerate(series):
                if toks is None or len(toks) == 0:
                    # empty vote: all bits >= 0 -> all ones (matches SQL)
                    out[i] = (1 << N_BITS) - 1
                    continue
                hs = np.fromiter(
                    (h60(t) for t in dict.fromkeys(toks)), dtype=np.int64
                )
                bits = (hs[:, None] >> jbits) & 1  # [n_tokens, 60]
                votes = (2 * bits - 1).sum(axis=0)
                out[i] = int(((votes >= 0) * weights).sum())
            yield pd.Series(out)

    return _sim


def hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two simhash values (JVM bit ops)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    radius: int = 3,
    bands: int = DEFAULT_BANDS,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """All pairs (id_a < id_b) with Hamming(simhash) <= radius.

    EXACT despite banding when radius <= bands - 1 (pigeonhole: some
    band must match). Shuffle cost is per-band equi-join, not a cross
    join — this is the 100-TB path.
    """
    if radius > bands - 1:
        raise ValueError(
            f"radius {radius} > bands-1 ({bands - 1}): banded join no longer exact"
        )
    width = N_BITS // bands
    mask = (1 << width) - 1
    band_id = F.explode(
        F.array(*[F.lit(b) for b in range(bands)])
    ).alias("band_id")
    keyed = df.select(
        F.col(id_col), *[F.col(g) for g in group_cols], F.col(sim_col), band_id
    ).withColumn(
        "band_val",
        # shiftright() needs a literal shift in the Python API; div by a
        # power of two is the same JVM-side arithmetic for nonneg values
        F.expr(
            f"({sim_col} div cast(pow(2, band_id * {width}) AS bigint)) % {mask + 1}"
        ),
    )
    join_keys = ["band_id", "band_val", *group_cols]
    a = keyed.select(
        *join_keys, F.col(id_col).alias("id_a"), F.col(sim_col).alias("sim_a")
    )
    b = keyed.select(
        *join_keys, F.col(id_col).alias("id_b"), F.col(sim_col).alias("sim_b")
    )
    return (
        a.join(b, join_keys)
        .where(F.col("id_a") < F.col("id_b"))
        .where(hamming(F.col("sim_a"), F.col("sim_b")) <= radius)
        .select(
            "id_a",
            "id_b",
            hamming(F.col("sim_a"), F.col("sim_b")).alias("hamming_dist"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
