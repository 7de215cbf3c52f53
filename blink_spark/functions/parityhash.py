"""The sample hashes behind every hash-min sample and md5 parity twin.

A hash-min sample (IVF centroids, PQ codewords, canopy centers) takes
the rows with the smallest hash of their id. ``sample_hash64`` is that
hash, picked by ``id_hash``:

  * "xxhash"  xxhash64(id, seed) — production.
  * "md5"     first 60 bits of md5(cast(id as string)) as a BIGINT,
              computable identically in Spark (conv/substring/md5) and
              DuckDB (('0x' || substr(md5(id::VARCHAR), 1, 15))::BIGINT),
              so a SQL oracle can reproduce the sample. SEEDLESS by
              contract: the parity oracles (`ann_ivf_parity`,
              `ann_ivf_refined_parity`, `ann_pq_parity`,
              `er_canopy_parity`) hard-code this exact form; change it
              only in lock-step with every SQL twin.

Any other ``id_hash`` raises (``check_id_hash``): a misspelt "MD5"
must not quietly produce a sample no oracle can reproduce. The
sampling module uses a seed-folded md5 variant — see
functions/sampling._id_hash64.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def check_id_hash(id_hash: str) -> None:
    if id_hash not in ("xxhash", "md5"):
        raise ValueError(f"unknown id_hash: {id_hash!r} (xxhash|md5)")


def sample_hash64(id_col: str, seed: int, id_hash: str) -> Column:
    check_id_hash(id_hash)
    if id_hash == "md5":
        return md5_prefix_hash64(id_col)
    return F.xxhash64(F.col(id_col), F.lit(seed))


def md5_prefix_hash64(col_name: str) -> Column:
    return F.expr(
        f"cast(conv(substring(md5(cast({col_name} as string)), 1, 15), 16, 10) "
        f"as bigint)"
    )


def md5_pair_hash64(a_col: str, b_col: str) -> Column:
    """The pair-keyed variant (e.g. NN-descent's degree-cap order):
    first 60 bits of md5(a || '|' || b). DuckDB twin:
    ('0x' || substr(md5(a::VARCHAR || '|' || b::VARCHAR), 1, 15))::BIGINT."""
    return F.expr(
        f"cast(conv(substring(md5(concat_ws('|', cast({a_col} as string), "
        f"cast({b_col} as string))), 1, 15), 16, 10) as bigint)"
    )
