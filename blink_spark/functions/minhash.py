"""MinHash signatures + LSH band keys.

This is stage 1's approximate candidate generation — the analog of the
reference's bi-encoder embedding + FAISS IVF index
(/root/reference/blink/biencoder/data_process_mult.py:225-291): the
signature is the "embedding", band keys are the "index buckets", and
(bands, rows) tunes recall the way nlist/nprobe does
(/root/reference/blink/common/params.py:181-184).

All per-doc work runs in ONE fused Arrow pandas UDF
(content_signature_features_udf) inside Python worker processes:
tokenize, string -> int64 token hashing (pandas ``hash_array``, i.e.
siphash), numeric k-gram shingling, and the n_hashes permutations as
one vectorized numpy min-reduction per doc.

Permutation family: v_i(h) = (a_i * h + b_i) mod 2^64, a_i odd
(multiply-add over Z/2^64 — deterministic, seedable, vectorized;
same construction as classic multiply-shift hashing). Signature value
is (v >> 1) so it fits a signed Spark LongType.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_U64 = np.uint64
_MASK64 = _U64(0xFFFFFFFFFFFFFFFF)


def perm_params(num_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic (a, b) multiply-add parameters; a forced odd."""
    rng = np.random.RandomState(seed)
    # two 32-bit draws per 64-bit param (RandomState caps at 2**32)
    def draw(n: int) -> np.ndarray:
        hi = rng.randint(0, 2**32, size=n, dtype=np.uint64)
        lo = rng.randint(0, 2**32, size=n, dtype=np.uint64)
        return (hi << _U64(32)) | lo

    a = draw(num_hashes) | _U64(1)  # odd => bijection over Z/2^64
    b = draw(num_hashes)
    return a, b


SHINGLE_C = 0x100000001B3  # FNV-ish odd multiplier for k-gram Horner combine


def shingle_hashes_py(hashes: list[int], k: int) -> list[int]:
    """Pure-Python oracle for numeric k-gram shingling: Horner combine
    of k consecutive token hashes mod 2^64; whole doc if < k tokens."""
    hs = [h & 0xFFFFFFFFFFFFFFFF for h in hashes]
    if not hs:
        return []
    if len(hs) <= k:
        acc = 0
        for h in hs:
            acc = (acc * SHINGLE_C + h) & 0xFFFFFFFFFFFFFFFF
        return [acc]
    out = []
    for i in range(len(hs) - k + 1):
        acc = 0
        for j in range(k):
            acc = (acc * SHINGLE_C + hs[i + j]) & 0xFFFFFFFFFFFFFFFF
        out.append(acc)
    return out


def minhash_py(hashes: list[int], num_hashes: int, seed: int, shingle_k: int = 1) -> list[int]:
    """Pure-Python oracle for the kernel (tests only)."""
    a, b = perm_params(num_hashes, seed)
    if shingle_k > 1:
        hashes = shingle_hashes_py(hashes, shingle_k)
    if not hashes:
        return [(1 << 62) + i for i in range(num_hashes)]
    out = []
    for i in range(num_hashes):
        m = min(((int(a[i]) * (h & 0xFFFFFFFFFFFFFFFF) + int(b[i])) & 0xFFFFFFFFFFFFFFFF) for h in hashes)
        out.append(m >> 1)
    return out


def tokenize_py(content: str) -> list[str]:
    """Python twin of functions.text.tokenize (lowercase, split on
    runs of non-[a-z0-9_], drop empties). Lives in Python because
    java.util.regex expressions do NOT scale across task threads in a
    single local JVM (measured: regex split/replace of 2KB strings run
    at identical wall on local[1] and local[32]); Python workers are
    separate processes, so the regex work actually parallelizes."""
    import re

    if content is None:
        return []
    pat = tokenize_py._pat
    if pat is None:
        pat = tokenize_py._pat = re.compile(r"[^a-z0-9_]+")
    return [t for t in pat.split(content.lower()) if t]


tokenize_py._pat = None


def band_keys_py(
    sig_u64: "np.ndarray", group_hash: int, bands: int, rows: int
) -> "np.ndarray":
    """LSH band keys from a signature: band j's key is a Horner-FNV
    combine of (group_hash, j, sig[j*rows:(j+1)*rows]) — one 64-bit
    key per band with the blocking group (lang) folded in, so the
    downstream block join needs no separate group column."""
    c = _U64(SHINGLE_C)
    sl = np.ascontiguousarray(sig_u64[: bands * rows]).reshape(bands, rows)
    acc = np.full(bands, _U64(group_hash), dtype=_U64)
    acc = (acc * c + np.arange(bands, dtype=_U64)) & _MASK64
    for r in range(rows):
        acc = (acc * c + sl[:, r]) & _MASK64
    return (acc >> _U64(1)).astype(np.int64)  # fits signed LongType


def content_signature_features_udf(
    num_hashes: int = 128,
    seed: int = 42,
    shingle_k: int = 1,
    *,
    bands: int,
    rows_per_band: int,
    return_shingles: bool = False,
):
    """The fused stage-1 kernel: ONE Arrow pass over raw content
    computes tokenization, 64-bit token hashes (pandas siphash,
    vectorized), the MinHash signature over numeric k-gram shingles,
    its LSH band keys (group/lang hash folded in), and the stage-2
    scoring features (sorted unique hashes, counts, TF L2 norm).
    Computing unique/counts/norm once per FILE (not per pair side)
    cuts stage-2 per-pair work to a merge-intersect + dot product.
    The signature itself is not emitted: every reader blocks on its
    band keys.

    All heavy per-row work lives HERE, in Python worker processes:
    measured on this host, JVM-side regex and wide expression trees do
    not scale across local task threads, while Python workers scale
    near-linearly.

    (content string, group string) ->
        struct<bands array<bigint>, tu array<bigint>, tc array<bigint>,
               tnorm double[, su array<bigint>]>

    return_shingles adds ``su``: the sorted unique k-gram SHINGLE
    hashes — the exact-Jaccard verify set for MinHash-LSH candidates
    (near-dup pipelines verify on shingles, not unigram tokens).
    """
    a_params, b_params = perm_params(num_hashes, seed)
    c = _U64(SHINGLE_C)
    fields = [
        T.StructField("bands", T.ArrayType(T.LongType())),
        T.StructField("tu", T.ArrayType(T.LongType())),
        T.StructField("tc", T.ArrayType(T.LongType())),
        T.StructField("tnorm", T.DoubleType()),
    ]
    if return_shingles:
        fields.append(T.StructField("su", T.ArrayType(T.LongType())))
    schema = T.StructType(fields)

    @F.pandas_udf(schema)
    def _feat(
        batches: Iterator[tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.DataFrame]:
        import math

        a = a_params[None, :]
        b = b_params[None, :]
        empty_sig_u64 = (
            ((_U64(1) << _U64(62)) + np.arange(num_hashes, dtype=_U64))
        )
        group_cache: dict[str, int] = {}

        def ghash(g: str) -> int:
            v = group_cache.get(g)
            if v is None:
                v = int(pd.util.hash_array(np.asarray([g], dtype=object))[0])
                group_cache[g] = v
            return v

        for contents, groups in batches:
            bnds, tus, tcs, norms = [], [], [], []
            sus: list[list[int]] = []
            for content, group in zip(contents, groups):
                toks = tokenize_py(content)
                if not toks:
                    sig_u64 = empty_sig_u64
                    tus.append([])
                    tcs.append([])
                    norms.append(0.0)
                    if return_shingles:
                        sus.append([])
                else:
                    raw = pd.util.hash_array(
                        np.asarray(toks, dtype=object)
                    ).view(np.int64)
                    tu, tc = np.unique(raw, return_counts=True)
                    tus.append(tu.tolist())
                    tcs.append(tc.tolist())
                    norms.append(math.sqrt(float((tc * tc).sum())))
                    h = raw.view(_U64)
                    if shingle_k > 1:
                        # Horner over each window of w tokens; a doc of
                        # at most k tokens is one whole-doc shingle.
                        # Array ops wrap mod 2^64 silently (numpy
                        # scalar ops would warn on the same overflow).
                        w = min(shingle_k, len(h))
                        m = len(h) - w + 1
                        acc = np.zeros(m, dtype=_U64)
                        for j in range(w):
                            acc = (acc * c + h[j : j + m]) & _MASK64
                        h = acc
                    if return_shingles:
                        sus.append(
                            np.sort(np.unique(h).view(np.int64)).tolist()
                        )
                    v = (h[:, None] * a + b) & _MASK64
                    sig_u64 = v.min(axis=0)
                bnds.append(
                    band_keys_py(
                        sig_u64, ghash(group or ""), bands, rows_per_band
                    ).tolist()
                )
            cols = {"bands": bnds, "tu": tus, "tc": tcs, "tnorm": norms}
            if return_shingles:
                cols["su"] = sus
            yield pd.DataFrame(cols)

    return _feat


# ------------------------------------------------ SQL-parity variant
#
# The production signature above uses pandas siphash (Python-only). For
# the driver's DuckDB oracle we also provide a second, fully SQL-portable
# construction: token hash = first 60 bits of md5, permutations
# h -> (a_i*h + b_i) mod p over the prime field p = 2^31-1, with
# (a_i, b_i) themselves derived from md5 so BOTH engines can compute
# them inline. Same algorithm, portable primitives — the oracle then
# checks the whole MinHash+banding pipeline end-to-end.

PARITY_P = 2**31 - 1  # Mersenne prime; a*h < 2^62 fits BIGINT


def parity_perm_param(kind: str, i: int) -> int:
    """Deterministic 28-bit perm parameter from md5 — computable in
    DuckDB as ('0x' || substr(md5('<kind><i>'), 1, 7))::BIGINT."""
    import hashlib

    v = int(hashlib.md5(f"{kind}{i}".encode()).hexdigest()[:7], 16)
    return (v % (PARITY_P - 1)) + 1 if kind == "a" else v % PARITY_P


def parity_minhash_expr(tokens_sql_expr: str, num_hashes: int = 16) -> str:
    """Spark-SQL expr: array<string> tokens -> array<bigint> signature."""
    hashes = (
        f"transform(array_distinct({tokens_sql_expr}), "
        f"t -> cast(conv(substring(md5(t), 1, 15), 16, 10) AS bigint) % {PARITY_P})"
    )
    slots = ", ".join(
        f"aggregate({hashes}, cast({PARITY_P} AS bigint), "
        f"(acc, h) -> least(acc, ({parity_perm_param('a', i)}L * h "
        f"+ {parity_perm_param('b', i)}L) % {PARITY_P}))"
        for i in range(num_hashes)
    )
    return f"array({slots})"


def parity_minhash_sql(tokens_sql_expr: str, num_hashes: int = 16) -> str:
    """DuckDB twin of parity_minhash_expr."""
    hashes = (
        f"list_transform(list_distinct({tokens_sql_expr}), "
        f"t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % {PARITY_P})"
    )
    slots = ", ".join(
        f"coalesce(list_min(list_transform({hashes}, "
        f"h -> ({parity_perm_param('a', i)} * h "
        f"+ {parity_perm_param('b', i)}) % {PARITY_P})), {PARITY_P})"
        for i in range(num_hashes)
    )
    return f"[{slots}]"


def parity_band_key_expr(sig_expr: str, band: int, rows: int) -> str:
    """Spark-SQL band key: the band's signature slice as a string."""
    return (
        f"concat_ws('-', slice({sig_expr}, {band * rows + 1}, {rows}))"
    )


def parity_band_key_sql(sig_expr: str, band: int, rows: int) -> str:
    return (
        f"array_to_string(list_slice({sig_expr}, "
        f"{band * rows + 1}, {band * rows + rows}), '-')"
    )
