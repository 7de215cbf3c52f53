"""Text normalization / tokenization / shingling — all JVM-side Column
expressions (whole-stage codegen; no Python in the hot path).

Semantics mirror the reference's tokenize step (WordPiece context
tokenizer, /root/reference/blink/biencoder/data_process_mult.py:28-71):
its fixed-width token-id vectors become token / k-shingle arrays here.
Lowercasing mirrors /root/reference/blink/main_dense.py:196-199.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Word-ish tokens: runs of [a-z0-9_] after lowercasing. Chosen so the
# exact same split is expressible in the DuckDB oracle
# (regexp_split_to_array(lower(x), '[^a-z0-9_]+')).
TOKEN_SPLIT_RE = "[^a-z0-9_]+"


def tokenize(col: Column | str) -> Column:
    """Lowercased word tokens, empty strings removed. array<string>."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), TOKEN_SPLIT_RE), lambda t: t != F.lit(""))


def shingles(tokens_col: Column, k: int = 5) -> Column:
    """k-token shingles (space-joined); whole doc if < k tokens.

    array<string>; order-preserving; duplicates kept (use
    F.array_distinct for set semantics).

    Built as a zip_with chain over k aligned slices — O(n·k) total.
    (The naive transform(sequence, i -> slice(...)) form is O(n²·k)
    per row because slice() re-scans the array for every index, and
    higher-order lambdas run interpreted: ~20s vs ~1s on 5k docs.)
    """
    n = F.size(tokens_col)
    m = n - F.lit(k - 1)  # number of k-grams
    acc = F.slice(tokens_col, 1, m)
    for j in range(1, k):
        nxt = F.slice(tokens_col, j + 1, m)
        acc = F.zip_with(acc, nxt, lambda a, b: F.concat_ws(" ", a, b))
    return (
        F.when(n == 0, F.array().cast("array<string>"))
        .when(n <= k, F.array(F.array_join(tokens_col, " ")))
        .otherwise(acc)
    )


def content_sha256(col: Column | str) -> Column:
    """Hex sha256 of raw content — the per-row invariant the pipeline
    must preserve end-to-end (BASELINE.json input_hint)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c, 256)


def stable_file_id(*cols: Column | str) -> Column:
    """Deterministic 64-bit row id from natural-key columns.

    Partitioning/parallelism independent (unlike
    monotonically_increasing_id), mirroring the reference's stable
    mention_idx (/root/reference/blink/biencoder/data_process_mult.py:200-211).
    """
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.xxhash64(*cs)

