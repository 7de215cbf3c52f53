"""Deduplication suite for training-data curation.

Five dedup families over a document table, all reusing the ER engine's
stage-1/2/3 machinery (blocking -> pair scoring -> clustering), the
same retrieve-then-rerank shape as the reference
(/root/reference/blink/crossencoder/eval_cluster_linking.py:534-573):

  * exact           sha256 hash-groupBy (one shuffle, no pairs)
  * minhash_lsh     shingle -> MinHash -> band -> bucket self-join
  * simhash         bit-majority fingerprint + banded Hamming join
  * ngram_jaccard   token-shingle Jaccard over blocked pairs
  * embedding       cosine near-dup over an array<float> column

Each returns DataFrames with stable column names so the driver's
oracle can diff them against DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blink_spark.functions import text
from blink_spark.functions.similarity import array_cosine, token_set_jaccard
from blink_spark.io.scratch import spill_scratch
from blink_spark.operators import blocking
from blink_spark.operators.connected_components import assign_clusters, connected_components
from blink_spark.operators.pairs import candidate_pairs

from blink_spark.functions.rounding import qround


# ------------------------------------------------------------------ exact

def exact_dup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, dup_group, group_size) for rows whose NORMALIZED text
    (whitespace/punct-folded) collides; group id = min member id.
    One groupBy — no pair materialization, fully scalable."""
    from blink_spark.functions.textstats import norm_sha256

    keyed = df.select(F.col(id_col), norm_sha256(text_col).alias("norm_sha"))
    groups = keyed.groupBy("norm_sha").agg(
        F.min(id_col).alias("dup_group"), F.count(F.lit(1)).alias("group_size")
    )
    return (
        keyed.join(groups, "norm_sha")
        .select(F.col(id_col), "dup_group", "group_size")
    )


# ------------------------------------------------------------ minhash LSH

def minhash_lsh_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = "lang",
    shingle_k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
    pair_budget: int = 5_000_000,
    signature: str = "arrow",
) -> DataFrame:
    """Candidate pairs from MinHash-LSH banding, verified by exact
    shingle-set Jaccard >= threshold. The production near-dup path:
    banding bounds the join, the exact Jaccard on the shingle-hash
    arrays removes LSH false positives.

    The signature step emits, per doc, ``bands`` (one 64-bit key per
    (group, band, signature slice)) and ``su`` (the sorted distinct
    shingle hashes). ``signature`` picks how:

      * "arrow"  one fused Arrow pass (tokenize -> pandas siphash
                 token hashes -> numeric k-gram shingles -> MinHash
                 over Z/2^64 -> band keys, group folded in).
      * "md5"    JVM Column expressions: md5-over-prime-field MinHash
                 (functions.minhash.parity_minhash_expr) over string
                 shingles, the 60-bit md5 prefix of each shingle as
                 ``su`` — so a DuckDB oracle reproduces the pairs
                 value-for-value while no block reaches the salt
                 threshold (seed is unused: md5 is seedless).

    Everything after is shared: the table spills ONCE to scratch
    parquet, then feeds hot-block salting, the bucket pair join and
    both verify-join sides. Measured here, localCheckpoint burned
    ~100x CPU/row and JVM-regex shingling did not scale across local
    task threads — this is the same kernel + parquet-boundary design
    as the flagship pipeline's s1."""
    from blink_spark.functions.similarity import presorted_jaccard_udf

    grp = F.col(group_col) if group_col else F.lit("all")
    if signature == "arrow":
        from blink_spark.functions.minhash import content_signature_features_udf

        feat_udf = content_signature_features_udf(
            num_hashes,
            seed,
            shingle_k=shingle_k,
            bands=bands,
            rows_per_band=rows_per_band,
            return_shingles=True,
        )
        base = df.select(
            F.col(id_col).alias("file_id"),
            feat_udf(F.col(text_col), grp).alias("ft"),
        ).select(
            "file_id",
            F.col("ft.bands").alias("bands"),
            F.col("ft.su").alias("su"),
        )
    elif signature == "md5":
        from blink_spark.functions.minhash import parity_minhash_expr

        sig = F.expr(parity_minhash_expr("sh", num_hashes))
        base = df.select(
            F.col(id_col).alias("file_id"),
            grp.alias("grp"),
            text.shingles(text.tokenize(text_col), shingle_k).alias("sh"),
        ).select(
            "file_id",
            F.array(
                *[
                    F.xxhash64(
                        F.col("grp"),
                        F.lit(b),
                        F.slice(sig, b * rows_per_band + 1, rows_per_band),
                    )
                    for b in range(bands)
                ]
            ).alias("bands"),
            # parityhash.md5_prefix_hash64 of each distinct shingle
            F.array_sort(
                F.array_distinct(
                    F.transform(
                        "sh",
                        lambda x: F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast(
                            "bigint"
                        ),
                    )
                )
            ).alias("su"),
        )
    else:
        raise ValueError(f"unknown signature: {signature!r} (arrow|md5)")
    # feeds salting, the bucket pair join and both verify-join sides
    base = spill_scratch(base, "minhash_sig")
    blocks = blocking.salt_hot_blocks(
        base.select("file_id", F.explode("bands").alias("block_key")),
        "file_id",
        pair_budget,
    )
    pairs = candidate_pairs(blocks, "file_id")
    fa = base.select(F.col("file_id").alias("id_a"), F.col("su").alias("su_a"))
    fb = base.select(F.col("file_id").alias("id_b"), F.col("su").alias("su_b"))
    jac = presorted_jaccard_udf()(F.col("su_a"), F.col("su_b"))
    return (
        pairs.join(fa, "id_a")
        .join(fb, "id_b")
        .select("id_a", "id_b", qround(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= jaccard_threshold)
    )


# ---------------------------------------------------------- ngram jaccard

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram (token-shingle) Jaccard >= threshold within a
    blocking group — the brute-force verifier (oracle-friendly; use
    minhash_lsh_dup_pairs at scale)."""
    toks = text.tokenize(text_col)
    base = df.select(
        F.col(id_col),
        F.col(group_col),
        F.array_distinct(text.shingles(toks, shingle_k)).alias("sh"),
    )
    a = base.select(
        F.col(group_col), F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")
    )
    b = base.select(
        F.col(group_col), F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")
    )
    return (
        a.join(b, group_col)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            qround(token_set_jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------------------- embeddings

def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    method: str = "lsh",
    n_planes: int = 12,
    n_tables: int = 6,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Pairs with exact cosine >= threshold.

    DEFAULT (method="lsh"): sign-LSH bucket blocking — candidates must
    share a (table, bucket) key in >= 1 of n_tables random-hyperplane
    tables, then exact-cosine verify. Bucket equi-join, never an
    all-pairs product: the 100-TB shape. Recall is tunable via
    (n_planes down, n_tables up) and is high for near-dup thresholds
    (the regime this operator is for) — see the pytest recall floor.

    method="rademacher": the same bucket flow on md5-derived ±1
    planes (see ann.lsh_topk), value-reproducible by a DuckDB oracle;
    needs an explicit dim.

    method="exact": the O(n^2) brute-force verifier/oracle path (the
    DuckDB-twin query uses it); pairs every partition with every other
    via a shuffle-replicated nested loop — correct at any size, but
    quadratic by definition. Keep it for verification corpora only.
    """
    base = df.select(F.col(id_col), F.col(vec_col))
    if method == "exact":
        key = []
    elif method in ("lsh", "rademacher"):
        from blink_spark.operators.ann import _sign_lsh_buckets

        base = _sign_lsh_buckets(
            base, id_col, vec_col, n_planes, n_tables, seed, dim,
            "gaussian" if method == "lsh" else "rademacher",
        )
        key = ["table_id", "bucket"]
    else:
        raise ValueError(f"unknown method: {method!r} (lsh|exact|rademacher)")
    a = base.select(*key, F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    b = base.select(*key, F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    joined = a.join(b, key) if key else a.hint("shuffle_replicate_nl").crossJoin(b)
    return (
        joined.where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            qround(array_cosine(F.col("v_a"), F.col("v_b")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


# ------------------------------------------------------------ full dedup

def dedup_clusters(
    pairs: DataFrame, all_ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Transitive closure of dup pairs -> (id, cluster_id); every input
    row keeps exactly one row (singletons cluster with themselves)."""
    comp = connected_components(pairs.select("id_a", "id_b"))
    return assign_clusters(all_ids.select(F.col(id_col)), comp, id_col)


def keep_representatives(clusters: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One surviving row per cluster: min id (deterministic)."""
    return (
        clusters.groupBy("cluster_id")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, "cluster_id")
    )


# ------------------------------------------- exact substring (segments)

def duplicate_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring dedup at k-token granularity: every k-token
    window whose text occurs in >= min_docs distinct documents, as
    (seg_md5, n_docs, n_occ). Spark-native analog of the suffix-array
    substring dedup of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better"), re-expressed as a sliding-window
    group-by that shuffles at 100 TB: windows are hashed to a 32-byte
    md5 key BEFORE the exchange (raw k-token strings never shuffle),
    and the two-phase distinct aggregation gives map-side partial
    combines, so a boilerplate segment appearing in millions of docs
    is reduced per-partition before it ever concentrates on one task.
    """
    sh = text.shingles(text.tokenize(text_col), k)
    return (
        df.select(F.col(id_col).alias("doc_id"), F.explode(sh).alias("seg"))
        .select("doc_id", F.md5("seg").alias("seg_md5"))
        .groupBy("seg_md5")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def segment_dup_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicated-substring coverage: (doc_id, n_windows,
    dup_windows, coverage) where coverage is the fraction of the doc's
    k-token windows whose text also occurs in >= min_docs distinct
    documents — the "drop documents that are mostly duplicated text"
    curation signal (Lee et al. 2022 sec. 4). Docs with < k tokens
    contribute their whole text as one window; empty docs drop out.

    Plan shape: one explode -> hash, one seg-keyed aggregation, one
    seg-keyed equi-join back (both sides exchange on the same md5 key
    — no broadcast: the duplicated-segment set grows with the corpus),
    one doc-keyed aggregation. No driver state, no skew hotspots
    beyond what AQE's skew-join handles.
    """
    sh = text.shingles(text.tokenize(text_col), k)
    w = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(sh).alias("seg"))
        .select("doc_id", F.md5("seg").alias("seg_md5"))
    )
    dup = (
        w.groupBy("seg_md5")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("seg_md5", F.lit(1).alias("is_dup"))
    )
    return (
        w.join(dup, "seg_md5", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "dup_windows",
            qround(F.col("dup_windows") / F.col("n_windows"), 6).alias("coverage"),
        )
    )
