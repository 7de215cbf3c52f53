"""Stage-1 blocking: composite block keys + hot-block salting.

The analog of the reference's type-partitioned FAISS retrieval
(/root/reference/blink/biencoder/eval_cluster_linking.py:434-458,
501-524): `lang` plays `type` (search only within your own partition),
MinHash-LSH band keys play the IVF buckets
(/root/reference/blink/biencoder/data_process_mult.py:238-249).

Hot-block handling is ours alone (the reference OOMs on giant gold
clusters and approximates around them,
/root/reference/blink/biencoder/train_biencoder_mst.py:578-621): any
block whose pair count n·(n-1)/2 exceeds a budget is split by a
secondary salt so no single join task explodes. The salt is a
deterministic hash of (file_id, block_key), so different bands cut a
hot family at different boundaries and the union of bands still links
the family into one component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blink_spark.io.scratch import make_parquet_checkpointer


def salt_hot_blocks(
    blocks: DataFrame,
    id_col: str = "file_id",
    pair_budget: int = 5_000_000,
    max_salts: int = 1024,
) -> DataFrame:
    """Split any block with > pair_budget pairs via secondary salting.

    Takes and returns (block_key, <id>) with NUMERIC (long) keys: a
    salted key is xxhash64(block_key, salt); unsalted blocks keep their
    key. Block sizes come from one aggregation; the per-block salt
    count is ceil(n / rows_budget) where rows_budget keeps each salted
    sub-block under the pair budget. Numeric keys keep the block
    shuffle at 8 bytes/row and avoid JVM string building on the hot
    path."""
    rows_budget = max(2, int((2 * pair_budget) ** 0.5))
    sizes = blocks.groupBy("block_key").agg(F.count(F.lit(1)).alias("n"))
    nsalts = F.least(
        F.greatest(F.ceil(F.col("n") / rows_budget).cast("int"), F.lit(1)),
        F.lit(max_salts),
    )
    sized = blocks.join(
        F.broadcast(sizes.where(F.col("n") > rows_budget).withColumn("nsalts", nsalts)),
        "block_key",
        "left",
    )
    salt = F.pmod(F.xxhash64(F.col(id_col), F.col("block_key")), F.col("nsalts"))
    salted_key = F.when(F.col("nsalts").isNull(), F.col("block_key")).otherwise(
        F.xxhash64(F.col("block_key"), salt)
    )
    return sized.select(salted_key.alias("block_key"), F.col(id_col))


def block_stats(blocks: DataFrame) -> DataFrame:
    """Per-block size + implied pair count (skew telemetry)."""
    return (
        blocks.groupBy("block_key")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("n_pairs", (F.col("n_rows") * (F.col("n_rows") - 1) / 2).cast("long"))
    )


def canopy_blocks(
    df: DataFrame,
    s_loose: float,
    s_tight: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_candidates: int = 64,
    seed: int = 42,
    id_hash: str = "xxhash",
    batch_size: int = 1024,
) -> DataFrame:
    """Canopy clustering as overlapping blocks (McCallum, Nigam & Ungar,
    KDD 2000) over an embedding column: cheap-similarity canopies whose
    OVERLAP is the point — near-misses that straddle a hard block
    boundary still share a canopy. In similarity terms: a point joins
    every canopy whose center it exceeds s_loose with; candidate centers
    within s_tight (> s_loose) of an accepted center are suppressed.

    Distributed adaptation: the original greedy consumes points
    sequentially — unrunnable and partition-dependent at scale — so the
    center pool is the repo's deterministic hash-min sample
    (n_candidates rows with smallest hash(id)), greedily suppressed in
    (hash, id) order on the driver, then broadcast; membership is one
    broadcast join + similarity filter. Points no surviving center
    covers become their own singleton canopy (cover-all guarantee).
    Deterministic at any parallelism.

    The driver holds at most ``batch_size`` candidates at a time. A pool
    that fits one batch costs one collect. A larger pool is spilled to
    scratch parquet and consumed in (hash, id)-ordered batches; between
    batches, candidates within s_tight of a center accepted in the last
    batch are pruned IN SPARK by a broadcast anti-join (they would be
    suppressed later anyway, so the prune preserves the result). The
    result is EXACTLY the sequential greedy over the full pool at any
    ``batch_size`` (the only divergence risk is a candidate whose
    cosine sits within 1 ulp of s_tight across the numpy / JVM
    kernels). Accepted centers must still fit a broadcast — inherent to
    canopy membership itself, not to the suppression.

    Returns (block_key, <id_col>) rows — one per (point, canopy) —
    feeding pairs.candidate_pairs like any other blocking.
    """
    from blink_spark.functions.parityhash import sample_hash64
    from blink_spark.functions.similarity import array_cosine

    if not s_tight > s_loose:
        raise ValueError("s_tight must exceed s_loose (tight ⊂ loose)")
    pool = (
        df.select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).alias("cvec"),
            sample_hash64(id_col, seed, id_hash).alias("h"),
        )
        .orderBy("h", "cid")
        .limit(n_candidates)
    )
    # the two limits fold into the pool's own top-k: one collect
    batch = pool.limit(batch_size).collect()
    remaining, spark = pool, df.sparkSession
    ckpt = make_parquet_checkpointer(name="canopy_round")
    accepted: list = []
    while True:
        n_before = len(accepted)
        accepted = _suppress_greedy(
            [(r["cid"], r["cvec"]) for r in batch], accepted, s_tight
        )
        if len(batch) < batch_size or n_candidates <= batch_size:
            break
        last = batch[-1]
        nxt = remaining.where(
            (F.col("h") > F.lit(last["h"]))
            | ((F.col("h") == F.lit(last["h"])) & (F.col("cid") > F.lit(last["cid"])))
        )
        new_vecs = [[float(x) for x in cv] for _, cv, _ in accepted[n_before:]]
        if new_vecs:
            nc = F.broadcast(
                spark.createDataFrame(
                    [(v,) for v in new_vecs], "ncvec array<double>"
                )
            )
            supp = (
                nxt.crossJoin(nc)
                .where(array_cosine(F.col("cvec"), F.col("ncvec")) > F.lit(s_tight))
                .select("cid")
                .distinct()
            )
            nxt = nxt.join(supp, "cid", "left_anti")
        # the rest of the pool goes to scratch parquet: every later
        # batch reads a durable table, not the pool's growing lineage
        remaining = ckpt(nxt)
        batch = remaining.orderBy("h", "cid").limit(batch_size).collect()
    return _canopy_membership(df, accepted, s_loose, id_col, vec_col)


def _suppress_greedy(
    pool: list, accepted: list, s_tight: float
) -> list:
    """Sequential McCallum suppression over `pool` (id, vec) rows in
    order, seeded with already-`accepted` (id, vec, norm) centers: a
    candidate survives iff no earlier-accepted center exceeds s_tight.
    Returns the extended accepted list."""
    import numpy as np

    out = list(accepted)
    for cid, cvec in pool:
        v = np.asarray(cvec, dtype=np.float64)
        nv = np.linalg.norm(v)
        suppressed = False
        for _, cv, cnv in out:
            denom = nv * cnv
            sim = float(v @ cv / denom) if denom > 0 else 0.0
            if sim > s_tight:
                suppressed = True
                break
        if not suppressed:
            out.append((cid, v, nv))
    return out


def _canopy_membership(
    df: DataFrame, centers: list, s_loose: float, id_col: str, vec_col: str
) -> DataFrame:
    """Broadcast the accepted centers (typed by the ACTUAL id column —
    string ids work) and emit (block_key, id) membership + singleton
    fallback rows."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    from blink_spark.functions.similarity import array_cosine

    spark = df.sparkSession
    schema = StructType(
        [
            StructField("canopy_id", df.schema[id_col].dataType),
            StructField("cvec", ArrayType(DoubleType())),
        ]
    )
    cdf = F.broadcast(
        spark.createDataFrame(
            [(cid, [float(x) for x in cv]) for cid, cv, _ in centers], schema
        )
    )
    member = (
        df.select(F.col(id_col), F.col(vec_col))
        .crossJoin(cdf)
        .where(array_cosine(F.col(vec_col), F.col("cvec")) > F.lit(s_loose))
        .select(
            F.concat_ws("|", F.lit("c"), F.col("canopy_id")).alias("block_key"),
            F.col(id_col),
        )
    )
    covered = member.select(id_col).distinct()
    singletons = (
        df.select(F.col(id_col))
        .join(covered, id_col, "left_anti")
        .select(
            F.concat_ws("|", F.lit("s"), F.col(id_col)).alias("block_key"),
            F.col(id_col),
        )
    )
    return member.unionByName(singletons)
