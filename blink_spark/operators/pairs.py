"""Candidate-pair generation: the blocked self-join.

The reference's mention×mention kNN search
(/root/reference/blink/biencoder/eval_cluster_linking.py:494-525) is,
relationally, a self-join restricted to a candidate set; here the
candidate set is "shares a block key". Self-pair removal mirrors
eval_cluster_linking.py:553-555; canonical a<b ordering + dedup
mirrors the edge dedup in special_partition.pyx:363-382.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from blink_spark.io.scratch import spill_scratch


def candidate_pairs(blocks: DataFrame, id_col: str = "file_id") -> DataFrame:
    """(block_key, id) -> distinct (id_a, id_b), id_a < id_b.

    A block of n rows yields n·(n-1)/2 pairs; multi-band duplicates are
    collapsed with a shuffle-dedup on the pair key (AQE handles skew).
    """
    a = blocks.select(F.col("block_key"), F.col(id_col).alias("id_a"))
    b = blocks.select(F.col("block_key"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, "block_key")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def attach_features(
    pairs: DataFrame, feats: DataFrame, id_col: str, feat_cols: list[str]
) -> DataFrame:
    """Join each pair side to its feature row (two shuffle joins on id).

    Mirrors the reference's id->record lookups
    (/root/reference/blink/biencoder/eval_cluster_linking.py:192-219)
    — broadcast when feats is small, shuffle-hash otherwise (left to
    Catalyst/AQE).
    """
    fa = feats.select(
        F.col(id_col).alias("id_a"), *[F.col(c).alias(f"{c}_a") for c in feat_cols]
    )
    fb = feats.select(
        F.col(id_col).alias("id_b"), *[F.col(c).alias(f"{c}_b") for c in feat_cols]
    )
    return pairs.join(fa, "id_a").join(fb, "id_b")


def top_k_per_node(
    edges: DataFrame, k: int, score_col: str = "score"
) -> DataFrame:
    """Keep each node's k best edges (union of both endpoints' views).

    The reference's per-query top-k
    (/root/reference/blink/crossencoder/eval_cluster_linking.py:501-521)
    as a window: rank edges per node, keep rank<=k, then re-dedup.
    Tie-break on (score desc, partner id asc) for determinism across
    partitionings.
    """
    fwd = edges.select(F.col("id_a").alias("qid"), F.col("id_b").alias("nid"), score_col)
    rev = edges.select(F.col("id_b").alias("qid"), F.col("id_a").alias("nid"), score_col)
    both = fwd.unionByName(rev)
    w = W.partitionBy("qid").orderBy(F.desc(score_col), F.asc("nid"))
    kept = both.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)
    return (
        kept.select(
            F.least("qid", "nid").alias("id_a"),
            F.greatest("qid", "nid").alias("id_b"),
            F.col(score_col),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str = "file_id",
    window: int = 3,
    by: str | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD 1995)
    — the classic ER alternative to hash blocking that LSH banding
    (functions/minhash.py) plays in the main pipeline: sort by a
    fuzzy key, pair each record with its window-1 successors, so
    near-misses that hash to different blocks still meet.

    With `by` (the preferred 100-TB shape — sort within lang/shard):
    ONE rank exchange per group and window-1 `lead()` columns exploded
    into pairs, no self-join. Without `by`, a single-partition global
    window would serialize the whole corpus through one task, so the
    global path instead computes the exact global rank with the
    range-partition + offset pattern (repartitionByRange on (key, id),
    per-partition row_number, broadcast partition offsets — rank is
    exact for ANY range boundaries) and pairs ranks via window-1
    rn = rn+d equi-joins. Ties on the key order by id, so the pairing
    is deterministic at any parallelism. Emits canonical (id_a < id_b,
    sort_gap) rows; a pair can only arise once, so no dedup pass is
    needed."""
    if window < 2:
        raise ValueError("window must be >= 2 (pairs need a successor)")
    if by:
        w = W.partitionBy(by).orderBy(F.col(key_col).asc(), F.col(id_col).asc())
        neigh = F.array(
            *[
                F.struct(
                    F.lit(d).alias("sort_gap"),
                    F.lead(F.col(id_col), d).over(w).alias("nid"),
                )
                for d in range(1, window)
            ]
        )
        return (
            df.select(F.col(id_col).alias("sid"), neigh.alias("ns"))
            .select("sid", F.explode("ns").alias("n"))
            .where(F.col("n.nid").isNotNull())
            .select(
                F.least("sid", "n.nid").alias("id_a"),
                F.greatest("sid", "n.nid").alias("id_b"),
                F.col("n.sort_gap").alias("sort_gap"),
            )
        )
    # global path: exact global rank without a one-task window. The
    # local index comes from an order-preserving mapInPandas over the
    # range-sorted partitions — a window over spark_partition_id()
    # would re-exchange the whole corpus a second time just to group
    # by the partition it is already in.
    import pandas as pd

    sorted_df = (
        df.select(F.col(key_col).alias("k"), F.col(id_col).alias("sid"))
        .repartitionByRange(F.col("k"), F.col("sid"))
        .sortWithinPartitions(F.col("k").asc(), F.col("sid").asc())
        .select("sid")
    )

    def _index(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        i = 0
        for pdf in batches:
            n = len(pdf)
            yield pd.DataFrame(
                {"sid": pdf["sid"], "pid": pid, "lrn": range(i + 1, i + n + 1)}
            )
            i += n

    local = sorted_df.mapInPandas(_index, schema="sid long, pid int, lrn long")
    # two consumers (counts + the offset join) and window-1 rank joins
    # downstream — materialize the range sort exactly once
    local = spill_scratch(local, "sn_rank")
    counts = local.groupBy("pid").agg(F.count(F.lit(1)).alias("c"))
    woff = W.orderBy("pid")  # one row per partition — bounded window
    offsets = counts.select(
        "pid",
        (F.sum("c").over(woff.rowsBetween(W.unboundedPreceding, -1))).alias(
            "off"
        ),
    ).fillna(0, ["off"])
    rn = local.join(F.broadcast(offsets), "pid").select(
        "sid", (F.col("lrn") + F.col("off")).alias("rn")
    )
    out = None
    for d in range(1, window):
        succ = rn.select(
            (F.col("rn") - d).alias("rn"), F.col("sid").alias("nid")
        )
        p = (
            rn.join(succ, "rn")
            .select(
                F.least("sid", "nid").alias("id_a"),
                F.greatest("sid", "nid").alias("id_b"),
                F.lit(d).alias("sort_gap"),
            )
        )
        out = p if out is None else out.unionByName(p)
    return out
