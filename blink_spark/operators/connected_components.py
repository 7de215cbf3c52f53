"""Iterative connected components over an edge DataFrame — stage 3.

The reference clusters its pruned k-NN graph with SciPy's
connected_components on a driver-resident COO matrix
(/root/reference/blink/biencoder/eval_cluster_linking.py:133-146).
That is a single-node dead end at 10^12 rows, so this module is the
"north-star" custom operator: distributed large-star / small-star
(Kiveris et al., 2014, "Connected Components in MapReduce and
Beyond"). It needs O(log n) rounds even on pathological chains, where
min-label propagation needs O(diameter). A round is two window
minimums over ``partitionBy(u)`` and one ``distinct``.

A round is one Spark action: its checkpoint write, with the loop's
convergence signature observed on it (``io/scratch.py`` holds the
checkpointer and ``observed_checkpoint``). There is no separate write
of the oriented input: round 1 runs on the lazy oriented plan at the
session's partition count, and each later round is sized from the
edge count observed on the round before it. The loop stops when a
round's signature equals the previous round's, or when a round is
empty; past ``max_iterations`` it raises.

Component label = min node id in the component (order-free, so results
are identical at any parallelism — required by the scaling check).
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from blink_spark.io.scratch import make_parquet_checkpointer, observed_checkpoint


@dataclass
class CCStats:
    iterations: int = 0
    rounds: list[dict] = field(default_factory=list)


def exact_sum(c: Column) -> Column:
    """SUM as DECIMAL(38,0): exact (no BIGINT wrap-around), 0 on no rows."""
    return F.coalesce(F.sum(c.cast("decimal(38,0)")), F.lit(0))


def _symmetrize(edges: DataFrame) -> DataFrame:
    a, b = edges.columns[0], edges.columns[1]
    fwd = edges.select(F.col(a).alias("u"), F.col(b).alias("v"))
    rev = edges.select(F.col(b).alias("u"), F.col(a).alias("v"))
    return fwd.unionByName(rev).where(F.col("u") != F.col("v"))


def _edge_signature() -> tuple[Column, Column]:
    return F.count(F.lit(1)).alias("n"), exact_sum(F.xxhash64("u", "v")).alias("h")


def _alternating_round(edges: DataFrame) -> DataFrame:
    """Large star then small star over oriented (u > v) edges. Large:
    link each strictly larger neighbour of u to min(N(u) ∪ {u}), output
    oriented and not deduplicated (duplicates never change a window
    minimum). Small: link u and each smaller neighbour to min(N(u))."""
    by_u = Window.partitionBy("u")
    large = (
        _symmetrize(edges)
        .withColumn("m", F.least(F.min("v").over(by_u), F.col("u")))
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    star = large.withColumn("m", F.min("v").over(by_u))
    links = F.array(F.struct(F.col("v").alias("u"), "m"), F.struct("u", "m"))
    return (
        star.select(F.inline(links))
        .select("u", F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    stats: CCStats | None = None,
    checkpoint_fn=None,
) -> DataFrame:
    """edges(id_a, id_b) -> (id, component) for every node incident to
    an edge. Component id = min member id. Deterministic under any
    partitioning/parallelism. One checkpoint write per round and no
    other action; the result is lazy over the last round's table.
    ``checkpoint_fn`` (df -> df) must execute its frame, as
    ``make_parquet_checkpointer`` does; the default is one on a fresh
    scratch dir. Raises ValueError if no fixpoint is reached within
    ``max_iterations`` rounds."""
    return _cc_alternating(
        edges,
        max_iterations,
        stats if stats is not None else CCStats(),
        checkpoint_fn or make_parquet_checkpointer(),
    )


def _size_partitions(n_edges: int, spark) -> int:
    """Parallelism proportional to graph size (~1M edges/partition):
    a 50k-edge graph on 32 shuffle partitions pays ~10x more task/
    shuffle overhead than compute; a 10^12-edge graph needs them all.
    Returns a cap for the CC loop's shuffles."""
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(2, min(default, (n_edges // 1_000_000) + 1))


@contextmanager
def no_aqe(spark, shuffle_partitions: int | None = None):
    """Scope for an iterative loop, restored on exit: AQE off (it would
    only split each round's checkpoint write into one job per shuffle
    stage) and, when given, the loop's own shuffle partition count."""
    scoped = {"spark.sql.adaptive.enabled": "false"}
    if shuffle_partitions is not None:
        scoped["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    restore = {k: spark.conf.get(k) for k in scoped}
    for k, v in scoped.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in restore.items():
            spark.conf.set(k, v)


def _cc_alternating(edges: DataFrame, max_iterations: int, stats: CCStats, _checkpoint) -> DataFrame:
    cur = edges.select(
        F.greatest("id_a", "id_b").alias("u"), F.least("id_a", "id_b").alias("v")
    ).where(F.col("u") != F.col("v")).distinct()
    spark = edges.sparkSession
    # round 1 runs on the lazy oriented plan at the session's partition
    # count; later rounds are sized from the previous round's edges
    sig, parts = None, None
    for it in range(max_iterations):
        with no_aqe(spark, parts):
            cur, new_sig = observed_checkpoint(
                _checkpoint, _alternating_round(cur), *_edge_signature()
            )
        stats.iterations = it + 1
        stats.rounds.append({"iter": it + 1, "edges": new_sig["n"]})
        if new_sig["n"] == 0 or new_sig == sig:
            # converged: star edges (node -> root); roots label themselves
            labelled = cur.unionByName(cur.select(F.col("v").alias("u"), "v"))
            return labelled.groupBy(F.col("u").alias("id")).agg(
                F.min("v").alias("component")
            )
        sig = new_sig
        parts = _size_partitions(new_sig["n"], spark)
    raise ValueError(
        f"connected_components: no fixpoint after max_iterations={max_iterations} "
        "rounds; the labels would be unconverged. Raise max_iterations "
        "(rounds grow ~ log2 of the longest path)."
    )


def assign_clusters(
    all_ids: DataFrame, components: DataFrame, id_col: str = "file_id"
) -> DataFrame:
    """Every row gets a cluster: its component if it has edges, else
    itself (singleton). Mirrors the reference's 'clusters of size >= 2
    only' + implicit singletons
    (/root/reference/blink/biencoder/eval_cluster_linking.py:139-146)."""
    joined = all_ids.select(F.col(id_col)).join(
        components.select(F.col("id").alias(id_col), "component"), id_col, "left"
    )
    return joined.select(
        F.col(id_col), F.coalesce("component", F.col(id_col)).alias("cluster_id")
    )
