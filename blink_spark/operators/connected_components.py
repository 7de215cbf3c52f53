"""Iterative connected components over an edge DataFrame — stage 3.

The reference clusters its pruned k-NN graph with SciPy's
connected_components on a driver-resident COO matrix
(/root/reference/blink/biencoder/eval_cluster_linking.py:133-146).
That is a single-node dead end at 10^12 rows, so this module is the
"north-star" custom operator: two distributed formulations, both pure
self-joins/aggregations with per-iteration checkpointing to cut
lineage (the reference's pickle-every-stage memoization,
eval_cluster_linking.py:411-415, becomes localCheckpoint/checkpoint).

  * ``alternating`` — large-star / small-star (Kiveris et al., 2014,
    "Connected Components in MapReduce and Beyond"): O(log n) rounds
    on pathological chains; the 100-TB-safe default.
  * ``hashmin`` — min-label propagation; O(diameter) rounds, cheapest
    per-round; clone-family graphs are near-cliques so diameter ~ 2.

Component label = min node id in the component (order-free, so results
are identical at any parallelism — required by the scaling check).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class CCStats:
    algorithm: str = ""
    iterations: int = 0
    rounds: list[dict] = field(default_factory=list)


def make_parquet_checkpointer(scratch_dir: str, keep_last: int = 2, name: str = "cc_iter"):
    """Per-iteration checkpointer backed by scratch parquet. Preferred
    over localCheckpoint: measured on this host, the local block store
    burns ~100x CPU per row for these tables; on a real cluster
    localCheckpoint blocks are executor-memory-resident and
    non-durable — one lost executor kills the whole iterative job,
    while a parquet iteration table lets it resume.

    Only the last ``keep_last`` iteration tables are retained — once
    iteration N is durably written, N - keep_last can no longer be an
    input to anything, so it's deleted. ``name`` namespaces the
    iteration files: loops that interleave two checkpoint streams
    (e.g. Boruvka's component labels + forest) need separate counters
    so one stream's GC never deletes the other's live table."""
    import shutil

    counter = {"n": 0}

    def ckpt(df: DataFrame) -> DataFrame:
        counter["n"] += 1
        path = f"{scratch_dir}/{name}_{counter['n']}"
        df.write.mode("overwrite").parquet(path)
        out = df.sparkSession.read.parquet(path)
        stale = counter["n"] - keep_last
        if stale >= 1:
            shutil.rmtree(f"{scratch_dir}/{name}_{stale}", ignore_errors=True)
        return out

    return ckpt


def scratch_parquet_checkpointer(name: str = "cc_iter", keep_last: int = 2):
    """A parquet checkpointer on a fresh session-scoped scratch dir
    (removed at interpreter exit) — the default for every iterative
    operator when the caller doesn't supply a durable location."""
    from blink_spark.io.scratch import scratch_dir

    return make_parquet_checkpointer(scratch_dir(), keep_last=keep_last, name=name)


def _symmetrize(edges: DataFrame) -> DataFrame:
    a, b = edges.columns[0], edges.columns[1]
    fwd = edges.select(F.col(a).alias("u"), F.col(b).alias("v"))
    rev = edges.select(F.col(b).alias("u"), F.col(a).alias("v"))
    return fwd.unionByName(rev).where(F.col("u") != F.col("v"))


def _edge_checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _large_star(edges: DataFrame) -> DataFrame:
    """For each u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u}). Output edges oriented (big -> small)."""
    nbr = _symmetrize(edges)
    mins = (
        nbr.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", F.col("u")).alias("m"))
    )
    return (
        nbr.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient (big -> small); for each u connect all smaller neighbors
    and u itself to the minimum neighbor."""
    e = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    with_min = e.join(mins, "u")
    link_nbrs = (
        with_min.where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    link_self = mins.select(F.col("u"), F.col("m").alias("v"))
    return link_nbrs.unionByName(link_self).where(F.col("u") != F.col("v")).distinct()


def connected_components(
    edges: DataFrame,
    algorithm: str = "alternating",
    max_iterations: int = 50,
    stats: CCStats | None = None,
    checkpoint_fn=None,
) -> DataFrame:
    """edges(id_a, id_b) -> (id, component) for every node incident to
    an edge. Component id = min member id. Deterministic under any
    partitioning/parallelism."""
    if stats is None:
        stats = CCStats()
    stats.algorithm = algorithm
    # default is DURABLE: scratch parquet, never localCheckpoint (see
    # make_parquet_checkpointer; io/scratch.py documents the measured
    # ~100x local-block-store CPU cost)
    ckpt = checkpoint_fn or scratch_parquet_checkpointer()
    if algorithm == "alternating":
        return _cc_alternating(edges, max_iterations, stats, ckpt)
    if algorithm == "hashmin":
        return _cc_hashmin(edges, max_iterations, stats, ckpt)
    raise ValueError(f"unknown CC algorithm: {algorithm}")


def _size_partitions(n_edges: int, spark) -> int:
    """Parallelism proportional to graph size (~1M edges/partition):
    a 50k-edge graph on 32 shuffle partitions pays ~10x more task/
    shuffle overhead than compute; a 10^12-edge graph needs them all.
    Returns a cap for the CC loop's shuffles."""
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(2, min(default, (n_edges // 1_000_000) + 1))


def _cc_alternating(edges: DataFrame, max_iterations: int, stats: CCStats, _checkpoint) -> DataFrame:
    cur = (
        edges.select(
            F.greatest("id_a", "id_b").alias("u"), F.least("id_a", "id_b").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    cur = _checkpoint(cur)
    spark = cur.sparkSession
    nparts = _size_partitions(cur.count(), spark)
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(nparts))
    try:
        # checkpoint inside the narrowed-partitions scope so the final
        # aggregation also runs at graph-sized parallelism
        return _checkpoint(
            _cc_alternating_loop(cur, max_iterations, stats, _checkpoint)
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)


def _cc_alternating_loop(cur: DataFrame, max_iterations: int, stats: CCStats, _checkpoint) -> DataFrame:
    prev_sig = _edge_checksum(cur)
    for it in range(max_iterations):
        cur = _checkpoint(_small_star(_large_star(cur)))
        sig = _edge_checksum(cur)
        stats.iterations = it + 1
        stats.rounds.append({"iter": it + 1, "edges": sig[0]})
        if sig == prev_sig:
            break
        prev_sig = sig
    # converged: star edges (node -> root); roots label themselves
    members = cur.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = cur.select(F.col("v").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    return (
        members.unionByName(roots)
        .groupBy("id")
        .agg(F.min("component").alias("component"))
    )


def _cc_hashmin(edges: DataFrame, max_iterations: int, stats: CCStats, _checkpoint) -> DataFrame:
    # sym is STATIC input read by every iteration — it must live
    # outside the checkpointer's keep_last rotation (which would GC it
    # after two label checkpoints); one non-rotating scratch spill
    from blink_spark.io.scratch import spill_scratch

    sym, _ = spill_scratch(_symmetrize(edges).distinct(), "cc_hashmin_sym")
    labels = sym.select(F.col("u").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    labels = _checkpoint(labels)
    prev_sum = None
    for it in range(max_iterations):
        nbr_min = (
            sym.join(labels, sym["v"] == labels["id"])
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        labels = (
            labels.join(nbr_min, labels["id"] == nbr_min["u"], "left")
            .select(
                F.col("id"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
        )
        labels = _checkpoint(labels)
        cur_sum = labels.agg(
            F.coalesce(F.sum(F.col("label").cast("decimal(38,0)")), F.lit(0))
        ).collect()[0][0]
        stats.iterations = it + 1
        stats.rounds.append({"iter": it + 1, "label_sum": str(cur_sum)})
        if prev_sum is not None and cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select("id", F.col("label").alias("component"))


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
