"""G3 — maximum-spanning-forest pre-filter (the reference's undirected
mode).

Before pruning an UNDIRECTED joint graph, the reference filters it
down to a minimum spanning tree of the NEGATED weights — i.e. the
maximum spanning forest of the similarity graph — "for faster
processing", then restores both edge directions and runs the same
greedy partition
(/root/reference/blink/biencoder/special_partition/special_partition.pyx:391-414,
scipy ``minimum_spanning_tree`` on ``csr_matrix(-data)``).

Two Spark shapes, same result:

* :func:`max_spanning_forest_py` — Kruskal with union-find on one
  component's edge list; runs inside the per-component
  ``applyInPandas`` of the G4 partition (components are
  block-bounded, the same locality argument as G4 itself).
* :func:`max_spanning_forest` — distributed Borůvka expressed as
  DataFrame ops: each round every super-node picks its best incident
  cross edge (one groupBy argmax), picked edges contract components
  (one CC pass over the forest so far), and the round count is
  O(log n) because components at least halve. No driver-side graph,
  no collect — this is the 100-TB path when a component outgrows a
  single task.

Determinism: ties are broken (score DESC, src ASC, dst ASC) in both
implementations, so Kruskal and Borůvka return the IDENTICAL edge set
(not just equal total weight) at any parallelism — pytest asserts
this equivalence on random graphs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from blink_spark.io.scratch import (
    make_parquet_checkpointer,
    observed_checkpoint,
    spill_scratch,
)
from blink_spark.operators.connected_components import connected_components, no_aqe

FOREST_SCHEMA = "src long, dst long, score double"


# ------------------------------------------------------- local Kruskal

def max_spanning_forest_py(
    edges: list[tuple[int, int, float]]
) -> list[tuple[int, int, float]]:
    """Kruskal on one (small) component: scan edges by (score DESC,
    src ASC, dst ASC), keep an edge iff it joins two distinct trees.
    Undirected: (u, v) and (v, u) are the same edge (canonicalized to
    min-first, keeping the max score seen for the pair)."""
    best: dict[tuple[int, int], float] = {}
    for s, d, w in edges:
        a, b = (s, d) if s <= d else (d, s)
        if a == b:
            continue
        if (a, b) not in best or w > best[(a, b)]:
            best[(a, b)] = w
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    kept: list[tuple[int, int, float]] = []
    for (a, b), w in sorted(best.items(), key=lambda kv: (-kv[1], kv[0])):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
            kept.append((a, b, w))
    return kept


def _forest_one_component(pdf: pd.DataFrame) -> pd.DataFrame:
    kept = max_spanning_forest_py(
        [
            (int(s), int(d), float(w))
            for s, d, w in zip(pdf["src"], pdf["dst"], pdf["score"])
        ]
    )
    return pd.DataFrame(kept, columns=["src", "dst", "score"])


def max_spanning_forest_per_component(
    edges: DataFrame, group_col: str | None = None
) -> DataFrame:
    """Per-component Kruskal via applyInPandas — the exact-parity path
    mirroring the reference's single-process scipy call. edges(src,
    dst, score) -> forest edges (src, dst, score), src < dst.

    ``group_col`` skips the distributed CC when the caller already
    KNOWS a column that bounds components (e.g. the blocking key in a
    blocked ER graph — no edge crosses blocks by construction). One
    groupBy instead of O(log n) CC rounds; per-group Kruskal output is
    identical because Kruskal never links across groups that share no
    edges."""
    if group_col is not None:
        return edges.groupBy(group_col).applyInPandas(
            lambda pdf: _forest_one_component(pdf), schema=FOREST_SCHEMA
        )
    comp = connected_components(
        edges.select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
    )
    e = edges.join(comp.select(F.col("id").alias("src"), "component"), "src")
    return e.groupBy("component").applyInPandas(
        lambda pdf: _forest_one_component(pdf), schema=FOREST_SCHEMA
    )


# ---------------------------------------------------- distributed Borůvka

def max_spanning_forest(edges: DataFrame, max_rounds: int = 30) -> DataFrame:
    """Distributed Borůvka: edges(src, dst, score) -> maximum spanning
    forest (src, dst, score) with src < dst.

    Each round: (1) label endpoints with their current component, drop
    intra-component edges; (2) per component keep the single best
    incident edge (groupBy argmax — a map-side-combinable shuffle);
    (3) merge components along picked edges (CC over the picked-edge
    component graph — tiny: one edge per component). Components at
    least halve per round -> O(log n) rounds; every step is a
    DataFrame op, and nothing reaches the driver but the forest's row
    count, observed on the round's forest checkpoint: it stops growing
    once no cross-component edge is left.

    Per-round state (labels + forest) is checkpointed DURABLY to
    scratch parquet, like connected_components — never
    localCheckpoint, whose executor-resident blocks die with a lost
    executor."""
    ck_comp = make_parquet_checkpointer(name="boruvka_comp")
    ck_forest = make_parquet_checkpointer(name="boruvka_forest")
    ck_cc = make_parquet_checkpointer(name="boruvka_cc")
    spark = edges.sparkSession
    # AQE off as in CC; the nested CC calls size their own partitions
    with no_aqe(spark):
        # canonical undirected edges, deduped to best score per pair
        e = (
            edges.select(
                F.least("src", "dst").alias("u"),
                F.greatest("src", "dst").alias("v"),
                F.col("score").cast("double").alias("score"),
            )
            .where(F.col("u") != F.col("v"))
            .groupBy("u", "v")
            .agg(F.max("score").alias("score"))
        )
        # e is re-joined EVERY round; one durable spill stops each round
        # from recomputing the (possibly expensive) upstream edge lineage
        e = spill_scratch(e, "boruvka_edges")
        # comp: node -> component label (min node id of the tree so far)
        comp = (
            e.select(F.col("u").alias("node"))
            .unionByName(e.select(F.col("v").alias("node")))
            .distinct()
            .withColumn("comp", F.col("node"))
        )
        forest = spark.createDataFrame([], "u long, v long, score double")
        n_forest = 0
        # round max_rounds only checks for leftover cross edges
        for rnd in range(max_rounds + 1):
            labeled = (
                e.join(comp.select(F.col("node").alias("u"), F.col("comp").alias("cu")), "u")
                .join(comp.select(F.col("node").alias("v"), F.col("comp").alias("cv")), "v")
                .where(F.col("cu") != F.col("cv"))
            )
            # best cross edge per component, from BOTH endpoints' perspective
            per_side = labeled.select(F.col("cu").alias("c"), "u", "v", "score").unionByName(
                labeled.select(F.col("cv").alias("c"), "u", "v", "score")
            )
            picked = (
                per_side.withColumn(
                    "rk",
                    F.row_number().over(
                        W.partitionBy("c").orderBy(
                            F.desc("score"), F.asc("u"), F.asc("v")
                        )
                    ),
                )
                .where(F.col("rk") == 1)
                .select("u", "v", "score")
                .distinct()
            )
            # forest edges are intra-component, so every picked edge is new:
            # the forest's row count, observed on its checkpoint write, grows
            # iff a cross-component edge was left — no separate probe action
            forest, obs = observed_checkpoint(
                ck_forest, forest.unionByName(picked), F.count(F.lit(1)).alias("n")
            )
            if obs["n"] == n_forest:
                break
            if rnd == max_rounds:
                # Components at least halve per round, so 30 rounds cover
                # 2^30 components; exhausting them means something is wrong
                # (or an absurd max_rounds override). Never return a
                # silently partial forest — callers can't tell truncation
                # from convergence.
                raise RuntimeError(
                    f"max_spanning_forest: cross-component edges remain after "
                    f"{max_rounds} Boruvka rounds; the returned forest would be "
                    f"non-spanning. Raise max_rounds (components halve per round, "
                    f"so rounds ~ log2(n_nodes))."
                )
            n_forest = obs["n"]
            # contract: CC over the component graph induced by picked edges
            cedges = (
                picked.join(
                    comp.select(F.col("node").alias("u"), F.col("comp").alias("id_a")), "u"
                )
                .join(comp.select(F.col("node").alias("v"), F.col("comp").alias("id_b")), "v")
                .select("id_a", "id_b")
            )
            merged = connected_components(cedges, checkpoint_fn=ck_cc)
            comp = (
                comp.join(
                    merged.select(F.col("id").alias("comp"), F.col("component").alias("new")),
                    "comp",
                    "left",
                )
                .select("node", F.coalesce("new", "comp").alias("comp"))
            )
            comp = ck_comp(comp)
    return forest.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), "score"
    )
