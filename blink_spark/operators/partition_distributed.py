"""Distributed EXACT G4 for oversize mixed components.

``linking.entity_constrained_partition`` resolves mixed components with
a per-component sequential greedy (one ``applyInPandas`` task holds the
whole component — mirrors the reference running its Cython kernel over
one adjacency at a time, special_partition.pyx:288-356). That is exact
but caps out at ``max_component_edges``: at 100x corpus scale a giant
mixed WEAK component forces error-or-approximation. This module removes
that fork for the directed graph mode with an exact decomposition whose
parallel grain is the STRONGLY-connected component, not the weak one.

Why it is exact (each step is provable from the greedy's definition —
scan edges ascending by (score, src, dst); drop an edge iff its source
still reaches an entity without it):

1. *Invariant.* The greedy never destroys any node's entity-
   reachability: an edge is only dropped when its source keeps an
   alternative path, and any other node's path through the dropped edge
   reroutes through that alternative (reachability is transitive).
2. *External-alternative drop rule.* For edge e=(s,d_i), if s has a
   LATER out-edge (s,d_j) whose target lies outside SCC(s), then e is
   dropped: at e's turn (s,d_j) is still unprocessed (present), and
   d_j reaches an entity even with e removed — every d_j-path needing e
   would imply a d_j->s path, which together with the s->d_j edge is a
   cycle, i.e. d_j IN SCC(s), contradiction. Hence per source only the
   max-order external edge k(s) plus internal (same-SCC) edges ABOVE
   k(s) can survive; everything below k(s) drops unconditionally.
3. *Trivial-SCC sources = window argmax.* A source in no directed cycle
   has only external targets, so rule 2 leaves exactly its max-
   (score, dst) edge — and that edge is kept (no alternatives remain at
   its turn). This is the same argmax the star fast path runs.
4. *Per-SCC sub-problems are independent and exact.* For the remaining
   sources, decisions depend only on edges of their own SCC: run the
   sequential greedy per SCC over {k(s)} ∪ {internal edges above k(s)}
   (all out-edges when s has no external edge), treating as virtual
   entities every SCC-external target AND every same-class target that
   is not itself a sub-source (those resolve by argmax: their k is
   always kept, so they are entity-reaching at every global time —
   leaving them non-virtual would make them sub-problem dead ends and
   keep edges the global scan drops). Presence bookkeeping
   matches the global scan exactly: an SCC member's exit exists at
   global time t iff its max external edge is unprocessed or kept —
   which is precisely the virtual edge's state at the same point of the
   order-restricted sub-scan; and any global path edge missing from the
   sub-problem is an unprocessed below-k(x) edge, whose presence implies
   the virtual edge k(x) is also still present. (The one corner — the
   tested edge itself being k(s) while a below-k(s) out-edge of s is
   unprocessed — cannot occur: below-k edges are processed before k.)
5. *Assignment is pointer doubling.* The kept graph is a functional
   forest rooted at entities (each source keeps exactly one out-edge;
   the reference asserts the same in-tree invariant,
   eval_cluster_linking.py:233-235), so following chains is O(log depth)
   self-join rounds.

SCC grouping uses forward/backward min-label propagation over the
mention-mention subgraph to a TRUE fixpoint. Same-SCC nodes provably
share (fwd, bwd), so label classes are UNIONS of SCCs — and the whole
decomposition above remains exact for any SCC-closed coarsening (a
cycle never crosses a class boundary), so a coarse class costs
parallel grain, never correctness. Classes that exceed
``max_component_edges`` raise loudly.

Undirected mode (G3 MST prefilter + symmetrize) is NOT supported here:
symmetrization makes every weak component one SCC, so the decomposition
degenerates to the status quo — there an oversize component raises
unless the caller opts into ``oversize='salvage'``. Cited reference behavior: special_partition.pyx:288-356 (greedy),
eval_cluster_linking.py:105-139 (invocation).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blink_spark.io.scratch import (
    make_parquet_checkpointer,
    observed_checkpoint,
    spill_scratch,
)
from blink_spark.operators.connected_components import exact_sum
from blink_spark.operators.linking import (
    _assign_nodes,
    _best_out_edge,
    _node_flags,
    special_partition_py,
)

# total min-label hops before _propagate_min gives up, and the most
# hops it chains lazily between two checkpoints
PROPAGATE_MAX_HOPS = 512
HOPS_PER_ROUND = 8
# pointer-doubling rounds: resolves kept chains up to 2^48 deep
DOUBLING_MAX_ROUNDS = 48


def _propagate_min(
    nodes: DataFrame,
    edges: DataFrame,
    forward: bool,
    label_col: str,
    name: str = "g4_prop",
) -> DataFrame:
    """Min-label fixpoint along directed edges.

    nodes(node_id, <label_col>) with BIGINT labels; edges(src, dst).
    forward=True: labels flow src->dst (label(v) = min over predecessors
    and self); forward=False: dst->src. Monotone non-increasing BIGINT
    labels, so the exact SUM(label), observed during each checkpoint
    write, is a convergence check that costs no extra Spark action.
    Returns nodes at fixpoint.

    Hop count to converge is the graph's directed diameter: this is
    min-label propagation, O(diameter) rounds, not the O(log n)
    star contraction of connected_components.py (directed min-label
    reachability is not undirected CC). Unlike CC, several one-hop updates are chained LAZILY into a
    single job before each durable parquet checkpoint + convergence
    probe: the shuffle count is identical, but the driver round-trip
    and checkpoint commit — the per-round latency floor on a large
    cluster, and the dominant cost of high-diameter chain graphs —
    amortize across the batch. The batch GROWS geometrically
    1, 2, 4, ... up to ``HOPS_PER_ROUND``: small-diameter graphs (the
    common kNN shape) converge on cheap batches instead of paying a
    full batch of stages per probe, while chains approach the
    amortized regime. ``PROPAGATE_MAX_HOPS`` caps TOTAL hops; overshooting
    the fixpoint inside a batch is harmless (updates are idempotent at
    the fixpoint). Loud failure past the cap, as everywhere else in
    the repo.
    """
    up, down = ("src", "dst") if forward else ("dst", "src")
    ckpt = make_parquet_checkpointer(name=name)
    cur = ckpt(nodes.select("node_id", label_col))
    prev_sum = None
    hops_done = 0
    batch = 1
    while hops_done < PROPAGATE_MAX_HOPS:
        for _ in range(min(batch, PROPAGATE_MAX_HOPS - hops_done)):
            msgs = edges.join(
                cur.select(F.col("node_id").alias(up), F.col(label_col)), up
            ).select(F.col(down).alias("node_id"), label_col)
            cur = (
                cur.unionByName(msgs)
                .groupBy("node_id")
                .agg(F.min(label_col).alias(label_col))
            )
            hops_done += 1
        cur, obs = observed_checkpoint(ckpt, cur, exact_sum(F.col(label_col)).alias("s"))
        s = obs["s"]
        if prev_sum is not None and s == prev_sum:
            return cur
        prev_sum = s
        batch = min(batch * 2, HOPS_PER_ROUND)
    raise ValueError(
        f"_propagate_min({name}): no fixpoint after {PROPAGATE_MAX_HOPS} "
        "hops — an oversize component's directed diameter exceeds the "
        "cap. Fracture it with a higher score threshold or a lower "
        "mention_knn, or resolve oversize components with "
        "oversize='salvage'."
    )


def _dedup_edges(edges: DataFrame) -> DataFrame:
    """Max-weight dedup per (src, dst) + per-node entity flags — the
    same preprocessing special_partition_py applies per component
    (special_partition.pyx:385 'Duplicates')."""
    return edges.groupBy("src", "dst").agg(
        F.max("score").alias("score"),
        F.max("src_is_entity").alias("src_is_entity"),
        F.max("dst_is_entity").alias("dst_is_entity"),
    )


def _entity_reaching(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(node_id) subset that can reach an entity along directed edges —
    the distributed form of linking.entity_reachable_nodes. Encoded as
    min-label propagation BACKWARD with entity=0 / mention=1 seeds."""
    seeded = nodes.select(
        "node_id",
        F.when(F.col("is_entity"), F.lit(0)).otherwise(F.lit(1))
        .cast("long")
        .alias("reach"),
    )
    fixed = _propagate_min(
        seeded, edges.select("src", "dst"), forward=False,
        label_col="reach", name="g4_reach",
    )
    return fixed.where(F.col("reach") == 0).select("node_id")


def _scc_classes(mm_edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """(node_id, scc_class) for mention nodes, where every class is a
    union of SCCs of the mention-mention subgraph.

    fwd(v) = min mention id that reaches v; bwd(v) = min mention id v
    reaches (self included, entity targets EXCLUDED so a popular small-
    id entity cannot collapse unrelated chains into one class). Nodes
    of one SCC reach exactly the same node sets, so they share
    (fwd, bwd); classes therefore never split an SCC — the only
    property the decomposition needs. Class ids are xxhash64 of the
    label pair — a collision can only MERGE classes, which stays
    SCC-closed (costs grain, not correctness).

    The class keys on (fwd, bwd) alone: hashing a per-node-unique value
    into it would make every class a singleton — which silently
    un-groups real SCCs and lets the cross-class argmax keep 2-cycles
    (caught by test_distributed_partition_random_graphs_exact)."""
    edges = mm_edges.select("src", "dst")
    init = nodes.select("node_id", F.col("node_id").cast("long").alias("lbl"))
    fwd = _propagate_min(init, edges, True, "lbl", name="g4_fwd").select(
        "node_id", F.col("lbl").alias("fwd")
    )
    bwd = _propagate_min(init, edges, False, "lbl", name="g4_bwd").select(
        "node_id", F.col("lbl").alias("bwd")
    )
    return fwd.join(bwd, "node_id").select(
        "node_id", F.xxhash64("fwd", "bwd").alias("scc_class")
    )


_KEPT_SCHEMA = "src long, dst long"


def _greedy_kept_edges(pdf: pd.DataFrame) -> pd.DataFrame:
    """One SCC-class sub-problem: sequential greedy over its edges with
    virtual-entity targets, returning KEPT edges (assignment happens
    globally via pointer doubling — a kept exit edge's real target
    resolves through that target's own kept chain)."""
    edges = [
        (int(s), int(d), float(w))
        for s, d, w in zip(pdf["src"], pdf["dst"], pdf["score"])
    ]
    virt = {int(d) for d, v in zip(pdf["dst"], pdf["virtual_ent"]) if v}
    kept = special_partition_py(edges, virt)
    return pd.DataFrame(
        [(s, d) for s, d, _ in kept], columns=["src", "dst"]
    )


def _assign_by_doubling(kept: DataFrame, flags: DataFrame) -> DataFrame:
    """kept(src, dst) functional forest -> (node_id, entity_id) for
    every source, via pointer doubling: each round every unresolved
    chain halves, so depth-D chains resolve in ceil(log2 D) self-join
    rounds (the kept graph is acyclic in-trees rooted at entities —
    guarded anyway by the round cap)."""
    ckpt = make_parquet_checkpointer(name="g4_chase")
    undone = F.count(F.when(~F.col("done"), 1)).alias("undone")
    ent = flags.select(
        F.col("node_id").alias("cur"),
        F.col("is_entity").alias("cur_is_ent"),
    )
    state, obs = observed_checkpoint(
        ckpt,
        kept.select(F.col("src").alias("node_id"), F.col("dst").alias("cur"))
        .join(ent, "cur", "left")
        .select(
            "node_id",
            "cur",
            F.coalesce("cur_is_ent", F.lit(False)).alias("done"),
        ),
        undone,
    )
    for _ in range(DOUBLING_MAX_ROUNDS):
        if obs["undone"] == 0:
            return state.select("node_id", F.col("cur").alias("entity_id"))
        hop = state.select(
            F.col("node_id").alias("cur"),
            F.col("cur").alias("nxt"),
            F.col("done").alias("nxt_done"),
        )
        state, obs = observed_checkpoint(
            ckpt,
            state.join(hop, "cur", "left").select(
                "node_id",
                F.when(F.col("done") | F.col("nxt").isNull(), F.col("cur"))
                .otherwise(F.col("nxt"))
                .alias("cur"),
                (
                    F.col("done")
                    | F.coalesce(F.col("nxt_done"), F.lit(False))
                ).alias("done"),
            ),
            undone,
        )
    raise ValueError(
        "_assign_by_doubling: chains unresolved after "
        f"{DOUBLING_MAX_ROUNDS} doubling rounds — a cycle in the kept graph "
        "would violate the greedy's in-tree invariant; this is a bug"
    )


def distributed_partition(
    part: DataFrame,
    max_component_edges: int = 2_000_000,
) -> DataFrame:
    """Exact G4 over edges(src, dst, score, src_is_entity,
    dst_is_entity) -> (node_id, is_entity, entity_id), bit-identical to
    the per-component sequential greedy, with no task ever holding more
    than one SCC-class sub-problem (see module docstring for the
    exactness argument). Raises if an SCC class exceeds
    ``max_component_edges``.

    Each spill below cuts a table with two or more consumers or one
    that feeds a loop; single-consumer tables stay lazy."""
    # e feeds flags, the reachability loop and live
    e = spill_scratch(_dedup_edges(part), "g4d_edges")
    # flags feed the reachability seeds, mentions and both assign steps
    flags = spill_scratch(_node_flags(e), "g4d_flags")

    # 1. entity-reachability filter (greedy precondition): drop edges
    # touching any node that cannot reach an entity — those mentions
    # come out entity_id NULL, matching _partition_one_component
    ok = _entity_reaching(flags, e)
    live = (
        e.join(ok.select(F.col("node_id").alias("src")), "src")
        .join(ok.select(F.col("node_id").alias("dst")), "dst")
        # entity-sourced edges always drop: their source trivially
        # reaches an entity (itself) at every test
        .where(~F.col("src_is_entity"))
    )
    # live feeds the fwd/bwd loops (via mm) and the classed table g
    live = spill_scratch(live, "g4d_live")

    # 2. SCC-closed classes over the mention-mention subgraph
    mentions = flags.where(~F.col("is_entity")).join(
        ok, "node_id"
    ).select("node_id")
    mm = live.where(~F.col("dst_is_entity")).select("src", "dst")
    # not spilled: cls is a join of two loop outputs and g's write
    # below is its one consumer
    cls = _scc_classes(mm, mentions)

    g = live.join(
        cls.select(F.col("node_id").alias("src"), F.col("scc_class").alias("g_src")),
        "src",
    ).join(
        cls.select(F.col("node_id").alias("dst"), F.col("scc_class").alias("g_dst")),
        "dst",
        "left",  # entity targets carry no class
    )
    g = g.withColumn(
        "virtual_ent",
        F.col("dst_is_entity") | (F.col("g_dst") != F.col("g_src")),
    )
    # g feeds kbest, internal and sub_k
    g = spill_scratch(g, "g4d_classed")

    # 3. per-source max-order external edge k(s); (score, dst) is the
    # per-source restriction of the global (score, src, dst) scan order
    kbest = _best_out_edge(g.where(F.col("virtual_ent"))).select(
        "src", F.col("dst").alias("k_dst"), F.col("score").alias("k_score")
    )
    internal = g.where(~F.col("virtual_ent"))
    int_above = internal.join(kbest, "src", "left").where(
        F.col("k_dst").isNull()
        | (F.col("score") > F.col("k_score"))
        | ((F.col("score") == F.col("k_score")) & (F.col("dst") > F.col("k_dst")))
    )
    sub_srcs = int_above.select("src").distinct()
    # sub_srcs feeds keeps_argmax, sub_k, sub_int and dst_in_sub
    sub_srcs = spill_scratch(sub_srcs, "g4d_subsrcs")

    # 4a. sources with no surviving internal edge: k(s) is kept outright
    keeps_argmax = (
        kbest.join(sub_srcs, "src", "left_anti").select("src", F.col("k_dst").alias("dst"))
    )
    # 4b. sub-problems: k(s) + internals above it (all out-edges when
    # s has no external edge), grouped by the source's SCC class
    sub_k = g.join(sub_srcs, "src").join(
        kbest.withColumnRenamed("k_dst", "dst").withColumnRenamed(
            "k_score", "score"
        ),
        ["src", "dst", "score"],
    ).select("g_src", "src", "dst", "score", "virtual_ent")
    sub_int = int_above.join(sub_srcs, "src").select(
        "g_src", "src", "dst", "score", "virtual_ent"
    )
    sub_edges = sub_k.unionByName(sub_int)
    # a same-class target m that is NOT itself a sub-source resolves via
    # the 4a argmax — its k(m) is ALWAYS kept in the global scan (at
    # k(m)'s turn every below-k(m) edge has already dropped by rule 2
    # and m has no internal-above edges, so m reaches nothing without
    # it). m is therefore entity-reaching at every global time, but in
    # the sub-problem it has no out-edges: leaving it non-virtual makes
    # it a dead end and the sub-scan KEEPS edges the global greedy
    # drops. Mark such targets virtual entities — exact both ways.
    dst_in_sub = sub_srcs.select(
        F.col("src").alias("dst"), F.lit(True).alias("dst_in_sub")
    )
    sub_edges = sub_edges.join(dst_in_sub, "dst", "left").select(
        "g_src",
        "src",
        "dst",
        "score",
        (F.col("virtual_ent") | F.col("dst_in_sub").isNull()).alias(
            "virtual_ent"
        ),
    )
    # sub_edges feeds the size guard's collect and the greedy
    sub_edges = spill_scratch(sub_edges, "g4d_sub")

    sizes = sub_edges.groupBy("g_src").agg(F.count(F.lit(1)).alias("n"))
    worst = sizes.orderBy(F.desc("n")).limit(3).collect()
    if worst and worst[0]["n"] > max_component_edges:
        desc = ", ".join(f"class {r['g_src']}: {r['n']} edges" for r in worst)
        raise ValueError(
            "distributed_partition: SCC class sub-problem(s) exceed "
            f"max_component_edges={max_component_edges} ({desc}). These "
            "are genuine strongly-connected cores (or label-class "
            "coarsenings of them), which one task must hold. Fracture "
            "them with a higher score threshold or a lower mention_knn, "
            "or resolve oversize components with oversize='salvage'."
        )
    kept_sub = sub_edges.groupBy("g_src").applyInPandas(
        _greedy_kept_edges, schema=_KEPT_SCHEMA
    )
    # not spilled: the doubling loop's first checkpoint is its one consumer
    kept = keeps_argmax.unionByName(kept_sub)
    return _assign_nodes(flags, _assign_by_doubling(kept, flags))
