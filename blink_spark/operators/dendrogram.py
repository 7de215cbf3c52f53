"""G8 — HAC dendrogram + dendrogram purity (analysis-only).

The reference builds a higra binary partition tree over each k-NN
joint graph (single / complete / average linkage, distances =
negated similarities) and scores dendrogram purity against gold leaf
labels (/root/reference/blink/biencoder/dendrogram_purity.py:28-35,
295-311). Purity (Heller & Ghahramani 2005): the average, over all
same-class leaf pairs, of |class ∩ C| / |C| where C is the pair's
least-common-ancestor cluster.

This is evaluation analytics over a bounded eval set (SURVEY §2.9
adjudicates G8 driver-side), so the HAC runs in pure Python on the
COLLECTED sampled edge list — the Spark side only samples and joins
labels. Graph-based linkage semantics (in the spirit of higra's
binary_partition_tree_*_linkage): the distance between two clusters
is min / max / mean over the EXISTING inter-cluster edges; cluster
pairs with no edge cannot merge until the final stitch, where
remaining components are merged at infinite distance in deterministic
order (equivalent to connecting components before calling higra,
which requires a connected graph).

Purity is computed EXACTLY during the merges: pairs whose LCA is the
new node are precisely the cross pairs of the two merged clusters, so
each merge contributes sum_c nA(c)·nB(c) · (nA(c)+nB(c))/|A∪B|.
"""

from __future__ import annotations

import heapq
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blink_spark.io.scratch import spill_scratch

_LINKAGES = ("single", "complete", "average")


def _pair_dist(entry: tuple[float, int, float, float], linkage: str) -> float:
    s, n, mn, mx = entry
    if linkage == "single":
        return mn
    if linkage == "complete":
        return mx
    return s / n


def dendrogram_purity_py(
    edges: list[tuple[int, int, float]],
    labels: dict[int, object],
    linkage: str = "average",
) -> float:
    """edges: (leaf_a, leaf_b, distance); labels: leaf -> class.
    Returns exact dendrogram purity in [0, 1] (1.0 when no same-class
    pair exists). Deterministic: ties broken on (distance, min leaf of
    the pair of clusters, then the other min leaf)."""
    if linkage not in _LINKAGES:
        raise ValueError(f"linkage must be one of {_LINKAGES}")
    leaves = sorted(labels)
    # cluster state, keyed by a stable representative (min leaf id)
    comp: dict[int, Counter] = {v: Counter([labels[v]]) for v in leaves}
    size: dict[int, int] = {v: 1 for v in leaves}
    find: dict[int, int] = {v: v for v in leaves}
    # inter-cluster edge aggregates: rep_a < rep_b -> (sum, n, min, max)
    agg: dict[tuple[int, int], tuple[float, int, float, float]] = {}
    for a, b, d in edges:
        ra, rb = find.get(a), find.get(b)
        if ra is None or rb is None or ra == rb:
            continue
        key = (min(ra, rb), max(ra, rb))
        cur = agg.get(key)
        d = float(d)
        agg[key] = (
            (d, 1, d, d)
            if cur is None
            else (cur[0] + d, cur[1] + 1, min(cur[2], d), max(cur[3], d))
        )
    heap = [
        (_pair_dist(e, linkage), k[0], k[1]) for k, e in agg.items()
    ]
    heapq.heapify(heap)
    num = 0.0  # purity-weighted same-class pair count
    den = 0

    def merge(ra: int, rb: int) -> int:
        nonlocal num, den
        ca, cb = comp[ra], comp[rb]
        tot = size[ra] + size[rb]
        for cls, na in ca.items():
            nb = cb.get(cls)
            if nb:
                pairs = na * nb
                num += pairs * (na + nb) / tot
                den += pairs
        keep = min(ra, rb)
        drop = max(ra, rb)
        comp[keep] = ca + cb
        size[keep] = tot
        del comp[drop], size[drop]
        # fold drop's edge aggregates into keep's
        for key in [k for k in agg if drop in k]:
            other = key[0] if key[1] == drop else key[1]
            e = agg.pop(key)
            if other == keep:
                continue
            nk = (min(keep, other), max(keep, other))
            cur = agg.get(nk)
            agg[nk] = (
                e
                if cur is None
                else (cur[0] + e[0], cur[1] + e[1], min(cur[2], e[2]), max(cur[3], e[3]))
            )
            heapq.heappush(heap, (_pair_dist(agg[nk], linkage), nk[0], nk[1]))
        return keep

    while heap:
        d, ra, rb = heapq.heappop(heap)
        if (
            ra not in comp
            or rb not in comp
            or (ra, rb) not in agg
            or _pair_dist(agg[(ra, rb)], linkage) != d
        ):
            continue  # stale entry
        del agg[(ra, rb)]
        merge(ra, rb)
    # stitch remaining components at infinite distance, smallest reps first
    reps = sorted(comp)
    while len(reps) > 1:
        keep = merge(reps[0], reps[1])
        reps = [keep] + reps[2:]
    return (num / den) if den else 1.0


def dendrogram_purity(
    edges: DataFrame,
    labels: DataFrame,
    linkage: str = "average",
    id_cols: tuple[str, str] = ("src", "dst"),
    weight_col: str = "score",
    label_cols: tuple[str, str] = ("file_id", "entity_id"),
    max_leaves: int = 20_000,
    max_edges: int = 5_000_000,
) -> dict:
    """Driver-side G8 over a sampled eval set: collect the similarity
    graph (distances = negated similarities, dendrogram_purity.py:303),
    run the graph-HAC, score purity against gold labels. Caps the
    collect at max_leaves leaves (deterministic smallest-hash sample of
    label rows, same discipline as ivf_cells_df) — this is ANALYSIS, not a
    pipeline stage; use nmi_ari / pairwise_metrics for scalable gates.

    The edge collect is bounded IN SPARK: edges are semi-joined against
    the sampled leaf set on both endpoints before `.collect()` (a
    production n·k kNN graph must never reach the driver whole), and a
    loud error fires if the surviving edge count still exceeds
    max_edges — silently dropping edges would change the dendrogram."""
    lab = labels.select(
        F.col(label_cols[0]).alias("leaf"), F.col(label_cols[1]).alias("cls")
    )
    n_total = lab.count()
    sampled = n_total > max_leaves
    if sampled:
        lab = (
            lab.withColumn("h", F.xxhash64("leaf", F.lit(17)))
            .orderBy("h")
            .limit(max_leaves)
            .drop("h")
        )
    # multi-consumer (collect + two semi-joins): spill once so the
    # labels plan executes exactly once — sampled or not, re-executing
    # an expensive (or nondeterministic) upstream per consumer would
    # triple the job and could diverge the semi-join keep set from the
    # collected lab_map
    lab = spill_scratch(lab, "dendrogram_leaves")
    lab_rows = lab.collect()
    keep_df = lab.select("leaf")
    e = edges.select(
        F.col(id_cols[0]).alias("a"),
        F.col(id_cols[1]).alias("b"),
        (-F.col(weight_col)).cast("double").alias("d"),
    )
    e = (
        e.join(keep_df.withColumnRenamed("leaf", "a"), "a", "left_semi")
        .join(keep_df.withColumnRenamed("leaf", "b"), "b", "left_semi")
    )
    e = spill_scratch(e, "dendrogram_edges")
    n_edges = e.count()
    if n_edges > max_edges:
        raise ValueError(
            f"dendrogram_purity: {n_edges} edges among the {len(lab_rows)} "
            f"sampled leaves exceeds max_edges={max_edges}; lower max_leaves "
            "(or raise max_edges) — truncating edges would silently change "
            "the dendrogram"
        )
    e_rows = e.collect()
    el = [(r["a"], r["b"], r["d"]) for r in e_rows]
    lab_map = {r["leaf"]: r["cls"] for r in lab_rows}
    purity = dendrogram_purity_py(el, lab_map, linkage=linkage)
    # Every same-class pair receives an LCA at exactly one merge (the
    # infinite-distance stitch connects all components), so the purity
    # denominator is simply sum_c C(n_c, 2) over the leaf labels.
    cls_counts = Counter(lab_map.values())
    n_pairs = sum(n * (n - 1) // 2 for n in cls_counts.values())
    return {
        "linkage": linkage,
        "purity": purity,
        "n_pairs": n_pairs,
        "n_leaves": len(lab_rows),
        "sampled": sampled,
    }
