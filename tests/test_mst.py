"""G3 max-spanning-forest: Kruskal vs a Prim oracle, distributed
Borůvka vs Kruskal (identical edge sets), and the undirected G4 mode."""

import random

import pytest
from pyspark.sql import functions as F

from blink_spark.operators.mst import (
    max_spanning_forest,
    max_spanning_forest_per_component,
    max_spanning_forest_py,
)


def prim_max_forest_weight(edges):
    """Oracle: total weight of the maximum spanning forest (Prim per
    component, adjacency scan — O(n²), fine for tests)."""
    adj = {}
    for s, d, w in edges:
        if s == d:
            continue
        adj.setdefault(s, {}), adj.setdefault(d, {})
        if d not in adj[s] or w > adj[s][d]:
            adj[s][d] = w
            adj[d][s] = w
    total, seen = 0.0, set()
    for start in sorted(adj):
        if start in seen:
            continue
        seen.add(start)
        frontier = dict(adj[start])
        while frontier:
            nxt = max(frontier.items(), key=lambda kv: (kv[1], -kv[0]))
            node, w = nxt
            del frontier[node]
            if node in seen:
                continue
            seen.add(node)
            total += w
            for nb, nw in adj[node].items():
                if nb not in seen and (nb not in frontier or nw > frontier[nb]):
                    frontier[nb] = nw
    return total


def random_graph(rng, n, m, distinct=True):
    edges = []
    weights = rng.sample(range(1, 10 * m + 1), m) if distinct else [
        rng.randint(1, 5) for _ in range(m)
    ]
    for i in range(m):
        s, d = rng.randint(0, n - 1), rng.randint(0, n - 1)
        edges.append((s, d, weights[i] / 10.0))
    return [(s, d, w) for s, d, w in edges if s != d]


@pytest.mark.parametrize("seed", [1, 2, 3, 4, 5])
def test_kruskal_matches_prim_weight(seed):
    rng = random.Random(seed)
    edges = random_graph(rng, n=12, m=25)
    kept = max_spanning_forest_py(edges)
    assert sum(w for _, _, w in kept) == pytest.approx(
        prim_max_forest_weight(edges), abs=1e-9
    )
    # forest: no cycles -> kept <= nodes - n_components
    nodes = {x for s, d, _ in edges for x in (s, d)}
    assert len(kept) < len(nodes)


def test_kruskal_undirected_dedup():
    # (u,v) and (v,u) with different scores are ONE edge at max score
    kept = max_spanning_forest_py([(1, 2, 0.3), (2, 1, 0.9)])
    assert kept == [(1, 2, 0.9)]


@pytest.mark.parametrize("seed,distinct", [(11, True), (12, True), (13, False), (14, False)])
def test_boruvka_equals_kruskal(spark, seed, distinct):
    """distinct=False floods the graph with EQUAL weights — the case
    where the documented tie order (score DESC, u ASC, v ASC) is the
    only thing keeping the two implementations' edge sets identical."""
    rng = random.Random(seed)
    edges = random_graph(rng, n=30, m=60, distinct=distinct)
    df = spark.createDataFrame(edges, "src long, dst long, score double")
    got = {
        (r["src"], r["dst"], r["score"])
        for r in max_spanning_forest(df).collect()
    }
    want = set(max_spanning_forest_py(edges))
    assert got == want  # identical edge SET, not just equal weight


# the loop runs with AQE off (which would split each checkpoint write into
# one job per shuffle stage) and each nested CC writes only its rounds:
# 34 jobs on this graph at local[8]
BORUVKA_JOB_BUDGET = 35


def test_boruvka_job_budget(spark):
    """Convergence is read from the forest's row count, observed on its
    checkpoint write: no per-round emptiness probe and no post-loop
    probe. The forest itself stays Kruskal's."""
    rng = random.Random(42)
    edges = [
        (rng.randrange(300), rng.randrange(300), rng.randint(1, 50) / 10.0)
        for _ in range(900)
    ]
    df = spark.createDataFrame(edges, "src long, dst long, score double").cache()
    df.count()
    sc = spark.sparkContext
    sc.setJobGroup("boruvka_job_budget", "boruvka_job_budget")
    try:
        got = {tuple(r) for r in max_spanning_forest(df).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        df.unpersist()
    assert got == set(max_spanning_forest_py(edges))
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("boruvka_job_budget"))
    assert n_jobs <= BORUVKA_JOB_BUDGET, n_jobs


def test_per_component_equals_boruvka(spark):
    rng = random.Random(21)
    # two disjoint blobs -> two components
    edges = random_graph(rng, n=10, m=20) + [
        (s + 100, d + 100, w) for s, d, w in random_graph(rng, n=8, m=14)
    ]
    df = spark.createDataFrame(edges, "src long, dst long, score double")
    a = {(r["src"], r["dst"], r["score"]) for r in max_spanning_forest(df).collect()}
    b = {
        (r["src"], r["dst"], r["score"])
        for r in max_spanning_forest_per_component(df).collect()
    }
    assert a == b


def test_undirected_partition_one_entity_per_cluster(spark):
    from blink_spark.operators.linking import entity_constrained_partition

    # two entities (100, 200), mentions chained between them with a
    # weak bridge — undirected mode must still give each mention
    # exactly one entity and split on the weakest link
    rows = [
        (1, 100, 0.95, False, True),
        (2, 1, 0.9, False, False),
        (2, 3, 0.2, False, False),  # weak bridge
        (3, 200, 0.93, False, True),
        (4, 3, 0.88, False, False),
    ]
    g = spark.createDataFrame(
        rows, "src long, dst long, score double, src_is_entity boolean, dst_is_entity boolean"
    )
    part = entity_constrained_partition(g, undirected=True)
    got = {r["node_id"]: r["entity_id"] for r in part.where(~F.col("is_entity")).collect()}
    assert got == {1: 100, 2: 100, 3: 200, 4: 200}
    # every cluster has exactly one entity
    ents = part.where(F.col("is_entity")).groupBy("entity_id").count().collect()
    assert all(r["count"] == 1 for r in ents)


def test_group_col_fast_path_equals_cc_path(spark):
    rng = random.Random(31)
    edges = []
    for g, base in (("a", 0), ("b", 100)):
        edges += [
            (g, s + base, d + base, w)
            for s, d, w in random_graph(rng, n=12, m=22)
        ]
    df = spark.createDataFrame(edges, "grp string, src long, dst long, score double")
    fast = {
        (r["src"], r["dst"], r["score"])
        for r in max_spanning_forest_per_component(df, group_col="grp").collect()
    }
    slow = {
        (r["src"], r["dst"], r["score"])
        for r in max_spanning_forest_per_component(
            df.drop("grp")
        ).collect()
    }
    assert fast == slow


def test_boruvka_truncation_raises(spark):
    """Exhausting max_rounds with cross-component edges left must raise
    (a silently partial forest is indistinguishable from convergence)."""
    import pytest as _pytest

    edges = spark.createDataFrame(
        [(i, i + 1, 0.5 + (i % 3) * 0.1) for i in range(40)],
        "src long, dst long, score double",
    )
    from blink_spark.operators.mst import max_spanning_forest

    with _pytest.raises(RuntimeError, match="non-spanning"):
        max_spanning_forest(edges, max_rounds=1)
