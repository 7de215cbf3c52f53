"""Connected components vs a union-find oracle — same ground truth the
reference uses (it calls scipy.sparse.csgraph.connected_components,
/root/reference/blink/biencoder/eval_cluster_linking.py:133-146; scipy
is absent in this sandbox so the oracle is an equivalent union-find)."""

import random

import pytest

from blink_spark.operators.connected_components import CCStats, connected_components


def _oracle_labels(edges, n_nodes):
    """Union-find; returns {node: min-id-in-component} for touched nodes."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    touched = set()
    for a, b in edges:
        touched.add(a)
        touched.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {node: find(node) for node in touched}


# test ids carry the algorithm's name, "alternating" (large/small-star,
# the module's one algorithm): the round counts pinned below are its own
ALG = "alternating"
SCIPY_CASES = [(1, 50, 40), (2, 200, 150), (3, 100, 300)]


@pytest.mark.parametrize(
    "seed,n,m", SCIPY_CASES, ids=[f"{s}-{n}-{m}-{ALG}" for s, n, m in SCIPY_CASES]
)
def test_cc_matches_scipy(spark, seed, n, m):
    rng = random.Random(seed)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    exp = _oracle_labels([e for e in edges if e[0] != e[1]], n)
    assert got == exp


@pytest.mark.parametrize("n", [60], ids=[ALG])
def test_cc_long_chain(spark, n):
    edges = [(i, i + 1) for i in range(n)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    st = CCStats()
    got = connected_components(df, max_iterations=100, stats=st).collect()
    assert len(got) == n + 1 and all(r["component"] == 0 for r in got)
    assert st.iterations <= 12  # O(log n) rounds, not O(n)


def test_cc_stable_under_repartition(spark):
    rng = random.Random(9)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(250)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    a = sorted(
        (r["id"], r["component"])
        for r in connected_components(df.repartition(2)).collect()
    )
    b = sorted(
        (r["id"], r["component"])
        for r in connected_components(df.repartition(17)).collect()
    )
    assert a == b


def _awkward_graph(kind):
    """Legal but awkward edge lists: a loop must not depend on edges
    being distinct, oriented, non-self or short-diameter."""
    rng = random.Random(11)
    if kind == "duplicates":
        base = [(rng.randrange(80), rng.randrange(80)) for _ in range(60)]
        return base + base + [(b, a) for a, b in base]
    if kind == "self_loops":
        return [(i, i) for i in range(20)]
    if kind == "star500":
        leaves = rng.sample([i for i in range(1000) if i != 777], 500)
        return [(777, x) if i % 2 else (x, 777) for i, x in enumerate(leaves)]
    if kind == "chain2000":
        perm = list(range(2000))
        rng.shuffle(perm)
        return [(perm[i], perm[i + 1]) for i in range(1999)]
    raise ValueError(kind)


AWKWARD_CASES = [
    ("duplicates", 5),
    ("self_loops", 1),
    ("star500", 2),
    ("chain2000", 10),
]


@pytest.mark.parametrize(
    "kind,iterations",
    AWKWARD_CASES,
    ids=[f"{ALG}-{k}-{i}" for k, i in AWKWARD_CASES],
)
def test_cc_awkward_graphs(spark, kind, iterations):
    """Union-find labels, and the round count the algorithm takes."""
    edges = _awkward_graph(kind)
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    st = CCStats()
    got = {
        r["id"]: r["component"]
        for r in connected_components(df, stats=st).collect()
    }
    n = 1 + max(max(e) for e in edges)
    assert got == _oracle_labels([e for e in edges if e[0] != e[1]], n)
    assert st.iterations == iterations


def test_cc_raises_past_max_iterations(spark):
    """An unconverged graph must fail loudly, not come back labelled:
    the shuffled chain needs 10 rounds."""
    df = spark.createDataFrame(_awkward_graph("chain2000"), "id_a long, id_b long")
    with pytest.raises(ValueError, match="max_iterations=3"):
        connected_components(df, max_iterations=3)


def test_cc_alternating_job_budget(spark):
    """One alternating call on a 2-round graph, result consumed: a round
    is one checkpoint write with its convergence signature observed on
    it, so there are no per-round probe jobs, no write of the oriented
    input and no final checkpoint."""
    sc = spark.sparkContext
    edges = [(b * 10 + i, b * 10 + i + 1) for b in range(50) for i in range(2)]
    df = spark.createDataFrame(edges, "id_a long, id_b long").cache()
    df.count()
    st = CCStats()
    sc.setJobGroup("cc_job_budget", "cc_job_budget")
    try:
        rows = connected_components(df, stats=st).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        df.unpersist()
    assert st.iterations == 2 and len(rows) == 150
    assert len(sc.statusTracker().getJobIdsForGroup("cc_job_budget")) <= 4
