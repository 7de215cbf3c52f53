"""G4 de-starring: entity-star-only components must resolve via pure
window argmax (no applyInPandas task ever holds a component — the
hot-entity skew fix), bit-identical to the per-component greedy; mixed
oversize components resolve exactly by default (directed mode), and
otherwise fail loudly or degrade loudly, never OOM.

Reference semantics under test: special_partition.pyx:288-356 (greedy)
and :391-414 (undirected MST prefilter)."""

import pytest
from pyspark.sql import functions as F

from blink_spark.operators.linking import (
    assign_entities_py,
    entity_constrained_partition,
    entity_reachable_nodes,
    special_partition_py,
)

EDGE_SCHEMA = (
    "src long, dst long, score double, src_is_entity boolean, dst_is_entity boolean"
)


def _edges_df(spark, rows):
    return spark.createDataFrame(
        [(s, d, float(w), bool(se), bool(de)) for s, d, w, se, de in rows],
        EDGE_SCHEMA,
    )


def _greedy_oracle(rows):
    """Run the pure-Python greedy over the WHOLE edge list (components
    don't interact, so one global run equals per-component runs)."""
    entities = {d for _, d, _, _, de in rows if de} | {
        s for s, _, _, se, _ in rows if se
    }
    edges = [(s, d, w) for s, d, w, _, _ in rows]
    ok = entity_reachable_nodes([(s, d) for s, d, _ in edges], entities)
    live = [(s, d, w) for s, d, w in edges if s in ok and d in ok]
    assign = assign_entities_py(special_partition_py(live, entities), entities)
    nodes = {}
    for s, d, _, se, de in rows:
        nodes[s] = nodes.get(s, False) or se
        nodes[d] = nodes.get(d, False) or de
    return {
        n: (is_ent, assign.get(n)) for n, is_ent in nodes.items()
    }


def _collect_partition(df):
    return {
        r["node_id"]: (r["is_entity"], r["entity_id"]) for r in df.collect()
    }


# --------------------------------------------------------- star fast path

def _star_rows(n_mentions=300, n_entities=7):
    """Multi-entity star soup with score ties and duplicate (src, dst)
    rows — every greedy tie-break shape, zero mention-mention edges."""
    rows = []
    for m in range(1000, 1000 + n_mentions):
        e1 = m % n_entities
        e2 = (m * 7 + 3) % n_entities
        rows.append((m, e1, round(0.1 + (m % 13) / 20.0, 3), False, True))
        if e2 != e1:
            # exact tie with the first edge for every 5th mention
            w = round(0.1 + (m % 13) / 20.0, 3) if m % 5 == 0 else 0.05
            rows.append((m, e2, w, False, True))
        if m % 9 == 0:  # duplicate (src, dst) at a different weight
            rows.append((m, e1, 0.01, False, True))
    return rows


def test_star_matches_greedy_directed(spark):
    rows = _star_rows()
    got = _collect_partition(entity_constrained_partition(_edges_df(spark, rows)))
    assert got == _greedy_oracle(rows)


def test_star_plan_has_no_pandas_group(spark):
    rows = _star_rows(n_mentions=60, n_entities=3)
    part = entity_constrained_partition(_edges_df(spark, rows))
    plan = part._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan, plan


def test_star_undirected_matches_kruskal_greedy(spark):
    """Undirected star routing must equal MST-prefilter + greedy,
    including the tied-score 4-cycle case where the forest's kept-edge
    set differs from a raw argmax."""
    from blink_spark.operators.mst import max_spanning_forest_py

    rows = _star_rows(n_mentions=120, n_entities=4)
    # explicit tied 4-cycle: mentions 9001, 9002 x entities 5001, 5002
    rows += [
        (9001, 5001, 0.7, False, True),
        (9001, 5002, 0.7, False, True),
        (9002, 5001, 0.7, False, True),
        (9002, 5002, 0.7, False, True),
    ]
    got = _collect_partition(
        entity_constrained_partition(_edges_df(spark, rows), undirected=True)
    )
    # oracle: per weak component, Kruskal forest -> symmetrize -> greedy
    entities = {d for _, d, _, _, de in rows if de}
    forest = max_spanning_forest_py([(s, d, w) for s, d, w, _, _ in rows])
    sym = [(s, d, w) for s, d, w in forest] + [(d, s, w) for s, d, w in forest]
    ok = entity_reachable_nodes([(s, d) for s, d, _ in sym], entities)
    live = [(s, d, w) for s, d, w in sym if s in ok and d in ok]
    assign = assign_entities_py(special_partition_py(live, entities), entities)
    for n, (is_ent, ent) in got.items():
        if is_ent:
            assert ent == n
        else:
            assert ent == assign.get(n), f"node {n}: {ent} != {assign.get(n)}"


def test_large_star_completes_distributed(spark):
    """The VERDICT scale shape: one popular entity, 20k mentions, no
    mention-mention edges — previously one applyInPandas task."""
    rows = [(10_000 + i, 1, 0.5 + (i % 10) / 100.0, False, True) for i in range(20_000)]
    part = entity_constrained_partition(_edges_df(spark, rows))
    agg = part.where(~F.col("is_entity")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("entity_id") == 1).cast("long")).alias("ok"),
    ).collect()[0]
    assert agg["n"] == 20_000 and agg["ok"] == 20_000


# --------------------------------------------------------- mixed routing

def _mixed_rows():
    """One star component (mentions 100x) + one mixed chain component
    (mentions 200x -> entity 50)."""
    rows = [(101, 1, 0.9, False, True), (102, 1, 0.8, False, True)]
    rows += [
        (201, 202, 0.6, False, False),
        (202, 203, 0.7, False, False),
        (203, 50, 0.9, False, True),
    ]
    return rows


def test_mixed_components_still_exact(spark):
    rows = _mixed_rows()
    got = _collect_partition(entity_constrained_partition(_edges_df(spark, rows)))
    assert got == _greedy_oracle(rows)
    # the chain resolves through the greedy, not the argmax
    assert got[201] == (False, 50) and got[202] == (False, 50)


def test_oversize_mixed_component_errors(spark):
    rows = _mixed_rows()
    with pytest.raises(ValueError, match="max_component_edges"):
        entity_constrained_partition(
            _edges_df(spark, rows), max_component_edges=2, oversize="error"
        ).collect()


def test_g4_partition_job_budget(spark):
    """The router is one routed-edge write with its route presence
    observed on it: no stats spill, no route-count collect, no re-join
    of stats onto edges. A star plus a mixed component, result
    consumed, stays exact and within the job budget."""
    rows = _mixed_rows() + _star_rows(n_mentions=60, n_entities=3)
    df = _edges_df(spark, rows).cache()
    df.count()
    sc = spark.sparkContext
    sc.setJobGroup("g4_job_budget", "g4_job_budget")
    try:
        got = _collect_partition(entity_constrained_partition(df))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        df.unpersist()
    assert got == _greedy_oracle(rows)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("g4_job_budget"))
    assert n_jobs <= 13, n_jobs


# ------------------------------------------------ distributed exact G4

def _random_mixed_rows(seed, n_mentions=40, n_entities=4):
    """Seeded directed soup exercising every greedy corner: cycles
    (real SCCs), coarse score grid (ties), duplicate (src, dst) rows,
    entity-sourced edges, and an entity-free island (NULL mentions)."""
    import random

    rng = random.Random(seed)
    ments = list(range(100, 100 + n_mentions))
    ents = list(range(5000, 5000 + n_entities))
    scores = [round(0.1 + 0.1 * i, 1) for i in range(9)]
    rows = []
    for m in ments:
        for _ in range(rng.randint(1, 3)):
            if rng.random() < 0.55:
                rows.append((m, rng.choice([x for x in ments if x != m]),
                             rng.choice(scores), False, False))
            else:
                rows.append((m, rng.choice(ents), rng.choice(scores), False, True))
    # forced 2-cycles and 3-cycles (SCC sub-problems)
    for _ in range(6):
        a, b, c = rng.sample(ments, 3)
        rows += [(a, b, rng.choice(scores), False, False),
                 (b, a, rng.choice(scores), False, False)]
        rows += [(a, c, rng.choice(scores), False, False),
                 (c, a, rng.choice(scores), False, False),
                 (b, c, rng.choice(scores), False, False)]
    # duplicate (src, dst) at different weights
    for s, d, w, se, de in rng.sample(rows, 5):
        rows.append((s, d, rng.choice(scores), se, de))
    # entity-sourced edges (the greedy always drops these)
    rows += [(ents[0], ments[0], 0.5, True, False),
             (ents[1], ents[0], 0.4, True, True)]
    # entity-free island: mentions that reach nothing -> entity_id NULL
    rows += [(9100, 9101, 0.3, False, False), (9101, 9100, 0.6, False, False)]
    return rows


def test_oversize_distributed_matches_greedy(spark):
    """VERDICT r4 #3: a mixed component past max_component_edges must
    resolve EXACTLY (== special_partition_py) via oversize='distributed'
    instead of error/salvage."""
    from blink_spark.operators.partition_distributed import distributed_partition  # noqa: F401

    rows = _random_mixed_rows(seed=7)
    want = _greedy_oracle(rows)
    for kw in ({"oversize": "distributed"}, {}):  # {}: the default is exact
        got = _collect_partition(
            entity_constrained_partition(
                _edges_df(spark, rows), max_component_edges=2, **kw
            )
        )
        assert got == want, kw


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_distributed_partition_random_graphs_exact(spark, seed):
    from blink_spark.operators.partition_distributed import distributed_partition

    rows = _random_mixed_rows(seed=seed)
    got = _collect_partition(distributed_partition(_edges_df(spark, rows)))
    assert got == _greedy_oracle(rows)


def test_distributed_argmax_member_target_is_virtual(spark):
    """Regression: x<->m 2-cycle where m resolves by argmax (its only
    internal edge sits BELOW its external k(m)). m must count as a
    virtual entity inside x's sub-problem — a dead-end m made the
    sub-scan keep x's weak entity edge (x->E2) that the global greedy
    drops, mis-assigning x to E2 instead of following x->m->E1."""
    from blink_spark.operators.partition_distributed import distributed_partition

    x, m, e1, e2 = 101, 102, 5001, 5002
    rows = [
        (x, m, 0.9, False, False),
        (m, x, 0.2, False, False),
        (m, e1, 0.5, False, True),
        (x, e2, 0.1, False, True),
    ]
    got = _collect_partition(distributed_partition(_edges_df(spark, rows)))
    assert got == _greedy_oracle(rows)
    assert got[x] == (False, e1) and got[m] == (False, e1)


def test_distributed_scc_chain_never_one_task(spark):
    """One giant weak component made of small 3-cycles chained one-way
    into an entity: the weak component far exceeds max_component_edges,
    but every SCC-class sub-problem stays tiny — the decomposition must
    resolve it exactly with its per-class guard set BELOW the component
    size (proof no task ever held the whole thing)."""
    from blink_spark.operators.partition_distributed import distributed_partition

    rows = []
    # 12 cycles = 47 edges, ~4x the per-class guard below; the chain's
    # ~38-hop diameter keeps the O(diameter) propagation rounds cheap
    # (the decomposition proof needs component >> guard, not a long wall)
    n_cycles = 12
    for i in range(n_cycles):
        a, b, c = 1000 + 3 * i, 1001 + 3 * i, 1002 + 3 * i
        rows += [
            (a, b, 0.8, False, False),
            (b, c, 0.7, False, False),
            (c, a, 0.6, False, False),
        ]
        if i + 1 < n_cycles:  # one-way bridge to the next cycle
            rows.append((c, 1000 + 3 * (i + 1), 0.5, False, False))
    rows.append((1000 + 3 * n_cycles - 1, 7000, 0.9, False, True))  # exit
    total_edges = len(rows)
    got = _collect_partition(
        distributed_partition(_edges_df(spark, rows), max_component_edges=12)
    )
    assert total_edges > 12  # the guard would trip if grain == component
    assert got == _greedy_oracle(rows)
    # everything chains to the single entity
    assert all(e == 7000 for is_e, e in got.values() if not is_e)


def test_distributed_class_guard_raises_on_giant_scc(spark):
    """A genuine strongly-connected core bigger than the cap must raise
    loudly, not degrade silently."""
    from blink_spark.operators.partition_distributed import distributed_partition

    n = 16  # one big directed cycle = one SCC with n edges
    rows = [(2000 + i, 2000 + (i + 1) % n, 0.5, False, False) for i in range(n)]
    rows.append((2000, 8000, 0.9, False, True))
    with pytest.raises(ValueError, match="max_component_edges"):
        distributed_partition(
            _edges_df(spark, rows), max_component_edges=5
        ).collect()


def test_distributed_undirected_refused(spark):
    with pytest.raises(ValueError, match="directed mode only"):
        entity_constrained_partition(
            _edges_df(spark, _mixed_rows()),
            undirected=True,
            max_component_edges=2,
            oversize="distributed",
        )


def test_oversize_salvage_degrades_loudly(spark):
    rows = _mixed_rows()
    with pytest.warns(UserWarning, match="best-entity argmax"):
        part = entity_constrained_partition(
            _edges_df(spark, rows), max_component_edges=2, oversize="salvage"
        )
        got = _collect_partition(part)
    # star component untouched; chain mentions degrade: 203 takes its
    # direct entity edge, 201/202 have none -> NULL
    assert got[101] == (False, 1) and got[102] == (False, 1)
    assert got[203] == (False, 50)
    assert got[201] == (False, None) and got[202] == (False, None)
    assert got[50] == (True, 50)
