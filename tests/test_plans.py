"""Physical-plan regression gates for the 100-TB scale shapes.

The two round-1 scale-killers were plan-shape defaults (corpus-side
broadcast in self-search ANN; all-pairs crossJoin in embedding dedup).
These tests pin the FIXED shapes by asserting on the physical plan
string, so a future refactor can't silently reintroduce them.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from blink_spark.operators import ann, dedup


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(7)
    cents = rng.standard_normal((10, 16)) * 3
    rows = [
        (i, (cents[i % 10] + rng.standard_normal(16) * 0.2).tolist())
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()
    df.count()
    return df


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_self_search_never_broadcasts_corpus(emb):
    """queries=None => the 'query side' IS the corpus; broadcasting it
    OOMs every executor at scale. The auto policy must pick a
    shuffle-replicated cartesian instead of any broadcast."""
    plan = _plan(ann.cosine_topk(emb, k=3))
    assert "BroadcastExchange" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" in plan, plan


def test_bounded_queries_still_broadcast(emb):
    """An explicit bounded query table keeps the broadcast baseline
    shape (corpus streams once, never shuffles)."""
    q = emb.where(F.col("vec_id") % 50 == 0)
    plan = _plan(ann.cosine_topk(emb, q, k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_embedding_dedup_default_is_blocked_join(emb):
    """Default method='lsh' must be a bucket equi-join — no cartesian
    product, no nested-loop broadcast of a full side."""
    plan = _plan(dedup.embedding_near_dup_pairs(emb, threshold=0.9))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_embedding_dedup_lsh_recall_floor(emb):
    """Near-dup regime (threshold 0.9 on clustered vectors): the LSH
    default must recover >= 90% of the exact pairs."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs(
            emb, threshold=0.9, method="exact"
        ).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs(emb, threshold=0.9).collect()
    }
    assert exact, "fixture produced no exact near-dup pairs"
    assert got <= exact  # verify step means no false positives
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"recall {recall:.3f} ({len(got)}/{len(exact)})"


def test_lsh_topk_infers_dim_without_driver_job(emb):
    """dim=None must not trigger a .first() job at plan-construction
    time; the UDF reads the dimension from each batch."""
    out = ann.lsh_topk(emb, k=3, n_planes=6, n_tables=4)  # no dim passed
    assert out.count() > 0


def test_nn_descent_plan_has_no_cartesian(emb):
    """NN-descent rounds are equi-joins on node ids — any cartesian or
    full-side nested-loop broadcast means the candidate generation
    regressed to all-pairs."""
    out = ann.nn_descent_topk(emb, k=3, iterations=1)
    plan = _plan(out)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_mst_boruvka_plan_has_no_cartesian(spark):
    from blink_spark.operators.mst import max_spanning_forest

    edges = spark.createDataFrame(
        [(i, i + 1, 0.5 + (i % 3) * 0.1) for i in range(40)],
        "src long, dst long, score double",
    )
    # run to convergence (max_rounds=1 on a 41-node chain now raises
    # instead of silently returning a partial forest); the per-round
    # joins execute eagerly through the durable checkpointer, so a
    # cartesian would have materialized here
    plan = _plan(max_spanning_forest(edges))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_2means_split_is_single_scan_windows(spark):
    """The distributed exact 2-means is one histogram aggregate plus
    windows — no join of any kind should appear."""
    from blink_spark.operators.thresholds import exact_2means_split

    df = spark.createDataFrame(
        [(float(i % 17) / 17,) for i in range(200)], "score double"
    )
    plan = _plan(exact_2means_split(df, "score"))
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_substring_dedup_plan_partial_agg_no_broadcast(spark):
    """Exact-substring dedup: the seg-keyed distinct count must run as
    a two-phase aggregate (map-side partial combine absorbs hot
    boilerplate segments before the exchange), and the coverage join
    back must be a shuffle equi-join — the duplicated-segment set
    grows with the corpus, so no broadcast of it."""
    docs = spark.createDataFrame(
        [(i, f"w{i % 7} a b c d e f g h w{i % 5}") for i in range(200)],
        "doc_id long, text string",
    )
    p1 = dedup.duplicate_segments(docs, k=3)._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in p1, p1          # map-side partial agg present
    assert "CartesianProduct" not in p1, p1
    p2 = dedup.segment_dup_coverage(docs, k=3)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p2, p2
    assert "BroadcastNestedLoopJoin" not in p2, p2


def test_pq_plain_scan_is_equi_join(emb):
    """Plain PQ-ADC: codebook joins are broadcast-hash on subspace,
    the ADC scan is a shuffle equi-join on (subspace, code) — no
    cartesian product, no nested-loop broadcast anywhere (the corpus
    codes stream; only the m*ksub codebook is broadcast)."""
    plan = _plan(ann.pq_topk(emb, k=3, m=4, ksub=8, dim=16, overfetch=4))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastExchange" in plan, plan  # the codebook, m*ksub rows


def test_sorted_neighborhood_global_never_single_partition(spark):
    """The by=None path must use the range-partition + offset global
    rank — never a one-task window over the whole corpus."""
    from blink_spark.operators.pairs import sorted_neighborhood_pairs

    df = spark.createDataFrame(
        [(i, (i * 7) % 23) for i in range(500)], "id long, key long"
    )
    plan = _plan(sorted_neighborhood_pairs(df, "key", "id", 3))
    # the global rank is computed ONCE (range sort + order-preserving
    # mapInPandas) into a scratch table every downstream join re-reads
    assert "sn_rank" in plan, plan
    # downstream of the spill nothing corpus-sized re-shuffles: the
    # rn=rn+d joins broadcast one side, and every hash exchange left in
    # the plan keys on pid — the one-row-per-partition counts subtree
    # (its SinglePartition offsets window is equally bounded)
    n_hash = plan.count("Exchange hashpartitioning")
    assert n_hash == plan.count("Exchange hashpartitioning(pid"), plan


def test_hash_split_is_exchange_free(spark):
    """Split assignment is a pure map of the row ID — any exchange in
    this plan means someone broke the 100-TB shape."""
    from blink_spark.functions.sampling import hash_split

    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    plan = _plan(hash_split(df, {"a": 0.5, "b": 0.5}))
    assert "Exchange" not in plan, plan
