"""End-to-end pipeline gates from BASELINE.json:
pairwise F1 >= 0.99, sha256 invariant, one-cluster-per-row,
resume-from-checkpoint without recompute."""

import pytest
from pyspark.sql import functions as F

from blink_spark import eval as ev
from blink_spark.functions import text
from blink_spark.io.tables import StageStore
from blink_spark.pipeline import ERConfig, ERPipeline


@pytest.fixture(scope="module")
def result(spark, corpus):
    pipe = ERPipeline(ERConfig(pair_budget=20_000))
    res = pipe.run(corpus, store=None)
    res.tables["clusters"] = res.tables["clusters"].cache()
    res.tables["clusters"].count()
    return res


def test_f1_gate_full_corpus(result, gold):
    m = ev.pairwise_metrics(result.tables["clusters"], gold)
    assert m["f1"] >= 0.99, m


def test_f1_gate_labeled_same_block_pairs(result, gold):
    m = ev.labeled_pair_metrics(result.tables["s2_pairs"], result.tables["clusters"], gold)
    assert m["f1"] >= 0.99, m


def test_sha256_invariant_preserved(result, corpus):
    """Per-row content sha256 equality input vs s0 output (input_hint)."""
    inp = corpus.select(
        text.stable_file_id("repo", "path", "commit").alias("file_id"),
        F.sha2("content", 256).alias("sha_in"),
    )
    out = result.tables["s0_normalized"].select("file_id", F.col("sha256").alias("sha_out"))
    n_in = inp.count()
    joined = inp.join(out, "file_id")
    assert joined.count() == n_in
    assert joined.where(F.col("sha_in") != F.col("sha_out")).count() == 0


def test_every_row_clustered_exactly_once(result, corpus):
    """Reference invariant: every mention evaluated exactly once
    (/root/reference/blink/biencoder/eval_cluster_linking.py:233-235)."""
    clusters = result.tables["clusters"]
    assert clusters.count() == corpus.count()
    assert clusters.groupBy("file_id").count().where("count > 1").count() == 0
    assert clusters.where(F.col("cluster_id").isNull()).count() == 0


def test_hot_family_survives_salting(result, gold):
    """The forced 30-file hot family must land in ONE cluster even
    though its blocks get salted apart."""
    hot_ids = gold.where(F.col("entity_id") == 0).select("file_id")
    hot_clusters = (
        result.tables["clusters"].join(hot_ids, "file_id").select("cluster_id").distinct()
    )
    assert hot_clusters.count() == 1


def test_no_unsalted_block_exceeds_budget(result):
    from blink_spark.operators.blocking import block_stats

    stats = block_stats(result.tables["s1_blocks"])
    assert stats.where(F.col("n_pairs") > 2 * 20_000).count() == 0


def test_resume_skips_completed_stages(spark, corpus, tmp_path):
    store = StageStore(spark, f"file://{tmp_path}/er")
    pipe = ERPipeline(ERConfig(pair_budget=20_000))
    # simulate a kill after stage 2: run only through scoring
    res1 = pipe.run(corpus, store=store, until="score")
    assert "s3_clusters" not in res1.tables
    assert res1.resumed == []
    # rerun to completion: every completed stage must be resumed, not recomputed
    res2 = pipe.run(corpus, store=store)
    assert set(res2.resumed) == {
        "s0_normalized", "s1_signatures", "s1_blocks", "s2_pairs", "s2_scores", "s2_edges",
    }
    # third run resumes everything including clusters
    res3 = pipe.run(corpus, store=store)
    assert "s3_clusters" in res3.resumed
    # resumed result identical to fresh compute
    fresh = pipe.run(corpus, store=None).tables["clusters"]
    a = sorted((r["file_id"], r["cluster_id"]) for r in res3.tables["clusters"].collect())
    b = sorted((r["file_id"], r["cluster_id"]) for r in fresh.collect())
    assert a == b
    # lineage + metrics tables exist and cover the stages
    stages = {r["stage"] for r in store.read("_lineage").select("stage").distinct().collect()}
    assert "s2_scores" in stages
    metrics = {r["stage"] for r in store.read_metrics().select("stage").distinct().collect()}
    assert "s2_scores" in metrics


def test_corpus_deterministic_across_partitioning(spark):
    from blink_spark.corpus import generate_files

    a = generate_files(spark, 30, seed=42, partitions=2).orderBy("repo", "path", "commit")
    b = generate_files(spark, 30, seed=42, partitions=7).orderBy("repo", "path", "commit")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_salted_hot_family_stays_one_cluster(spark):
    """Regression: (a) pair-budget salting must not fracture a family
    (bands cut at independent salt boundaries; CC bridges the cuts);
    (b) per-node top-k pruning is off by default — a variant subgroup
    larger than k would out-score its bridge edges on both endpoints
    and split off (observed at k=20 and k=60 with a 1000-file family)."""
    from blink_spark.corpus import generate_files
    from blink_spark.eval import pairwise_metrics
    from blink_spark.functions import text
    from blink_spark.pipeline import ERConfig, ERPipeline

    files = generate_files(spark, n_entities=300, hot_family_size=300).localCheckpoint(
        eager=True
    )
    cfg = ERConfig(pair_budget=10_000)  # rows_budget ~141 -> family is salted
    res = ERPipeline(cfg).run(files)
    gold = files.select(
        text.stable_file_id("repo", "path", "commit").alias("file_id"), "entity_id"
    )
    m = pairwise_metrics(res.tables["s3_clusters"], gold)
    assert m["precision"] == 1.0
    assert m["recall"] >= 0.99, m


def test_er_pipeline_boundary_budget(spark, corpus, spill_paths):
    """A storeless run cuts lineage only where a table has two or more
    consumers or feeds a loop: the s1 and s2 spills and one write per
    CC round (no write of CC's oriented input)."""
    sc = spark.sparkContext
    sc.setJobGroup("er_boundary_budget", "er_boundary_budget")
    try:
        ERPipeline().run(corpus).tables["clusters"].collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("er_boundary_budget"))
    assert len(spill_paths) <= 4, spill_paths
    assert n_jobs <= 12, n_jobs
