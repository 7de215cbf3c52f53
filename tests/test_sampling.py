"""Deterministic splitting/sampling: proportion bounds, exact
stratification, append-stability (the property randomSplit lacks),
partition-independence, and the id_hash check shared by every
hash-min sample."""

import pytest
from pyspark.sql import functions as F

from blink_spark.functions.sampling import (
    hash_split,
    per_group_sample,
    stratified_exact_split,
)
from blink_spark.operators import ann
from blink_spark.operators.blocking import canopy_blocks

FR = {"train": 0.8, "val": 0.1, "test": 0.1}


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"g{i % 5}") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, grp string").cache()
    df.count()
    return df


def test_hash_split_proportions_and_total(docs):
    out = hash_split(docs, FR)
    counts = {r["split"]: r["c"] for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert sum(counts.values()) == 2000
    assert counts["train"] == pytest.approx(1600, abs=80)
    assert counts["val"] == pytest.approx(200, abs=50)
    assert counts["test"] == pytest.approx(200, abs=50)


def test_hash_split_append_stable(docs):
    """Growing the corpus must not reassign existing rows — the core
    property DataFrame.randomSplit lacks."""
    small = docs.where(F.col("doc_id") < 500)
    a = {r["doc_id"]: r["split"] for r in hash_split(small, FR).collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(docs, FR).collect()}
    assert all(b[k] == v for k, v in a.items())


def test_hash_split_partition_independent(docs):
    a = sorted(map(tuple, hash_split(docs.repartition(1), FR).collect()))
    b = sorted(map(tuple, hash_split(docs.repartition(13), FR).collect()))
    assert a == b


def test_hash_split_bad_fractions(docs):
    with pytest.raises(ValueError):
        hash_split(docs, {"a": 0.5, "b": 0.4})


def test_stratified_split_exact_per_stratum(docs):
    out = stratified_exact_split(docs, FR, strata_col="grp")
    per = (
        out.groupBy("grp", "split").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    by = {(r["grp"], r["split"]): r["c"] for r in per}
    for g in [f"g{i}" for i in range(5)]:
        # 400 rows per stratum -> exactly ceil cuts: 320 / 40 / 40
        assert by[(g, "train")] == 320, by
        assert by[(g, "val")] == 40, by
        assert by[(g, "test")] == 40, by


def test_per_group_sample_deterministic_and_bounded(docs):
    a = per_group_sample(docs.repartition(3), 7, group_col="grp")
    b = per_group_sample(docs.repartition(11), 7, group_col="grp")
    ra = sorted(map(tuple, a.collect()))
    assert ra == sorted(map(tuple, b.collect()))
    counts = a.groupBy("grp").agg(F.count(F.lit(1)).alias("c")).collect()
    assert all(r["c"] == 7 for r in counts)


def test_per_group_sample_append_stable_subset(docs):
    """A sample drawn from a superset corpus, restricted to the subset's
    members, equals... NOT guaranteed (new rows can displace) — but the
    sample from identical input must be identical across seeds runs."""
    a = sorted(map(tuple, per_group_sample(docs, 5, group_col="grp").collect()))
    b = sorted(map(tuple, per_group_sample(docs, 5, group_col="grp").collect()))
    assert a == b


def test_md5_hash_honors_seed(docs):
    """Seed-varied md5 splits must differ (cross-validation folds)."""
    a = {r["doc_id"]: r["split"] for r in hash_split(docs, FR, seed=1, id_hash="md5").collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(docs, FR, seed=2, id_hash="md5").collect()}
    assert any(a[k] != b[k] for k in a)


def test_hash_split_exhaustive_and_disjoint(docs):
    """Every row gets exactly one split label (withColumn guarantees one
    row out per row in; the CASE covers the whole [0,1) hash range)."""
    out = hash_split(docs, FR)
    assert out.count() == docs.count()
    assert out.where(F.col("split").isNull()).count() == 0
    assert {r["split"] for r in out.select("split").distinct().collect()} <= set(FR)


def test_hash_split_single_fraction(docs):
    out = hash_split(docs, {"all": 1.0})
    assert out.where(F.col("split") != "all").count() == 0


def test_stratified_split_exhaustive(docs):
    out = stratified_exact_split(docs, FR, strata_col="grp")
    assert out.count() == docs.count()
    assert out.where(F.col("split").isNull()).count() == 0
    # helper columns must not leak
    assert set(out.columns) == {"doc_id", "grp", "split"}


@pytest.mark.parametrize(
    "call",
    [
        lambda df: ann.ivf_topk(df, k=2, n_cells=2, nprobe=1, id_hash="MD5"),
        lambda df: ann.pq_topk(df, k=2, m=2, ksub=2, dim=4, id_hash="MD5"),
        lambda df: canopy_blocks(df, 0.5, 0.9, id_hash="MD5"),
        lambda df: hash_split(df, FR, id_col="vec_id", id_hash="MD5"),
    ],
    ids=["ivf_topk", "pq_topk", "canopy_blocks", "hash_split"],
)
def test_unknown_id_hash_rejected(spark, call):
    """Only "xxhash" and "md5" name a sample hash; anything else (here
    a misspelt "MD5") must raise, not silently fall back to xxhash."""
    df = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 2.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="id_hash"):
        call(df)
