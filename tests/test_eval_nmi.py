"""Distributed NMI/ARI: `nmi_ari_components` (quantized, one row) and
`nmi_ari` (the same contingency fold finished exactly on the driver) —
no driver-side contingency collect.
"""

import math
import random

import duckdb
import pytest
from pyspark.sql import functions as F

from blink_spark.eval import nmi_ari, nmi_ari_components


def _labels_df(spark, rows):
    return spark.createDataFrame(rows, "file_id long, cluster_id string")


def _gold_df(spark, rows):
    return spark.createDataFrame(rows, "file_id long, entity_id string")


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_distributed_matches_driver(spark, seed):
    """nmi_ari_components == nmi_ari to the 1e-6 quantization grid on
    random partitions (nmi_ari is itself pytest-pinned against the
    Python oracle)."""
    rng = random.Random(seed)
    n = 400
    clusters = _labels_df(
        spark, [(i, f"c{rng.randrange(12)}") for i in range(n)]
    )
    gold = _gold_df(spark, [(i, f"e{rng.randrange(9)}") for i in range(n)])
    want = nmi_ari(clusters, gold)
    got = nmi_ari_components(
        clusters.join(gold, "file_id").select("cluster_id", "entity_id")
    ).collect()[0]
    assert got["n"] == n
    assert abs(got["nmi"] - want["nmi"]) < 1e-4
    assert abs(got["ari"] - want["ari"]) < 1e-4


def test_distributed_degenerate_cases(spark):
    # both trivial -> (1, 1); one trivial -> nmi 0; empty -> (1, 1)
    both = nmi_ari(
        _labels_df(spark, [(i, "c") for i in range(5)]),
        _gold_df(spark, [(i, "e") for i in range(5)]),
    )
    assert both["nmi"] == 1.0 and both["ari"] == 1.0
    one = nmi_ari(
        _labels_df(spark, [(i, "c") for i in range(6)]),
        _gold_df(spark, [(i, f"e{i % 2}") for i in range(6)]),
    )
    assert one["nmi"] == 0.0
    empty = nmi_ari(
        _labels_df(spark, []), _gold_df(spark, [])
    )
    assert empty["nmi"] == 1.0 and empty["ari"] == 1.0 and empty["n"] == 0


def test_distributed_stable_across_partitioning(spark):
    rng = random.Random(7)
    rows = [(i, f"c{rng.randrange(20)}") for i in range(500)]
    gold_rows = [(i, f"e{rng.randrange(7)}") for i in range(500)]
    lab = (
        _labels_df(spark, rows)
        .join(_gold_df(spark, gold_rows), "file_id")
        .select("cluster_id", "entity_id")
    )
    a = nmi_ari_components(lab.repartition(1)).collect()[0]
    b = nmi_ari_components(lab.repartition(13)).collect()[0]
    assert a.asDict() == b.asDict()  # exact-integer sums: bit-identical


def test_xlnx_micro_cross_engine(spark):
    """Pin the quantized entropy term floor(k·ln(k)·1e6+0.5) to agree
    between the JVM (F.log) and DuckDB (ln) for every integer argument
    an sf<=0.1 oracle fixture can produce. If an engine upgrade ever
    breaks agreement for some k, the eval_nmi_components oracle would
    hash-mismatch — this test fails first."""
    from blink_spark.eval import _xlnx_micro

    hi = 100_000
    got = (
        spark.range(1, hi + 1)
        .select(F.sum(_xlnx_micro(F.col("id"))).alias("s"),
                F.sum(F.lit(1)).alias("n"))
        .collect()[0]
    )
    want = duckdb.sql(
        f"SELECT sum(CAST(floor(k * ln(k) * 1000000.0 + 0.5) AS BIGINT)) AS s,"
        f" count(*) AS n FROM range(1, {hi + 1}) t(k)"
    ).fetchone()
    assert int(got["n"]) == int(want[1])
    assert int(got["s"]) == int(want[0])
    # and pin python's libm to the same grid (the pytest oracle itself)
    py = sum(math.floor(k * math.log(k) * 1e6 + 0.5) for k in range(1, hi + 1))
    assert py == int(want[0])


def test_log2_micro_cross_engine(spark):
    """Same pin for log2 of integers — the FS term-frequency
    adjustment's engine-side log (fellegi_sunter.tf_adjustment_col)."""
    hi = 100_000
    got = (
        spark.range(1, hi + 1)
        .select(
            F.sum(
                F.floor(
                    F.log2(F.col("id").cast("double")) * F.lit(1e6) + F.lit(0.5)
                ).cast("long")
            ).alias("s")
        )
        .collect()[0]["s"]
    )
    want = duckdb.sql(
        f"SELECT sum(CAST(floor(log2(k) * 1000000.0 + 0.5) AS BIGINT)) "
        f"FROM range(1, {hi + 1}) t(k)"
    ).fetchone()[0]
    assert int(got) == int(want)


def test_ari_products_past_int64(spark):
    """The four-way ARI products reach ~2*n^4 and wrapped int64 past
    n ~ 46k before the DECIMAL(38,0) cast; at n = 100k with one giant
    cluster, (sa2+sb2)*n2 ~ 2e20 >> 2^63 — the pre-fix plan returned a
    wrapped (often negative-denominator) ratio. Pin ARI against the
    same components finished in Python bignums."""
    n = 100_000
    labels = spark.range(n).select(
        F.col("id").alias("file_id"),
        F.lit("c0").alias("cluster_id"),
        F.when(F.col("id") % 2 == 0, "e0").otherwise("e1").alias("entity_id"),
    )
    row = nmi_ari_components(
        labels.select("cluster_id", "entity_id")
    ).collect()[0]
    # exact bignum finish from the emitted integer components
    n_, idx2, sa2, sb2 = row["n"], row["idx2"], row["sa2"], row["sb2"]
    n2 = n_ * (n_ - 1)
    num = 2 * (idx2 * n2 - sa2 * sb2)
    den = (sa2 + sb2) * n2 - 2 * sa2 * sb2
    want = num / den
    assert -1.0 <= row["ari"] <= 1.0
    assert abs(row["ari"] - want) < 1e-6
    # and nmi_ari returns it (no None / no wrap)
    clusters = labels.select("file_id", "cluster_id")
    gold = labels.select("file_id", "entity_id")
    got = nmi_ari(clusters, gold)
    assert abs(got["ari"] - want) < 1e-6


def _job_count(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_contingency_job_budget(spark):
    """Every metric folds the one GROUPING SETS contingency: the NMI/ARI
    components take no more Spark jobs than pairwise P/R/F1 on the same
    labels, and B³ adds only its two marginal windows — no scratch
    spill, no per-marginal aggregate."""
    from blink_spark.eval import bcubed, pairwise_metrics

    rng = random.Random(0)
    rows = [(i, rng.randrange(300), rng.randrange(200)) for i in range(2000)]
    clusters = spark.createDataFrame(
        [(i, c) for i, c, _ in rows], "file_id long, cluster_id long"
    ).cache()
    gold = spark.createDataFrame(
        [(i, e) for i, _, e in rows], "file_id long, entity_id long"
    ).cache()
    clusters.count(), gold.count()
    labels = clusters.join(gold, "file_id").select("cluster_id", "entity_id")
    try:
        n_pairwise = _job_count(
            spark, "pairwise_budget", lambda: pairwise_metrics(clusters, gold)
        )
        n_nmi = _job_count(
            spark, "nmi_budget", lambda: nmi_ari_components(labels).collect()
        )
        n_bcubed = _job_count(
            spark, "bcubed_budget", lambda: bcubed(labels).collect()
        )
    finally:
        clusters.unpersist(), gold.unpersist()
    assert n_nmi <= n_pairwise, (n_nmi, n_pairwise)
    assert n_bcubed <= n_pairwise + 2, (n_bcubed, n_pairwise)
