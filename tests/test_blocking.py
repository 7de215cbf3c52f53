"""Blocking: salting respects the pair budget; keys deterministic."""

import pytest
from pyspark.sql import functions as F

from blink_spark.operators import blocking


def test_salt_hot_blocks_respects_budget(spark):
    # one hot block of 1000 rows (key 1), one small block of 5 (key 2)
    rows = [(1, i) for i in range(1000)] + [(2, 10_000 + i) for i in range(5)]
    df = spark.createDataFrame(rows, "block_key long, file_id long")
    budget = 5000  # rows_budget = sqrt(2*5000) = 100
    salted = blocking.salt_hot_blocks(df, "file_id", pair_budget=budget)
    sizes = {r["block_key"]: r["count"] for r in salted.groupBy("block_key").count().collect()}
    assert sizes.pop(2) == 5, "a small block keeps its key"
    assert 1 not in sizes, "the hot block's key is replaced by salted keys"
    hot_sizes = list(sizes.values())
    assert len(hot_sizes) >= 5, "hot block must be split"
    assert max(hot_sizes) * (max(hot_sizes) - 1) / 2 <= budget * 2.2  # hash imbalance slack
    # row preservation
    assert sum(hot_sizes) == 1000
    assert salted.count() == 1005


def test_salting_deterministic_across_partitioning(spark):
    rows = [(7, i) for i in range(500)]
    df = spark.createDataFrame(rows, "block_key long, file_id long")
    a = sorted(
        (r["block_key"], r["file_id"])
        for r in blocking.salt_hot_blocks(df.repartition(3), "file_id", 1000).collect()
    )
    b = sorted(
        (r["block_key"], r["file_id"])
        for r in blocking.salt_hot_blocks(df.repartition(11), "file_id", 1000).collect()
    )
    assert a == b
    assert len({k for k, _ in a}) > 1


def test_block_stats(spark):
    rows = [("k1", 1), ("k1", 2), ("k1", 3), ("k2", 4)]
    df = spark.createDataFrame(rows, "block_key string, file_id long")
    got = {r["block_key"]: (r["n_rows"], r["n_pairs"]) for r in blocking.block_stats(df).collect()}
    assert got == {"k1": (3, 3), "k2": (1, 0)}


def test_sorted_neighborhood_pairs_exact(spark):
    """window=3 on a sorted key: pair set is exactly the consecutive +
    skip-one pairs in key order (ties broken by id), per group."""
    from blink_spark.operators.pairs import sorted_neighborhood_pairs

    rows = [
        # (id, grp, key) — grp "x": key order is 10<20<20<30, tie on 20
        (1, "x", 20), (2, "x", 10), (3, "x", 30), (4, "x", 20),
        # grp "y": two rows -> one pair
        (5, "y", 7), (6, "y", 5),
    ]
    df = spark.createDataFrame(rows, "id long, grp string, key long")
    got = {
        (r["id_a"], r["id_b"], r["sort_gap"])
        for r in sorted_neighborhood_pairs(
            df, "key", id_col="id", window=3, by="grp"
        ).collect()
    }
    # x sorted: 2(10), 1(20), 4(20), 3(30)
    exp = {
        (1, 2, 1), (1, 4, 1), (3, 4, 1),   # consecutive
        (2, 4, 2), (1, 3, 2),              # skip-one
        (5, 6, 1),                          # y consecutive
    }
    assert got == exp


def test_sorted_neighborhood_deterministic_across_partitioning(spark):
    from blink_spark.operators.pairs import sorted_neighborhood_pairs

    rows = [(i, f"g{i % 3}", (i * 37) % 11) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, grp string, key long")
    a = sorted_neighborhood_pairs(df.repartition(1), "key", "id", 4, "grp")
    b = sorted_neighborhood_pairs(df.repartition(13), "key", "id", 4, "grp")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_sorted_neighborhood_global_equals_grouped_single(spark):
    """The scalable global-rank path (by=None) must produce exactly the
    pairs the windowed path produces over one constant group."""
    from blink_spark.operators.pairs import sorted_neighborhood_pairs

    rows = [(i, (i * 53) % 17) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, key long")
    g = df.withColumn("one", F.lit("g"))
    via_window = sorted_neighborhood_pairs(g, "key", "id", 4, by="one")
    via_global = sorted_neighborhood_pairs(df, "key", "id", 4, by=None)
    assert sorted(map(tuple, via_window.collect())) == sorted(
        map(tuple, via_global.collect())
    )


def test_sorted_neighborhood_global_deterministic(spark):
    from blink_spark.operators.pairs import sorted_neighborhood_pairs

    rows = [(i, (i * 29) % 13) for i in range(150)]
    df = spark.createDataFrame(rows, "id long, key long")
    a = sorted_neighborhood_pairs(df.repartition(1), "key", "id", 3)
    b = sorted_neighborhood_pairs(df.repartition(7), "key", "id", 3)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def _clustered_emb(spark, n=150, dim=16, kc=6, seed=3):
    import numpy as np

    rng = np.random.RandomState(seed)
    cents = rng.standard_normal((kc, dim)) * 3
    rows = [
        (i, (cents[i % kc] + rng.standard_normal(dim) * 0.2).tolist())
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_canopy_covers_everyone_and_overlaps(spark):
    from blink_spark.operators.blocking import canopy_blocks

    df = _clustered_emb(spark)
    blocks = canopy_blocks(df, s_loose=0.5, s_tight=0.9, n_candidates=32)
    covered = {r["vec_id"] for r in blocks.select("vec_id").distinct().collect()}
    assert covered == set(range(150))  # cover-all (incl. singleton fallback)
    # overlap is allowed: at least some point sits in 2+ canopies
    multi = (
        blocks.groupBy("vec_id").agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1).count()
    )
    assert multi >= 0  # existence depends on geometry; just must not error


def test_canopy_pairs_recall_on_clusters(spark):
    """Same-cluster points (cosine ~1) must co-occur in a canopy: the
    pairs generated from canopy blocks cover the exact near-dup pairs."""
    from blink_spark.operators.blocking import canopy_blocks
    from blink_spark.operators.pairs import candidate_pairs

    df = _clustered_emb(spark)
    blocks = canopy_blocks(df, s_loose=0.6, s_tight=0.95, n_candidates=48)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in candidate_pairs(blocks, id_col="vec_id").collect()
    }
    # gold: same (i % 6) class
    gold = {
        (a, b)
        for a in range(150)
        for b in range(a + 1, 150)
        if a % 6 == b % 6
    }
    recall = len(gold & pairs) / len(gold)
    assert recall >= 0.95, recall


def test_canopy_deterministic_across_partitioning(spark):
    from blink_spark.operators.blocking import canopy_blocks

    df = _clustered_emb(spark)
    a = canopy_blocks(df.repartition(1), 0.5, 0.9, n_candidates=24)
    b = canopy_blocks(df.repartition(13), 0.5, 0.9, n_candidates=24)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_canopy_bad_thresholds(spark):
    from blink_spark.operators.blocking import canopy_blocks

    df = _clustered_emb(spark, n=10)
    with pytest.raises(ValueError):
        canopy_blocks(df, s_loose=0.9, s_tight=0.5)


def test_canopy_string_ids(spark):
    """id_col is generic: string ids must flow through the broadcast
    center table and the singleton fallback (round-3 ADVICE: int(cid) +
    a hardcoded 'long' schema crashed on string ids)."""
    from blink_spark.operators.blocking import canopy_blocks

    base = _clustered_emb(spark, n=40)
    df = base.select(
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias("vec_id"),
        "embedding",
    )
    blocks = canopy_blocks(df, s_loose=0.5, s_tight=0.9, n_candidates=16)
    covered = {r["vec_id"] for r in blocks.select("vec_id").distinct().collect()}
    assert covered == {f"doc-{i}" for i in range(40)}


def test_canopy_distributed_equals_driver(spark):
    """The batched suppression (broadcast tight-radius anti-join between
    batches) is EXACTLY the one-batch driver greedy on the same pool —
    same blocks with a batch smaller than, equal to, and larger than
    the 32-candidate pool."""
    from blink_spark.operators.blocking import canopy_blocks

    df = _clustered_emb(spark)
    got = {
        bs: sorted(
            map(
                tuple,
                canopy_blocks(
                    df, 0.5, 0.9, n_candidates=32, batch_size=bs
                ).collect(),
            )
        )
        for bs in (7, 32, 100)
    }
    assert got[7] == got[100], "batch_size=7"
    assert got[32] == got[100], "batch_size=32"
