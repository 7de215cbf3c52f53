"""SimHash: numpy UDF == DuckDB; banded join is EXACT within the
pigeonhole radius."""

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from blink_spark.functions import simhash as sh


def _docs(n=40, seed=7):
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(50)]
    return [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40))) for _ in range(n)
    ] + ["", "solo"]


def test_expr_udf_duckdb_agree(spark):
    docs = _docs()
    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)], "id long, text string")
    toks = F.filter(F.split(F.lower("text"), "[^a-z0-9_]+"), lambda t: t != F.lit(""))
    udf_vals = {
        r["id"]: r["s"]
        for r in df.select("id", toks.alias("toks"))
        .select("id", sh.simhash_udf()(F.col("toks")).alias("s"))
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, ?)" for i in range(len(docs)))
        + ") t(id, text)",
        docs,
    )
    toks_sql = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), t -> t <> '')"
    duck_vals = dict(
        con.execute(
            f"SELECT id, {sh.simhash_sql(sh.token_hash60_sql(toks_sql))} FROM d"
        ).fetchall()
    )
    assert udf_vals == duck_vals


def _brute_pairs(sims, radius):
    out = set()
    ids = sorted(sims)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if bin(sims[a] ^ sims[b]).count("1") <= radius:
                out.add((a, b))
    return out


def test_banded_join_exact_within_radius(spark):
    rng = random.Random(3)
    base = rng.getrandbits(60)
    sims = {}
    for i in range(60):
        v = base
        for _ in range(rng.randint(0, 6)):  # flip 0..6 bits
            v ^= 1 << rng.randrange(60)
        sims[i] = v
    df = spark.createDataFrame(list(sims.items()), "doc_id long, simhash long")
    got = {
        (r["id_a"], r["id_b"])
        for r in sh.simhash_near_dup_pairs(df, radius=3).collect()
    }
    assert got == _brute_pairs(sims, 3)


def test_radius_beyond_bands_rejected(spark):
    df = spark.createDataFrame([(1, 7)], "doc_id long, simhash long")
    with pytest.raises(ValueError):
        sh.simhash_near_dup_pairs(df, radius=4, bands=4)
