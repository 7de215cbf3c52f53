"""Scoring kernels vs DuckDB / pure-Python oracles (the reference
validates with external oracles too — scipy for CC; we extend the
pattern to every kernel)."""

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from blink_spark.functions import similarity as sim


def _rand_str(rng, n):
    return "".join(rng.choice("abcdefgh /._-") for _ in range(n))


def test_jaro_winkler_matches_duckdb(spark):
    rng = random.Random(13)
    pairs = [(_rand_str(rng, rng.randint(0, 25)), _rand_str(rng, rng.randint(0, 25))) for _ in range(300)]
    pairs += [("", ""), ("a", "a"), ("abc", "abc"), ("src/main.py", "src/main_v2.py")]
    df = spark.createDataFrame(pairs, "a string, b string")
    got = [
        r["jw"]
        for r in df.select(sim.jaro_winkler_udf()(F.col("a"), F.col("b")).alias("jw")).collect()
    ]
    con = duckdb.connect()
    for (a, b), g in zip(pairs, got):
        exp = con.execute("select jaro_winkler_similarity(?, ?)", [a, b]).fetchone()[0]
        assert g == pytest.approx(exp, abs=1e-12), (a, b, g, exp)


def test_jaccard_matches_python(spark):
    rng = random.Random(5)
    vocab = [f"t{i}" for i in range(30)]
    rows = [
        (rng.sample(vocab, rng.randint(0, 20)), rng.sample(vocab, rng.randint(0, 20)))
        for _ in range(100)
    ] + [([], []), (["x"], [])]
    df = spark.createDataFrame(rows, "a array<string>, b array<string>")
    got = [
        r["j"] for r in df.select(sim.token_set_jaccard(F.col("a"), F.col("b")).alias("j")).collect()
    ]
    for (a, b), g in zip(rows, got):
        sa, sb = set(a), set(b)
        exp = 1.0 if not (sa | sb) else len(sa & sb) / len(sa | sb)
        assert g == pytest.approx(exp, abs=1e-12)


def test_tf_cosine_udf_expr_python_agree(spark):
    rng = random.Random(11)
    vocab = [f"t{i}" for i in range(15)]
    rows = [
        ([rng.choice(vocab) for _ in range(rng.randint(0, 30))],
         [rng.choice(vocab) for _ in range(rng.randint(0, 30))])
        for _ in range(100)
    ]
    df = spark.createDataFrame(rows, "a array<string>, b array<string>")
    out = df.select(
        sim.tf_cosine_udf()(F.col("a"), F.col("b")).alias("u"),
    ).collect()
    for (a, b), r in zip(rows, out):
        exp = sim.tf_cosine_py(a, b)
        assert r["u"] == pytest.approx(exp, abs=1e-9)


def test_array_cosine(spark):
    rows = [([1.0, 0.0], [0.0, 1.0]), ([1.0, 2.0], [2.0, 4.0]), ([0.0, 0.0], [1.0, 1.0])]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    got = [r["c"] for r in df.select(sim.array_cosine(F.col("a"), F.col("b")).alias("c")).collect()]
    assert got[0] == pytest.approx(0.0)
    assert got[1] == pytest.approx(1.0)
    assert got[2] == 0.0
