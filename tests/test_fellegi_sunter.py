"""Fellegi-Sunter probabilistic linkage: EM recovers the generating
latent-class parameters; weights separate matches from non-matches;
everything is bit-stable across partitioning (DECIMAL M-step sums).
Binary comparisons are the one-level case of the comparison-level
model: a one-predicate level list, gamma in {0, 1}, m / u as
[P(disagree), P(agree)]."""

import random

import pytest
from pyspark.sql import functions as F

from blink_spark.eval import pairwise_metrics
from blink_spark.operators import fellegi_sunter as fs

FIELDS = ["a", "b", "c"]
LEVELS = {f: 1 for f in FIELDS}
TRUE_LAM, TRUE_M, TRUE_U = 0.25, [0.95, 0.9, 0.85], [0.2, 0.1, 0.3]


def _latent_pairs(n=4000, seed=11):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        is_match = rng.random() < TRUE_LAM
        probs = TRUE_M if is_match else TRUE_U
        gs = [1 if rng.random() < p else 0 for p in probs]
        rows.append((i, int(is_match), *gs))
    return rows


@pytest.fixture(scope="module")
def gammas(spark):
    df = spark.createDataFrame(
        _latent_pairs(), "pair_id long, is_match int, g_a int, g_b int, g_c int"
    ).cache()
    df.count()
    return df


def test_em_recovers_generating_parameters(gammas):
    fit = fs.em_fit(gammas, LEVELS, iters=25)
    assert fit["lambda"] == pytest.approx(TRUE_LAM, abs=0.05)
    for f, tm, tu in zip(FIELDS, TRUE_M, TRUE_U):
        assert fit["m"][f][1] == pytest.approx(tm, abs=0.07), (f, fit["m"])
        assert fit["u"][f][1] == pytest.approx(tu, abs=0.07), (f, fit["u"])


def test_weights_separate_matches(gammas):
    fit = fs.em_fit(gammas, LEVELS, iters=25)
    scored = fs.score_pairs(gammas, FIELDS, fit["m"], fit["u"], fit["lambda"])
    stats = (
        scored.groupBy("is_match")
        .agg(F.avg("weight").alias("w"), F.avg("p_match").alias("p"))
        .collect()
    )
    by = {r["is_match"]: r for r in stats}
    assert by[1]["w"] > by[0]["w"] + 2.0
    assert by[1]["p"] > 0.6 and by[0]["p"] < 0.3
    # posterior-0.5 classification F1 on the latent truth
    pred = scored.withColumn("pred", (F.col("p_match") > 0.5).cast("int"))
    agg = pred.agg(
        F.sum(F.col("pred") * F.col("is_match")).alias("tp"),
        F.sum("pred").alias("pp"),
        F.sum("is_match").alias("gp"),
    ).collect()[0]
    prec = agg["tp"] / agg["pp"]
    rec = agg["tp"] / agg["gp"]
    f1 = 2 * prec * rec / (prec + rec)
    assert f1 >= 0.8, f1


def test_em_deterministic_across_partitioning(gammas):
    f1 = fs.em_fit(gammas.repartition(1), LEVELS, iters=8)
    f2 = fs.em_fit(gammas.repartition(17), LEVELS, iters=8)
    assert f1 == f2  # bit-identical, not approx — DECIMAL M-step sums


def test_weight_formula_hand_example(spark):
    """One pair, known m/u: weight = sum of the selected log2 literals
    (agreement on a, disagreement on b)."""
    import math

    df = spark.createDataFrame([(1, 1, 0)], "pair_id long, g_a int, g_b int")
    m = {"a": [0.1, 0.9], "b": [0.2, 0.8]}
    u = {"a": [0.9, 0.1], "b": [0.6, 0.4]}
    scored = fs.score_pairs(df, ["a", "b"], m, u, 0.5)
    row = scored.collect()[0]
    exp = math.log2(0.9 / 0.1) + math.log2(0.2 / 0.6)
    assert row["weight"] == pytest.approx(exp, abs=1e-6)


def test_estimate_u_from_random_pairs(spark):
    """Records whose field values are uniform over v distinct values:
    a random pair agrees with probability 1/v — the u estimate must
    land near it (3 values -> 1/3; 10 values -> 1/10)."""
    rows = [(i, f"s{i % 3}", i % 10) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, src string, dec long")
    est = fs.estimate_u_probs(
        df,
        {
            "src": [F.col("src_a") == F.col("src_b")],
            "dec": [F.col("dec_a") == F.col("dec_b")],
        },
        sample=150,
    )
    assert est["n_pairs"] == 150 * 149 // 2
    assert est["u"]["src"][1] == pytest.approx(1 / 3, abs=0.05)
    assert est["u"]["dec"][1] == pytest.approx(1 / 10, abs=0.04)


def _draw(rng, dist):
    x = rng.random()
    c = 0.0
    for l, p in enumerate(dist):
        c += p
        if x < c:
            return l
    return len(dist) - 1


def test_em_multilevel_recovers_generating_parameters(spark):
    """Data from a known multi-level latent-class model: EM must
    recover lambda and every per-level m/u (round-3 VERDICT item 6's
    'EM property test recovering multi-level generating params')."""
    import random

    rng = random.Random(5)
    LAM = 0.3
    # three conditionally-independent fields: a 2-class latent-class
    # model needs >= 3 indicators to be identifiable (Kruskal rank
    # condition) — with two, EM trades mass between b and lambda
    M = {"a": [0.05, 0.15, 0.80], "b": [0.20, 0.80], "c": [0.10, 0.30, 0.60]}
    U = {"a": [0.70, 0.25, 0.05], "b": [0.85, 0.15], "c": [0.60, 0.30, 0.10]}
    rows = []
    for _ in range(4000):
        src = M if rng.random() < LAM else U
        rows.append(
            (_draw(rng, src["a"]), _draw(rng, src["b"]), _draw(rng, src["c"]))
        )
    df = spark.createDataFrame(rows, "g_a int, g_b int, g_c int")
    fit = fs.em_fit(df, {"a": 2, "b": 1, "c": 2}, iters=30)
    assert abs(fit["lambda"] - LAM) < 0.05, fit["lambda"]
    for f in M:
        for l in range(len(M[f])):
            assert abs(fit["m"][f][l] - M[f][l]) < 0.07, (f, l, fit["m"])
            assert abs(fit["u"][f][l] - U[f][l]) < 0.07, (f, l, fit["u"])


def test_em_multilevel_deterministic_across_partitioning(spark):
    import random

    rng = random.Random(9)
    rows = [(rng.randrange(3), rng.randrange(2)) for _ in range(600)]
    a = fs.em_fit(
        spark.createDataFrame(rows, "g_a int, g_b int").repartition(1),
        {"a": 2, "b": 1},
        iters=5,
    )
    b = fs.em_fit(
        spark.createDataFrame(rows, "g_a int, g_b int").repartition(13),
        {"a": 2, "b": 1},
        iters=5,
    )
    assert a == b  # exact-DECIMAL M-step sums: bit-identical


def test_multilevel_gammas_strongest_first_and_nulls(spark):
    df = spark.createDataFrame(
        [(1, "x", "x"), (2, "x", "xy"), (3, "x", "zz"), (4, "x", None)],
        "id long, s_a string, s_b string",
    )
    g = fs.attach_gammas(
        df,
        {
            "s": [
                F.col("s_a") == F.col("s_b"),
                F.substring("s_a", 1, 1) == F.substring("s_b", 1, 1),
            ]
        },
    )
    got = {r["id"]: r["g_s"] for r in g.collect()}
    # exact fires 2 (even though the close predicate also holds),
    # close-only fires 1, neither 0, NULL side counts as 0
    assert got == {1: 2, 2: 1, 3: 0, 4: 0}


def test_tf_adjustment_rare_beats_common(spark):
    """Agreement on a rare value must earn a positive adjustment and a
    common value a negative one (u_exact sits between their collision
    rates); non-exact levels get exactly 0."""
    recs = spark.createDataFrame(
        [(i, "common" if i < 90 else "rare") for i in range(100)],
        "doc_id long, src string",
    )
    tf = fs.term_frequency_table(recs, "src")
    pairs = spark.createDataFrame(
        [("common", 2), ("rare", 2), ("common", 1)],
        "src string, g_src int",
    ).join(tf, "src")
    # u_exact = 0.2: common tf=0.9 (adj<0), rare tf=0.1 (adj>0)
    out = pairs.select(
        "src",
        "g_src",
        fs.tf_adjustment_col("src", 2, 0.2, 100).alias("adj"),
    ).collect()
    by = {(r["src"], r["g_src"]): r["adj"] for r in out}
    assert by[("common", 2)] < 0 < by[("rare", 2)]
    assert by[("common", 1)] == 0.0
    import math

    assert by[("rare", 2)] == pytest.approx(math.log2(0.2 / 0.1), abs=1e-9)


def test_estimate_u_too_few_records_raises(spark):
    """<2 records -> zero random pairs: a descriptive error, not a
    float(None) TypeError (round-3 ADVICE item 4)."""
    df = spark.createDataFrame([(1, "x")], "doc_id long, src string")
    with pytest.raises(ValueError, match="zero random pairs"):
        fs.estimate_u_probs(
            df, {"src": [F.col("src_a") == F.col("src_b")]}, sample=10
        )


def test_estimate_u_deterministic_across_partitioning(spark):
    rows = [(i, f"s{i % 4}") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    comp = {"src": [F.col("src_a") == F.col("src_b")]}
    e1 = fs.estimate_u_probs(df.repartition(1), comp, sample=100)
    e2 = fs.estimate_u_probs(df.repartition(11), comp, sample=100)
    assert e1 == e2


def _noisy_duplicates(spark):
    """120 entities x three noisy copies (10% of copies lose their
    source), plus sorted-neighborhood candidate pairs on size."""
    from blink_spark.operators.pairs import sorted_neighborhood_pairs

    rng = random.Random(7)
    rows = []
    rid = 0
    for e in range(120):
        for _ in range(3):  # three noisy copies per entity
            src = f"src{e}" if rng.random() > 0.1 else "srcX"
            rows.append((rid, e, src, 10 * e + rng.randrange(2), e % 97))
            rid += 1
    df = spark.createDataFrame(
        rows, "doc_id long, gold long, src string, size long, dec long"
    ).cache()
    df.count()
    records = df.select("doc_id", "src", "size", "dec")
    pairs = sorted_neighborhood_pairs(records, "size", id_col="doc_id", window=5)
    return df, records, pairs


def test_fs_cluster_end_to_end(spark):
    """Full Splink-style workflow on a synthetic duplicate corpus:
    sorted-neighborhood blocking -> gammas -> u from random pairs ->
    EM -> posterior threshold -> CC. Recovered clusters must match the
    gold entities at pairwise F1 >= 0.95."""
    df, records, pairs = _noisy_duplicates(spark)
    res = fs.fs_cluster(
        records,
        pairs,
        {
            "src": [F.col("src_a") == F.col("src_b")],
            "size": [F.abs(F.col("size_a") - F.col("size_b")) <= 1],
            "dec": [F.col("dec_a") == F.col("dec_b")],
        },
        em_iters=15,
        threshold_p=0.9,
    )
    # EM must find high P(agree | match) / low P(agree | non-match)
    # without labels
    assert all(v[1] > 0.6 for v in res["fit"]["m"].values()), res["fit"]
    assert all(v[1] < 0.4 for v in res["fit"]["u"].values()), res["fit"]
    # pairwise F1 of recovered clusters vs gold entities
    gold = df.select("doc_id", F.col("gold").alias("entity_id"))
    m = pairwise_metrics(res["clusters"], gold, "doc_id")
    assert m["f1"] >= 0.95, m


def test_fs_cluster_multilevel_end_to_end(spark):
    """The multi-level workflow on the same noisy-duplicate corpus:
    graded gammas (exact src / shared prefix; size |Δ|<=1 / <=3) must
    recover gold entities at pairwise F1 >= 0.95, unsupervised, with
    EM landing high-level mass in m and level-0 mass in u."""
    df, records, pairs = _noisy_duplicates(spark)
    dn = F.abs(F.col("size_a") - F.col("size_b"))
    res = fs.fs_cluster(
        records,
        pairs,
        {
            "src": [
                F.col("src_a") == F.col("src_b"),
                F.substring("src_a", 1, 4) == F.substring("src_b", 1, 4),
            ],
            "size": [dn <= 1, dn <= 3],
            "dec": [F.col("dec_a") == F.col("dec_b")],
        },
        em_iters=15,
        threshold_p=0.9,
    )
    fit = res["fit"]
    # matches concentrate above level 0 and agree exactly far more
    # often than non-matches; non-matches may legitimately sit at the
    # CLOSE level (every src shares the 'src' prefix), so only the
    # exact level separates universally
    assert all(fit["m"][f][0] < 0.4 for f in fit["m"]), fit["m"]
    for f in fit["m"]:
        top = len(fit["m"][f]) - 1
        assert fit["m"][f][top] > fit["u"][f][top] + 0.3, (f, fit)
    assert fit["u"]["size"][0] > 0.6 and fit["u"]["dec"][0] > 0.6, fit["u"]
    gold = df.select("doc_id", F.col("gold").alias("entity_id"))
    m = pairwise_metrics(res["clusters"], gold, "doc_id")
    assert m["f1"] >= 0.95, m


def test_estimate_u_multilevel_rates(spark):
    """Uniform value fields: random-pair level rates are analytic
    (exact agreement 1/v), and the distribution sums to 1."""
    rows = [(i, f"s{i % 4}") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    est = fs.estimate_u_probs(
        df,
        {"src": [F.col("src_a") == F.col("src_b")]},
        sample=120,
    )
    u = est["u"]["src"]
    assert est["n_pairs"] == 120 * 119 // 2
    assert u[1] == pytest.approx(0.25, abs=0.05)
    assert sum(u) == pytest.approx(1.0, abs=1e-9)


def test_em_fit_empty_pairs_raises(spark):
    empty = spark.createDataFrame([], "g_a int, g_b int")
    with pytest.raises(ValueError, match="no candidate pairs"):
        fs.em_fit(empty, {"a": 1, "b": 1}, iters=1)


def test_gammas_null_fields_count_as_disagreement(spark):
    df = spark.createDataFrame(
        [(1, "x", "x"), (2, None, "x"), (3, None, None)],
        "pair_id long, src_a string, src_b string",
    )
    g = fs.attach_gammas(df, {"src": [F.col("src_a") == F.col("src_b")]})
    got = {r["pair_id"]: r["g_src"] for r in g.collect()}
    assert got == {1: 1, 2: 0, 3: 0}  # never NULL


def test_normalize_zero_sum_returns_uniform():
    """EM's all-non-match basin rounds every per-level DECIMAL weight
    to exactly 0; _normalize must return uniform (no information)
    instead of raising ZeroDivisionError mid-fit."""
    from blink_spark.operators.fellegi_sunter import _normalize

    got = _normalize([0.0, 0.0, 0.0])
    assert got == pytest.approx([1 / 3] * 3)
    # sanity: the normal path is unchanged
    assert _normalize([1.0, 3.0])[1] == pytest.approx(0.75)
