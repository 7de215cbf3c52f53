"""Fellegi-Sunter probabilistic record linkage (beyond-reference).

The reference links records with learned dense embeddings; classical
record linkage (Fellegi & Sunter, JASA 1969 — the model behind Splink,
the de-facto Spark ER tool) instead scores per-field agreement
patterns. Each comparison is an ordered list of level predicates,
strongest first (the Splink comparison-level model; Winkler 1990
extends binary agreement to graded levels); a candidate pair's gamma
g_i is the level that fires, and the match weight is

    w = sum_i  log2(m_i[g_i] / u_i[g_i])

where m_i[l] = P(gamma_i = l | match) and u_i[l] = P(gamma_i = l |
non-match). A binary comparison is the one-level case
(``{"src": [F.col("src_a") == F.col("src_b")]}``, ``m = [1 - m, m]``),
whose weights are the classic log2(m/u) and log2((1-m)/(1-u)).

m/u are estimated by EM over the unlabeled candidate pairs (the
naive-Bayes latent-class model, Winkler 1988) — exactly the shape a
1000-executor cluster wants: the E-step is a pure Column expression
over the pairs (the current parameters enter as literals), the M-step
is ONE aggregation job, and only a few floats per level ever touch
the driver.

Determinism: all M-step sums go through DECIMAL(38,12) (order-free),
so the fitted parameters — and therefore every downstream weight —
are bit-identical at any parallelism, the repo-wide discipline.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from blink_spark.functions.rounding import qround
from blink_spark.io.scratch import spill_scratch

_EPS = 1e-6


def attach_gammas(
    pairs: DataFrame, comparisons: dict[str, list[Column]]
) -> DataFrame:
    """Materialize the agreement vector: per field, an ordered list of
    boolean level predicates over the joined pair row, STRONGEST FIRST
    (e.g. exact equality, then Jaro-Winkler >= 0.9); gamma g_<field> =
    L - i for the first predicate i that fires (so the strongest level
    carries the highest value, L = len(levels)), 0 = none ('other').
    A NULL predicate (null field on either side) counts as
    DISAGREEMENT — without the coalesce it would stay NULL, silently
    dropping out of the EM sums, and diverge from a SQL CASE-WHEN
    twin."""
    out = pairs
    for name, levels in comparisons.items():
        expr = None
        for i, cond in enumerate(levels):
            val = len(levels) - i
            safe = F.coalesce(cond, F.lit(False))
            expr = (
                F.when(safe, F.lit(val))
                if expr is None
                else expr.when(safe, F.lit(val))
            )
        out = out.withColumn(
            f"g_{name}", expr.otherwise(F.lit(0)).cast("int")
        )
    return out


def _clamp(x: float) -> float:
    return min(max(x, _EPS), 1.0 - _EPS)


def _normalize(dist: list[float]) -> list[float]:
    """Scale to sum 1, clamp each level prob away from {0, 1}, rescale
    (driver floats — they only re-enter the plan as literals). Scaling
    must precede the clamp: raw weights > 1 would otherwise all pin at
    1-eps and collapse every distribution to uniform — m == u is a
    do-nothing EM fixed point."""
    s = sum(dist)
    if s <= 0.0:
        # degenerate posterior (e.g. EM's all-non-match basin rounds
        # every per-class weight to exactly 0 in DECIMAL): no level
        # information — uniform keeps the fit alive
        return [1.0 / len(dist)] * len(dist)
    c = [_clamp(x / s) for x in dist]
    s2 = sum(c)
    return [x / s2 for x in c]


def _level_case(g: Column, values: list[float]) -> Column:
    """CASE g WHEN 0 THEN values[0] WHEN 1 THEN values[1] ... (no ELSE)."""
    expr = F.when(g == 0, F.lit(values[0]))
    for l, v in enumerate(values[1:], start=1):
        expr = expr.when(g == l, F.lit(v))
    return expr


def em_fit(
    gammas: DataFrame,
    levels: dict[str, int],
    iters: int = 10,
    init_m: dict[str, list[float]] | None = None,
    init_u: dict[str, list[float]] | None = None,
    init_lambda: float = 0.1,
    spilled: bool = False,
) -> dict:
    """EM for (lambda, m_i[l], u_i[l]): m_i[l] = P(gamma_i = l | match)
    over l in 0..L_i, summing to 1 (the categorical naive-Bayes
    latent-class model).

    levels: field -> number of NONZERO levels L (gamma in 0..L); 1 for
    a binary comparison. Default init spreads m toward high levels and
    u toward level 0.

    ``spilled=True`` means the caller already materialized ``gammas``
    to scratch parquet (fs_cluster does); the g_ projection then reads
    column-pruned from that spill instead of writing a second copy of
    the largest intermediate.

    Each iteration: the E-step posterior P(match | gamma) is a single
    Column expression with the current parameters inlined as literals;
    the M-step is one groupless aggregation whose sums are EXACT
    DECIMAL — the result is independent of partitioning and input
    order. Fixed iteration count (no data-dependent stopping) keeps
    re-runs bit-identical.

    Returns {"lambda": float, "m": {field: [p0..pL]}, "u": ...,
    "n_pairs": int, "iterations": int}.
    """
    fields = list(levels)
    m: dict[str, list[float]] = {}
    u: dict[str, list[float]] = {}
    for f in fields:
        nl = levels[f] + 1
        m[f] = _normalize(
            list(init_m[f]) if init_m else [1.0 + 4.0 * l for l in range(nl)]
        )
        u[f] = _normalize(
            list(init_u[f]) if init_u else [4.0 * nl] + [1.0] * (nl - 1)
        )
    lam = _clamp(init_lambda)
    gcols = [F.col(f"g_{f}") for f in fields]
    # every EM iteration aggregates over the gammas — without a stage
    # boundary each pass would re-execute the candidate-pair joins that
    # produced them; project to the agreement columns and spill once
    # (unless the caller already spilled the full table)
    gammas = gammas.select(*gcols)
    if not spilled:
        gammas = spill_scratch(gammas, "fs_gammas")
    n_pairs = None
    dec = lambda c: c.cast("decimal(38,12)")  # noqa: E731 — exact sums
    for _ in range(iters):
        pm = F.lit(lam)
        pu = F.lit(1.0 - lam)
        for f, g in zip(fields, gcols):
            pm = pm * _level_case(g, m[f]).otherwise(F.lit(_EPS))
            pu = pu * _level_case(g, u[f]).otherwise(F.lit(_EPS))
        p = F.col("p")
        aggs = [
            F.sum(dec(p)).alias("sp"),
            F.sum(dec(F.lit(1.0) - p)).alias("snp"),
            F.count(F.lit(1)).alias("n"),
        ]
        for f, g in zip(fields, gcols):
            for l in range(levels[f] + 1):
                ind = (g == l).cast("double")
                aggs.append(F.sum(dec(p * ind)).alias(f"spg_{f}_{l}"))
                aggs.append(
                    F.sum(dec((F.lit(1.0) - p) * ind)).alias(f"snpg_{f}_{l}")
                )
        scored = gammas.select((pm / (pm + pu)).alias("p"), *gcols)
        row = scored.agg(*aggs).collect()[0]
        n_pairs = int(row["n"])
        if n_pairs == 0:
            raise ValueError(
                "em_fit: no candidate pairs — blocking produced an empty "
                "gamma table; widen the blocking before fitting"
            )
        # max-guard: a degenerate posterior (all pairs certain matches
        # or certain non-matches) zeroes one denominator; the guard
        # pins the ratio instead of dividing by zero
        sp = max(float(row["sp"]), _EPS)
        snp = max(float(row["snp"]), _EPS)
        lam = _clamp(sp / n_pairs)
        for f in fields:
            m[f] = _normalize(
                [float(row[f"spg_{f}_{l}"]) / sp for l in range(levels[f] + 1)]
            )
            u[f] = _normalize(
                [float(row[f"snpg_{f}_{l}"]) / snp for l in range(levels[f] + 1)]
            )
    # canonical orientation: the latent-class likelihood is symmetric
    # under (lam, m, u) <-> (1-lam, u, m); when candidate pairs are
    # majority-match (tight blocking) EM can land in the mirrored
    # basin. The MATCH class is by definition the one that agrees more
    # — swap if the expected agreement level drifted the other way.
    drift = sum(
        sum(l * p for l, p in enumerate(m[f]))
        - sum(l * p for l, p in enumerate(u[f]))
        for f in fields
    )
    if drift < 0:
        m, u, lam = u, m, 1.0 - lam
    return {
        "lambda": lam,
        "m": m,
        "u": u,
        "n_pairs": n_pairs,
        "iterations": iters,
    }


def level_weights(
    m: dict[str, list[float]], u: dict[str, list[float]]
) -> dict[str, list[float]]:
    """Per-level log2(m_l/u_l) match weights — the literals both the
    Spark plan and a SQL oracle receive verbatim (level 0's weight is
    the disagreement penalty)."""
    return {
        f: [math.log2(m[f][l] / u[f][l]) for l in range(len(m[f]))] for f in m
    }


def weight_col(fields: list[str], weights: dict[str, list[float]]) -> Column:
    """The Fellegi-Sunter match weight as one Column: per field, a CASE
    over the gamma level selecting that level's literal weight, summed
    in field order — engine-portable (no engine-side log/pow)."""
    total = F.lit(0.0)
    for f in fields:
        total = total + _level_case(F.col(f"g_{f}"), weights[f]).otherwise(
            F.lit(0.0)
        )
    return total


def term_frequency_table(
    records: DataFrame, field: str, id_col: str = "doc_id"
) -> DataFrame:
    """Per-value counts for TF adjustment: (field value, tf_cnt).
    One groupBy; broadcast-joinable for any realistic value universe
    (a value universe too big to broadcast shuffles fine too — the
    join key is the field itself)."""
    return records.groupBy(F.col(field)).agg(
        F.count(F.lit(1)).alias(f"tf_cnt_{field}")
    )


def tf_adjustment_col(
    field: str,
    exact_level: int,
    u_exact: float,
    n_records: int,
) -> Column:
    """Term-frequency adjustment (Winkler 1988; Splink's
    term_frequency_adjustments): agreeing on a RARE value is stronger
    evidence than agreeing on a common one. For a pair agreeing
    exactly on value v, the average u of the exact level is replaced
    by the value's own collision rate tf_v = cnt_v / n, adding

        adj = log2(u_exact / tf_v)
            = log2(u_exact) + log2(n) - log2(cnt_v)

    to the match weight (positive for rare values, negative for
    common ones). log2(u_exact) enters as a driver literal; log2(n)
    and log2(cnt_v) are engine-side logs of INTEGER arguments — the
    same cross-engine class as eval's quantized-ln terms (pinned by
    tests/test_eval_nmi.py), absorbed by the caller's final qround.
    Applies ONLY at the exact level (other levels keep the average
    weight); expects `tf_cnt_<field>` joined from
    term_frequency_table."""
    return F.when(
        F.col(f"g_{field}") == exact_level,
        F.lit(math.log2(u_exact))
        + F.log2(F.lit(float(n_records)))
        - F.log2(F.col(f"tf_cnt_{field}")),
    ).otherwise(F.lit(0.0))


def _sides(records: DataFrame, id_col: str) -> tuple[DataFrame, DataFrame]:
    """Both pair sides of ``records``: (id_a, <col>_a ...) and
    (id_b, <col>_b ...) — the row shape every comparison predicate
    reads once the two are joined."""
    feat_cols = [c for c in records.columns if c != id_col]
    return tuple(
        records.select(
            F.col(id_col).alias(f"id_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in feat_cols],
        )
        for s in ("a", "b")
    )


def estimate_u_probs(
    records: DataFrame,
    comparisons: dict[str, list[Column]],
    id_col: str = "doc_id",
    sample: int = 200,
    seed: int = 42,
) -> dict:
    """u_i[l] = P(gamma_i = l | non-match), estimated from random
    record pairs (Splink's ``estimate_u_using_random_sampling``): at
    realistic match prevalence a uniformly random pair is a non-match
    with overwhelming probability, so the per-level rate over random
    pairs IS u. Sampling is the repo's deterministic hash-min pattern
    (smallest xxhash64(id, seed) rows, cross-paired a < b) — the same
    estimate at any parallelism. sample=200 -> 19,900 pairs; the
    estimate's cost is O(sample²), never O(n²)."""
    ids = (
        records.withColumn("_u_hash", F.xxhash64(F.col(id_col), F.lit(seed)))
        .orderBy("_u_hash")
        .limit(sample)
        .drop("_u_hash")
    )
    a, b = _sides(ids, id_col)
    pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    gam = attach_gammas(pairs, comparisons)
    aggs = [F.count(F.lit(1)).alias("n")]
    for f, levels in comparisons.items():
        for l in range(len(levels) + 1):
            aggs.append(
                F.avg((F.col(f"g_{f}") == l).cast("double")).alias(f"{f}_{l}")
            )
    row = gam.agg(*aggs).collect()[0]
    if int(row["n"]) == 0:
        raise ValueError(
            "estimate_u_probs: the corpus yields zero random pairs "
            "(fewer than 2 records after sampling) — u cannot be "
            "estimated; pass explicit init_u to em_fit instead"
        )
    return {
        "u": {
            f: _normalize(
                [float(row[f"{f}_{l}"]) for l in range(len(levels) + 1)]
            )
            for f, levels in comparisons.items()
        },
        "n_pairs": int(row["n"]),
    }


def score_pairs(
    gammas: DataFrame,
    fields: list[str],
    m: dict[str, list[float]],
    u: dict[str, list[float]],
    lam: float,
) -> DataFrame:
    """Adds qrounded ``weight`` and posterior ``p_match`` columns."""
    w = weight_col(fields, level_weights(m, u))
    prior = math.log2(lam / (1.0 - lam))
    post = F.lit(1.0) / (F.lit(1.0) + F.pow(F.lit(2.0), -(w + F.lit(prior))))
    return gammas.withColumn("weight", qround(w, 6)).withColumn(
        "p_match", qround(post, 6)
    )


def fs_cluster(
    records: DataFrame,
    pairs: DataFrame,
    comparisons: dict[str, list[Column]],
    id_col: str = "doc_id",
    em_iters: int = 10,
    threshold_p: float = 0.9,
    u_sample: int = 200,
    seed: int = 42,
) -> dict:
    """The full Splink-style workflow in one call: candidate ``pairs``
    (from any blocking op — LSH banding, sorted-neighborhood) are
    joined to their feature rows, agreement gammas materialized, u
    initialized from deterministic random record pairs
    (:func:`estimate_u_probs`), (lambda, m, u) fitted by EM, pairs
    scored, and edges with posterior >= threshold_p resolved to
    clusters by distributed connected components (every record gets a
    cluster; matchless records are singletons).

    Returns {"clusters": DataFrame(id_col, cluster_id),
    "scored": DataFrame, "fit": em_fit result, "u0": initial u}."""
    from blink_spark.operators.connected_components import (
        assign_clusters,
        connected_components,
    )

    fa, fb = _sides(records, id_col)
    joined = pairs.select("id_a", "id_b").join(fa, "id_a").join(fb, "id_b")
    gammas = attach_gammas(joined, comparisons)
    # the double feature-join lineage has three consumers (EM, scoring,
    # the thresholded edge set fed to CC) — materialize it once
    gammas = spill_scratch(gammas, "fs_gammas_full")
    fields = list(comparisons)
    levels = {f: len(comparisons[f]) for f in fields}
    u0 = estimate_u_probs(records, comparisons, id_col, u_sample, seed)["u"]
    fit = em_fit(gammas, levels, iters=em_iters, init_u=u0, spilled=True)
    scored = score_pairs(gammas, fields, fit["m"], fit["u"], fit["lambda"])
    edges = scored.where(F.col("p_match") >= threshold_p).select("id_a", "id_b")
    comp = connected_components(edges)
    clusters = assign_clusters(records.select(id_col), comp, id_col)
    return {"clusters": clusters, "scored": scored, "fit": fit, "u0": u0}
