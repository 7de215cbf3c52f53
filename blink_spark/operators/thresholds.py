"""A7/A8 — similarity-threshold selection, KMeans-style, plus the
threshold-sweep argmax harness.

The reference picks clustering thresholds by fitting a 1-D KMeans over
all edge weights and using the sorted cluster centers (with 0
prepended) as the candidate ladder, then sweeping the ladder and
keeping the argmax config
(/root/reference/blink/crossencoder/eval_cluster_linking.py:211-215,
233-235 — ``KMeans(n_clusters=n_thresholds, random_state=17)``,
``np.sort(np.concatenate(([0], ...cluster_centers_...)))``; sweep +
best-config at :215-231).

Spark shape: edge scores are first reduced to a WEIGHTED HISTOGRAM of
rounded values (one distributed groupBy — at 100 TB the histogram of
6-decimal scores in [0,1] is at most ~1e6 rows, a driver-safe
reduction), then the 1-D k-means is solved EXACTLY on the driver with
the standard O(k·n²) prefix-sum dynamic program. Exact DP beats the
reference's Lloyd iterations on two counts that matter here:
determinism at any parallelism (no init sensitivity, no random_state)
and a globally optimal objective. For the oracle-checkable distributed
variant, ``exact_2means_split`` expresses the k=2 case entirely in
window functions over exact DECIMAL prefix sums, so a SQL engine can
reproduce it bit-for-bit.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from blink_spark.functions.rounding import qround, qround_py
from blink_spark.io.scratch import spill_scratch

# ------------------------------------------------------------------ DP

def kmeans1d(values: np.ndarray, weights: np.ndarray, k: int) -> np.ndarray:
    """Exact weighted 1-D k-means: globally minimal within-cluster SSE
    partition of sorted ``values`` (with multiplicities ``weights``)
    into ``k`` contiguous segments; returns the segment means (the
    cluster centers), ascending. O(k·n²) prefix-sum DP — n is the
    number of DISTINCT values, already histogram-reduced."""
    order = np.argsort(values, kind="stable")
    v = np.asarray(values, dtype=np.float64)[order]
    w = np.asarray(weights, dtype=np.float64)[order]
    n = len(v)
    if n == 0:
        return np.array([])
    k = min(k, n)
    # prefix sums over the weighted histogram
    cw = np.concatenate(([0.0], np.cumsum(w)))
    cs = np.concatenate(([0.0], np.cumsum(w * v)))
    cq = np.concatenate(([0.0], np.cumsum(w * v * v)))

    def seg_sse(i: np.ndarray, j: int) -> np.ndarray:
        """SSE of values[i..j] for a VECTOR of segment starts i."""
        ww = cw[j + 1] - cw[i]
        ss = cs[j + 1] - cs[i]
        qq = cq[j + 1] - cq[i]
        return np.maximum(qq - ss * ss / ww, 0.0)

    INF = float("inf")
    # dp[m][j] = min SSE splitting v[0..j] into m+1 clusters; the
    # candidate scan over i is numpy-vectorized, so the DP is O(k·n²)
    # FLOPs, not O(k·n²) Python iterations — n <= 8·10^3 distinct
    # histogram values (threshold_candidates' cap) runs in seconds.
    dp = np.full((k, n), INF)
    back = np.zeros((k, n), dtype=np.int64)
    dp[0] = np.maximum(
        (cq[1:] - cq[0]) - (cs[1:] - cs[0]) ** 2 / (cw[1:] - cw[0]), 0.0
    )
    for m in range(1, k):
        for j in range(m, n):
            i = np.arange(m, j + 1)
            cost = dp[m - 1][i - 1] + seg_sse(i, j)
            bi = int(np.argmin(cost))  # argmin keeps the SMALLEST i on ties
            dp[m][j] = cost[bi]
            back[m][j] = m + bi
    # walk back segment boundaries
    centers = []
    j = n - 1
    for m in range(k - 1, -1, -1):
        i = int(back[m][j]) if m > 0 else 0
        ww = cw[j + 1] - cw[i]
        centers.append((cs[j + 1] - cs[i]) / ww)
        j = i - 1
    return np.array(sorted(centers))


def threshold_candidates(
    df: DataFrame, col: str = "score", k: int = 10, ndigits: int = 6
) -> list[float]:
    """The reference's candidate-threshold ladder: [0] + sorted 1-D
    k-means centers of all edge scores (eval_cluster_linking.py:211-215).
    One distributed histogram groupBy; exact DP on the driver."""
    hist = (
        df.select(qround(F.col(col), ndigits).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("w"))
        .collect()
    )
    if not hist:
        return [0.0]
    values = np.array([r["v"] for r in hist])
    weights = np.array([float(r["w"]) for r in hist])
    if len(values) > 8_000:  # keep the O(k·n²) vectorized DP to seconds
        coarse = max(2, ndigits - 2)
        if coarse < ndigits:
            return threshold_candidates(df, col, k, ndigits=coarse)
        # can't round coarser (wide-range values, e.g. spread over
        # 1e6 at 2 decimals): fold the tail into the 8k heaviest bins
        # instead of recursing forever on the same histogram
        keep = np.argsort(-weights, kind="stable")[:8_000]
        values, weights = values[keep], weights[keep]
    centers = kmeans1d(values, weights, k)
    return [0.0] + [qround_py(float(c), ndigits) for c in centers]


# -------------------------------------------- SQL-twin exact 2-means

def exact_2means_split(
    df: DataFrame, col: str, by: str | None = None, ndigits: int = 6
) -> DataFrame:
    """Distributed, ORACLE-CHECKABLE exact 1-D 2-means: for each group
    (``by`` column, or one global group) find the split of the rounded
    value set minimizing within-class SSE, entirely in window
    functions. Returns one row per group:
    (by?, split_at, mean_lo, mean_hi, threshold).

    Exact-math discipline: values are rounded with qround then cast to
    DECIMAL(18,6); prefix counts/sums are DECIMAL (exact in both Spark
    and DuckDB); the objective max Σ s²/n (equivalent to min SSE after
    dropping the constant Σw·v²) is evaluated in DOUBLE from those
    exact decimal sums cast to double — the identical IEEE op sequence
    on identical inputs in either engine."""
    gcols = [by] if by else []
    v = qround(F.col(col), ndigits).cast("decimal(18,6)").alias("v")
    # NULLs out: Spark windows order NULLS FIRST, DuckDB NULLS LAST —
    # a NULL value would shift the prefix sums differently per engine.
    hist = (
        df.where(F.col(col).isNotNull())
        .select(*gcols, v)
        .groupBy(*gcols, "v")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    wo = W.partitionBy(*gcols).orderBy("v")
    wg = W.partitionBy(*gcols)
    d = (
        hist.withColumn("cum_w", F.sum("w").over(wo))
        .withColumn("cum_s", F.sum(F.col("v") * F.col("w")).over(wo))
        .withColumn("tot_w", F.sum("w").over(wg))
        .withColumn("tot_s", F.sum(F.col("v") * F.col("w")).over(wg))
        .where(F.col("cum_w") < F.col("tot_w"))  # split AFTER v, right side non-empty
    )
    sl = F.col("cum_s").cast("double")
    nl = F.col("cum_w").cast("double")
    sr = (F.col("tot_s") - F.col("cum_s")).cast("double")
    nr = (F.col("tot_w") - F.col("cum_w")).cast("double")
    obj = sl * sl / nl + sr * sr / nr
    mean_lo = sl / nl
    mean_hi = sr / nr
    ranked = d.select(
        *gcols,
        F.col("v").cast("double").alias("split_at"),
        qround(mean_lo, ndigits).alias("mean_lo"),
        qround(mean_hi, ndigits).alias("mean_hi"),
        qround((mean_lo + mean_hi) / F.lit(2.0), ndigits).alias("threshold"),
        obj.alias("obj"),
    ).withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy(*gcols).orderBy(F.desc("obj"), F.asc("split_at"))
        ),
    )
    return ranked.where(F.col("rk") == 1).drop("obj", "rk")


def exact_2means_split_sql(
    table: str, col: str, by: str | None = None, ndigits: int = 6
) -> str:
    """DuckDB twin of :func:`exact_2means_split` — same windows, same
    DECIMAL prefix sums, same double objective."""
    scale = float(10**ndigits)
    g = f"{by}, " if by else ""
    gb = f"GROUP BY {by}, v" if by else "GROUP BY v"
    part = f"PARTITION BY {by} " if by else ""
    qr = lambda e: f"(floor(({e}) * {scale} + 0.5) / {scale})"
    return f"""
WITH hist AS (
  SELECT {g}CAST({qr(col)} AS DECIMAL(18,6)) AS v, count(*) AS w
  FROM {table} WHERE {col} IS NOT NULL {gb}
), d AS (
  SELECT {g}v,
         sum(w) OVER ({part}ORDER BY v) AS cum_w,
         sum(v * w) OVER ({part}ORDER BY v) AS cum_s,
         sum(w) OVER ({part}) AS tot_w,
         sum(v * w) OVER ({part}) AS tot_s
  FROM hist
), s AS (
  SELECT {g}CAST(v AS DOUBLE) AS split_at,
         CAST(cum_s AS DOUBLE) AS sl, CAST(cum_w AS DOUBLE) AS nl,
         CAST(tot_s - cum_s AS DOUBLE) AS sr, CAST(tot_w - cum_w AS DOUBLE) AS nr
  FROM d WHERE cum_w < tot_w
), ranked AS (
  SELECT {g}split_at,
         {qr('sl / nl')} AS mean_lo,
         {qr('sr / nr')} AS mean_hi,
         {qr('(sl / nl + sr / nr) / 2.0')} AS threshold,
         row_number() OVER ({part}ORDER BY sl * sl / nl + sr * sr / nr DESC,
                            split_at ASC) AS rk
  FROM s
)
SELECT {g}split_at, mean_lo, mean_hi, threshold FROM ranked WHERE rk = 1
"""


# ------------------------------------------------- sweep argmax (A8)

@dataclass
class ThresholdSweepResult:
    results: DataFrame
    best: dict


def threshold_ladder(
    edges: DataFrame,
    gold: DataFrame,
    thresholds: list[float] | None = None,
    n_thresholds: int = 10,
    store=None,
) -> ThresholdSweepResult:
    """A8 over the A7 ladder: for each candidate threshold cluster the
    edge graph (edges >= t -> connected components) and score pairwise
    F1 against gold (file_id, entity_id); keep the argmax
    (eval_cluster_linking.py:215-231's best_result/best_config loop).
    The expensive part — scoring — happened upstream; each rung is one
    CC over a shrinking edge set."""
    from blink_spark.eval import pairwise_metrics
    from blink_spark.operators.connected_components import (
        assign_clusters,
        connected_components,
    )

    spark = edges.sparkSession
    if thresholds is None:
        thresholds = threshold_candidates(edges, "score", k=n_thresholds)
    # every rung filters the same edges
    edges = spill_scratch(edges, "threshold_ladder_edges")
    nodes = gold.select("file_id").distinct()
    rows = []
    for t in thresholds:
        kept = edges.where(F.col("score") >= F.lit(float(t))).select("id_a", "id_b")
        cc = connected_components(kept)
        clusters = assign_clusters(nodes, cc, id_col="file_id")
        m = pairwise_metrics(clusters, gold)
        rows.append({"threshold": float(t), **{k: float(m[k]) for k in ("precision", "recall", "f1")}})
    results = spark.createDataFrame(
        rows, "threshold double, precision double, recall double, f1 double"
    )
    # Reference best-config loop: `if thresh != 0 and result > best`
    # (crossencoder/eval_cluster_linking.py:228) — threshold 0 is
    # excluded and a strict `>` over the ascending sweep keeps the
    # FIRST maximum, i.e. ties go to the SMALLER threshold.
    nonzero = [r for r in rows if r["threshold"] != 0.0]
    best = max(nonzero or rows, key=lambda r: (r["f1"], -r["threshold"]))
    if store is not None:
        store.write(results, "threshold_ladder_results")
        store.write_metrics("threshold_ladder_best", best)
    return ThresholdSweepResult(results=results, best=best)
