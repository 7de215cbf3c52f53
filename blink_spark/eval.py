"""Clustering evaluation — the reference's metric suite, join-native.

The reference evaluates with linking accuracy / recall@k / NMI+ARI
(/root/reference/blink/biencoder/eval_cluster_linking.py:151-237,
488-541; eval_entity_discovery.py:96-139). Our primary gate is
pairwise precision/recall/F1 (BASELINE.json: F1 >= 0.99 on labeled
same-block pairs), computed two ways:

  * combinatorially from (cluster, entity) co-occurrence counts — no
    pair materialization, scales to any corpus;
  * restricted to an explicit labeled-pair table (the north rule's
    "labeled pairs sharing a blocking key").

One kernel builds the (cluster, entity) contingency: `_contingency`,
a single GROUPING SETS aggregate that emits the non-empty cells, the
cluster marginals and the entity marginals in one shuffle. Every
clustering metric is a fold of its rows:

  * pairwise P/R/F1 — tp / pred / gold are Σ C(x, 2) over cells /
    cluster marginals / entity marginals;
  * ARI — the same three sums doubled (idx2 / sa2 / sb2), finished as
    exact integers;
  * NMI — Σ x·ln x over the same three row kinds;
  * B³ — per-cell o²/|marginal| terms, the marginals attached to each
    cell by windows over the same rows.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

# grouping_id of a contingency row: bit = 1 when the column is
# aggregated away
CELL, A_MARGIN, B_MARGIN = 0, 1, 2


def _contingency(
    labels: DataFrame, a_col: str = "cluster_id", b_col: str = "entity_id"
) -> DataFrame:
    """The one (a, b) contingency aggregate: (a_col, b_col, n, gid)
    rows, gid CELL for a non-empty (a, b) cell, A_MARGIN for an a
    marginal (b_col NULL), B_MARGIN for a b marginal (a_col NULL).
    GROUPING SETS computes all three in a single shuffle; a NULL label
    stays a group of its own, as in a plain groupBy."""
    return labels.groupingSets([[a_col, b_col], [a_col], [b_col]], a_col, b_col).agg(
        F.count(F.lit(1)).alias("n"), F.grouping_id().alias("gid")
    )


def _fold(gid: int, expr: Column, zero: float | int = 0) -> Column:
    """SUM of ``expr`` over one row kind of the contingency; ``zero``
    when there is none."""
    return F.coalesce(F.sum(F.when(F.col("gid") == gid, expr)), F.lit(zero))


def _n_choose_2(col):
    return (col * (col - 1) / 2).cast("double")


def pairwise_metrics(clusters: DataFrame, gold: DataFrame, id_col: str = "file_id") -> dict:
    """Pairwise P/R/F1 from co-occurrence counts (scalable: never
    materializes pairs). clusters: (id, cluster_id); gold: (id, entity_id).
    One fold of the contingency: tp / pred / gold pairs are Σ C(n, 2)
    over its cells / cluster marginals / entity marginals."""
    c2 = _n_choose_2(F.col("n"))
    row = _contingency(clusters.join(gold, id_col)).agg(
        _fold(CELL, c2, 0.0).alias("tp"),
        _fold(A_MARGIN, c2, 0.0).alias("pred"),
        _fold(B_MARGIN, c2, 0.0).alias("gold"),
    ).collect()[0]
    tp, pred, gold_pairs = row["tp"], row["pred"], row["gold"]
    precision = tp / pred if pred else 1.0
    recall = tp / gold_pairs if gold_pairs else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "tp_pairs": tp,
        "pred_pairs": pred,
        "gold_pairs": gold_pairs,
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }


def labeled_pair_metrics(
    pairs: DataFrame, clusters: DataFrame, gold: DataFrame, id_col: str = "file_id"
) -> dict:
    """P/R/F1 restricted to candidate pairs (id_a, id_b) — the north
    rule's 'labeled pairs sharing a blocking key'. Mirrors the
    reference's per-mention success/failure rows
    (/root/reference/blink/biencoder/eval_cluster_linking.py:214-228)."""
    ca = clusters.select(F.col(id_col).alias("id_a"), F.col("cluster_id").alias("c_a"))
    cb = clusters.select(F.col(id_col).alias("id_b"), F.col("cluster_id").alias("c_b"))
    ga = gold.select(F.col(id_col).alias("id_a"), F.col("entity_id").alias("e_a"))
    gb = gold.select(F.col(id_col).alias("id_b"), F.col("entity_id").alias("e_b"))
    lab = (
        pairs.join(ca, "id_a").join(cb, "id_b").join(ga, "id_a").join(gb, "id_b")
        .select(
            (F.col("c_a") == F.col("c_b")).cast("int").alias("pred"),
            (F.col("e_a") == F.col("e_b")).cast("int").alias("gold"),
        )
    )
    agg = lab.agg(
        F.sum(F.col("pred") * F.col("gold")).alias("tp"),
        F.sum("pred").alias("pp"),
        F.sum("gold").alias("gp"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    tp, pp, gp = (int(agg["tp"] or 0), int(agg["pp"] or 0), int(agg["gp"] or 0))
    precision = tp / pp if pp else 1.0
    recall = tp / gp if gp else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "n_labeled_pairs": int(agg["n"]),
        "tp": tp,
        "pred_pos": pp,
        "gold_pos": gp,
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }


def linking_accuracy(
    pred: DataFrame, gold: DataFrame, id_col: str = "file_id"
) -> dict:
    """A4: fraction of mentions whose predicted entity equals gold.
    pred: (id, pred_entity_id — NULL = unlinked); gold: (id,
    entity_id). Mirrors the reference's analyzeClusters accuracy
    (/root/reference/blink/biencoder/eval_cluster_linking.py:151-237:
    every mention in a cluster is predicted as the cluster's single
    entity; unlinked counts as wrong). One aggregation job."""
    j = pred.join(gold.select(F.col(id_col), "entity_id"), id_col)
    row = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("pred_entity_id").isNotNull().cast("long")).alias("linked"),
        F.sum(
            (F.col("pred_entity_id") == F.col("entity_id")).cast("long")
        ).alias("correct"),
    ).collect()[0]
    n = int(row["n"] or 0)
    correct = int(row["correct"] or 0)
    return {
        "n_mentions": n,
        "n_linked": int(row["linked"] or 0),
        "n_correct": correct,
        "accuracy": (correct / n) if n else 1.0,
    }


def nmi_ari_py(labels_a: list, labels_b: list) -> tuple[float, float]:
    """Pure-Python/numpy NMI (arithmetic normalization, the sklearn
    default the reference calls in eval_entity_discovery.py:96-139)
    and ARI from two label lists — the test oracle for nmi_ari."""
    from collections import Counter

    import numpy as np

    assert len(labels_a) == len(labels_b)
    n = float(len(labels_a))
    if n == 0:
        return 1.0, 1.0
    cells = Counter(zip(labels_a, labels_b))
    ca, cb = Counter(labels_a), Counter(labels_b)
    if len(ca) == 1 and len(cb) == 1:
        return 1.0, 1.0
    vec = lambda xs: np.asarray(list(xs), dtype=np.float64)
    nij = vec(cells.values())
    ai_of_cell = vec(ca[x] for x, _ in cells)
    bj_of_cell = vec(cb[y] for _, y in cells)
    a, b = vec(ca.values()), vec(cb.values())
    mi = float(
        ((nij / n) * np.log((nij * n) / (ai_of_cell * bj_of_cell))).sum()
    )
    h_a = float(-((a / n) * np.log(a / n)).sum())
    h_b = float(-((b / n) * np.log(b / n)).sum())
    denom = (h_a + h_b) / 2.0
    nmi = (mi / denom) if denom > 0 else 0.0
    c2 = lambda v: (v * (v - 1) / 2.0).sum()
    idx = float(c2(nij))
    sa, sb = float(c2(a)), float(c2(b))
    expected = sa * sb / (n * (n - 1) / 2.0)
    maximum = (sa + sb) / 2.0
    ari = 1.0 if maximum == expected else (idx - expected) / (maximum - expected)
    return nmi, ari


def _xlnx_micro(col):
    """floor(x·ln(x)·1e6 + 0.5) as BIGINT — the quantized entropy term.

    ln itself is the one primitive libm implementations may disagree on
    (by ≤1 ulp), so each x·ln(x) is snapped to a 1e-6 grid PER TERM and
    summed as exact integers: the sum is then order-free (bit-identical
    at any parallelism) and reproducible by a SQL engine as long as the
    per-integer quantization agrees — pinned for the relevant argument
    range by tests/test_eval_nmi.py::test_xlnx_micro_cross_engine.
    Quantization error ≤ 0.5e-6 per term, so NMI is exact to ~1e-6·
    cells/(n·H) — negligible for metric sweeps."""
    x = col.cast("double")
    return F.floor(x * F.log(x) * F.lit(1e6) + F.lit(0.5)).cast("long")


def _xlnx_exact(col):
    """x·ln(x) on a 1e-18 grid, summed as DECIMAL(38,18): order-free
    like `_xlnx_micro`, and fine enough for a float NMI."""
    x = col.cast("double")
    return (x * F.log(x)).cast("decimal(38,18)")


def _nmi_ari_sums(labels: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """ONE row of order-free sums folded from the contingency:

      * n, and the doubled pair counts idx2 / sa2 / sb2 = Σ x·(x−1)
        over cells / a-marginals / b-marginals (BIGINT);
      * the entropy sums Σ x·ln x over the same row kinds and n·ln n,
        1e-6-quantized BIGINTs (s_cells_u, s_a_u, s_b_u, n_ln_n_u) and
        DECIMAL(38,18) (s_cells, s_a, s_b, n_ln_n).

    The same JVM expression computes every x·ln x, so a trivial side
    (one marginal, equal to n) cancels n·ln n exactly."""
    n = F.col("n")
    pairs2 = lambda gid: _fold(gid, n * (n - F.lit(1))).cast("long")
    micro = lambda gid: _fold(gid, _xlnx_micro(n)).cast("long")
    exact = lambda gid: _fold(gid, _xlnx_exact(n))
    whole = lambda f: F.when(n > 0, f(n))
    return (
        _contingency(labels, a_col, b_col)
        .agg(
            _fold(CELL, n).cast("long").alias("n"),
            pairs2(CELL).alias("idx2"),
            pairs2(A_MARGIN).alias("sa2"),
            pairs2(B_MARGIN).alias("sb2"),
            micro(CELL).alias("s_cells_u"),
            micro(A_MARGIN).alias("s_a_u"),
            micro(B_MARGIN).alias("s_b_u"),
            exact(CELL).alias("s_cells"),
            exact(A_MARGIN).alias("s_a"),
            exact(B_MARGIN).alias("s_b"),
        )
        .withColumn(
            "n_ln_n_u", F.coalesce(whole(_xlnx_micro), F.lit(0)).cast("long")
        )
        .withColumn("n_ln_n", whole(_xlnx_exact))
    )


def nmi_ari_components(
    labels: DataFrame, a_col: str = "cluster_id", b_col: str = "entity_id"
) -> DataFrame:
    """A5 NMI **and** ARI in one pass — fully distributed, ONE row out:
    the BIGINT components of `_nmi_ari_sums` plus NMI and ARI, each one
    IEEE divide of exact integers, so both are bit-identical at any
    parallelism and reproducible by a SQL oracle:

      * ARI = ari_num / ari_den with N2 = n·(n−1),
        ari_num = 2·(idx2·N2 − sa2·sb2),
        ari_den = (sa2 + sb2)·N2 − 2·sa2·sb2;
      * NMI from the quantized entropy sums, using MI·n = Σ nij·ln nij
        + n·ln n − Σ ai·ln ai − Σ bj·ln bj and H_a·n = n·ln n − Σ ai·ln ai:
        NMI = 2·MI/(H_a+H_b) = 2·mi_u / (2·n_ln_n_u − s_a_u − s_b_u).

    Reference computes both via sklearn on driver-resident label arrays
    (eval_entity_discovery.py:96-139); conventions matched: both-trivial
    partitions → NMI=1 (denominator 0), ari_den=0 → ARI=1."""
    from blink_spark.functions.rounding import qround

    mi_u = F.col("s_cells_u") + F.col("n_ln_n_u") - F.col("s_a_u") - F.col("s_b_u")
    den_u = F.lit(2) * F.col("n_ln_n_u") - F.col("s_a_u") - F.col("s_b_u")
    nmi = F.when(
        den_u > 0,
        F.least(
            F.lit(1.0),
            F.greatest(
                F.lit(0.0),
                qround(
                    (F.lit(2) * mi_u).cast("double") / den_u.cast("double")
                ),
            ),
        ),
    ).otherwise(F.lit(1.0))
    # the four-way products reach ~2*n^4 — int64 wraps past n ~ 46k;
    # DECIMAL(38,0) keeps them exact to n ~ 2.6e9, past which Spark
    # yields NULL (nmi_ari finishes the same components in Python ints)
    d = lambda c: c.cast("decimal(38,0)")
    n2 = d(F.col("n")) * d(F.col("n") - F.lit(1))
    ari_num = d(F.lit(2)) * (d(F.col("idx2")) * n2 - d(F.col("sa2")) * d(F.col("sb2")))
    ari_den = (
        (d(F.col("sa2")) + d(F.col("sb2"))) * n2
        - d(F.lit(2)) * d(F.col("sa2")) * d(F.col("sb2"))
    )
    # NULL (DECIMAL overflow) must propagate, not fall through to the
    # otherwise(1.0) branch: `ari_den != 0` on NULL is NULL, which
    # F.when treats as false — without the explicit check an overflowed
    # denominator would silently report ARI=1.0
    ari = (
        F.when(
            ari_num.isNull() | ari_den.isNull(), F.lit(None).cast("double")
        )
        .when(
            ari_den != 0, qround(ari_num.cast("double") / ari_den.cast("double"))
        )
        .otherwise(F.lit(1.0))
    )
    return _nmi_ari_sums(labels, a_col, b_col).select(
        "n",
        "idx2",
        "sa2",
        "sb2",
        "s_cells_u",
        "s_a_u",
        "s_b_u",
        "n_ln_n_u",
        nmi.alias("nmi"),
        ari.alias("ari"),
    )


def nmi_ari(clusters: DataFrame, gold: DataFrame, id_col: str = "file_id") -> dict:
    """A5: NMI + ARI between predicted clusters and gold entities
    (reference: sklearn calls in eval_entity_discovery.py:96-139 over
    driver-resident label arrays). Spark folds the contingency into the
    one row of `_nmi_ari_sums`; the driver finishes it exactly — ARI in
    Python ints at any n, NMI from the DECIMAL entropy sums as
    fractions — so only the final division rounds."""
    j = clusters.join(gold.select(F.col(id_col), "entity_id"), id_col)
    r = _nmi_ari_sums(j, "cluster_id", "entity_id").collect()[0]
    n = int(r["n"])
    if n == 0:
        return {"nmi": 1.0, "ari": 1.0, "n": 0}
    idx2, sa2, sb2 = int(r["idx2"]), int(r["sa2"]), int(r["sb2"])
    n2 = n * (n - 1)
    ari_den = (sa2 + sb2) * n2 - 2 * sa2 * sb2
    ari = 2 * (idx2 * n2 - sa2 * sb2) / ari_den if ari_den else 1.0
    s_cells, s_a, s_b, n_ln_n = (
        Fraction(r[c]) for c in ("s_cells", "s_a", "s_b", "n_ln_n")
    )
    den = 2 * n_ln_n - s_a - s_b
    mi2 = 2 * (s_cells + n_ln_n - s_a - s_b)
    nmi = min(1.0, max(0.0, float(mi2 / den))) if den > 0 else 1.0
    return {"nmi": nmi, "ari": ari, "n": n}


def bcubed(
    labels: DataFrame, a_col: str = "cluster_id", b_col: str = "entity_id"
) -> DataFrame:
    """B³ precision / recall / F1 (Bagga & Baldwin 1998; the extrinsic
    clustering metric Amigó et al. 2009 recommend over pairwise) —
    fully distributed, one row out.

    Per item i: precision_i = |pred(i) ∩ gold(i)| / |pred(i)|, so the
    corpus mean collapses to sums over the SPARSE contingency cells:
    precision = (1/N)·Σ_cells o²/|pred cluster| and recall =
    (1/N)·Σ_cells o²/|gold class|. Two windows over the contingency's
    cells attach each cell's marginals (one pass over the labels, where
    joining the marginal rows back would re-scan them per side); a
    cell with a NULL label then drops out, as an inner join would drop
    it. The per-cell terms are summed through DECIMAL(38,12) —
    order-free, so the metric is bit-identical at any parallelism and
    reproducible by a SQL oracle (each term is one IEEE divide of exact
    integers)."""
    from blink_spark.functions.rounding import qround

    cells = _contingency(labels, a_col, b_col).where(F.col("gid") == CELL)
    j = cells.select(
        F.col("n").alias("o"),
        F.sum("n").over(W.partitionBy(a_col)).alias("na"),
        F.sum("n").over(W.partitionBy(b_col)).alias("nb"),
        a_col,
        b_col,
    ).where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
    agg = j.agg(
        F.sum(
            ((F.col("o") * F.col("o")) / F.col("na")).cast("decimal(38,12)")
        ).alias("sp"),
        F.sum(
            ((F.col("o") * F.col("o")) / F.col("nb")).cast("decimal(38,12)")
        ).alias("sr"),
        F.sum("o").alias("n"),
    )
    p = F.col("sp").cast("double") / F.col("n")
    r = F.col("sr").cast("double") / F.col("n")
    f1 = F.lit(2.0) * p * r / (p + r)
    return agg.select(
        F.when(F.col("n") > 0, qround(p, 6)).otherwise(F.lit(1.0)).alias(
            "precision"
        ),
        F.when(F.col("n") > 0, qround(r, 6)).otherwise(F.lit(1.0)).alias(
            "recall"
        ),
        F.when(F.col("n") > 0, qround(f1, 6)).otherwise(F.lit(1.0)).alias("f1"),
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
    )


def cluster_size_histogram(clusters: DataFrame) -> DataFrame:
    """Component-size distribution (reference's size>=2 filter + counts,
    eval_cluster_linking.py:139-146)."""
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("size"))
        .groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("size")
    )
