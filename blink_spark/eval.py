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
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _n_choose_2(col):
    return (col * (col - 1) / 2).cast("double")


def pairwise_metrics(clusters: DataFrame, gold: DataFrame, id_col: str = "file_id") -> dict:
    """Pairwise P/R/F1 from co-occurrence counts (scalable: never
    materializes pairs). clusters: (id, cluster_id); gold: (id, entity_id).

    ONE job: GROUPING SETS computes the (cluster, entity) /
    (cluster) / (entity) counts in a single shuffle, and one final agg
    folds them into tp / pred / gold (was three separate collect()s
    re-running the same join)."""
    j = clusters.join(gold, id_col)
    counts = j.groupingSets(
        [["cluster_id", "entity_id"], ["cluster_id"], ["entity_id"]],
        "cluster_id",
        "entity_id",
    ).agg(F.count(F.lit(1)).alias("n"), F.grouping_id().alias("gid"))
    # grouping_id bit = 1 when the column is aggregated away:
    # 0 -> (cluster, entity); 1 -> (cluster); 2 -> (entity)
    row = counts.agg(
        F.coalesce(
            F.sum(F.when(F.col("gid") == 0, _n_choose_2(F.col("n")))), F.lit(0.0)
        ).alias("tp"),
        F.coalesce(
            F.sum(F.when(F.col("gid") == 1, _n_choose_2(F.col("n")))), F.lit(0.0)
        ).alias("pred"),
        F.coalesce(
            F.sum(F.when(F.col("gid") == 2, _n_choose_2(F.col("n")))), F.lit(0.0)
        ).alias("gold"),
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
    and ARI from two label lists — the oracle for nmi_ari and the
    kernel it shares."""
    import numpy as np

    assert len(labels_a) == len(labels_b)
    n = len(labels_a)
    if n == 0:
        return 1.0, 1.0
    pairs: dict[tuple, int] = {}
    ca: dict = {}
    cb: dict = {}
    for x, y in zip(labels_a, labels_b):
        pairs[(x, y)] = pairs.get((x, y), 0) + 1
        ca[x] = ca.get(x, 0) + 1
        cb[y] = cb.get(y, 0) + 1
    return _nmi_ari_from_contingency(
        np.asarray(list(pairs.values()), dtype=np.float64),
        np.asarray([ca[x] for x, _ in pairs], dtype=np.float64),
        np.asarray([cb[y] for _, y in pairs], dtype=np.float64),
        np.asarray(list(ca.values()), dtype=np.float64),
        np.asarray(list(cb.values()), dtype=np.float64),
        float(n),
    )


def _nmi_ari_from_contingency(nij, ai_of_cell, bj_of_cell, a, b, n):
    """NMI + ARI from sparse contingency cells. nij: count per
    non-empty (cluster, entity) cell; ai_of_cell/bj_of_cell: the
    marginals aligned per cell; a/b: the marginal vectors."""
    import numpy as np

    if len(a) == 1 and len(b) == 1:
        return 1.0, 1.0
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


def nmi_ari(clusters: DataFrame, gold: DataFrame, id_col: str = "file_id") -> dict:
    """A5: NMI + ARI between predicted clusters and gold entities
    (reference: sklearn calls in eval_entity_discovery.py:96-139 over
    driver-resident label arrays). Here only the SPARSE contingency
    (non-empty (cluster, entity) cells + marginals) is collected —
    bounded by the number of co-occurrence cells, not rows."""
    import numpy as np

    j = clusters.join(gold.select(F.col(id_col), "entity_id"), id_col)
    cells = (
        j.groupBy("cluster_id", "entity_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    if not cells:
        return {"nmi": 1.0, "ari": 1.0, "n": 0}
    a: dict = {}
    b: dict = {}
    for r in cells:
        a[r["cluster_id"]] = a.get(r["cluster_id"], 0) + r["n"]
        b[r["entity_id"]] = b.get(r["entity_id"], 0) + r["n"]
    n = float(sum(a.values()))
    nij = np.asarray([r["n"] for r in cells], dtype=np.float64)
    ai = np.asarray([a[r["cluster_id"]] for r in cells], dtype=np.float64)
    bj = np.asarray([b[r["entity_id"]] for r in cells], dtype=np.float64)
    av = np.asarray(list(a.values()), dtype=np.float64)
    bv = np.asarray(list(b.values()), dtype=np.float64)
    nmi, ari = _nmi_ari_from_contingency(nij, ai, bj, av, bv, n)
    return {"nmi": nmi, "ari": ari, "n": int(n)}


def bcubed(
    labels: DataFrame, a_col: str = "cluster_id", b_col: str = "entity_id"
) -> DataFrame:
    """B³ precision / recall / F1 (Bagga & Baldwin 1998; the extrinsic
    clustering metric Amigó et al. 2009 recommend over pairwise) —
    fully distributed, one row out.

    Per item i: precision_i = |pred(i) ∩ gold(i)| / |pred(i)|, so the
    corpus mean collapses to sums over the SPARSE contingency cells:
    precision = (1/N)·Σ_cells o²/|pred cluster| and recall =
    (1/N)·Σ_cells o²/|gold class|. One groupBy builds the cells, two
    marginal joins attach the cluster/class sizes, and the per-cell
    terms are summed through DECIMAL(38,12) — order-free, so the
    metric is bit-identical at any parallelism and reproducible by a
    SQL oracle (each term is one IEEE divide of exact integers)."""
    from blink_spark.functions.rounding import qround

    cells = labels.groupBy(a_col, b_col).agg(F.count(F.lit(1)).alias("o"))
    # three consumers (both marginals + the join) would each re-scan
    # the corpus to rebuild the cells — materialize the sparse
    # contingency once (bounded by co-occurrence cells, not rows)
    from blink_spark.io.scratch import spill_scratch

    cells, _ = spill_scratch(cells, "bcubed_cells")
    na = cells.groupBy(a_col).agg(F.sum("o").alias("na"))
    nb = cells.groupBy(b_col).agg(F.sum("o").alias("nb"))
    j = cells.join(na, a_col).join(nb, b_col)
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


def _xlnx_micro(col):
    """floor(x·ln(x)·1e6 + 0.5) as BIGINT — the quantized entropy term.

    ln itself is the one primitive libm implementations may disagree on
    (by ≤1 ulp), so each x·ln(x) is snapped to a 1e-6 grid PER TERM and
    summed as exact integers: the sum is then order-free (bit-identical
    at any parallelism) and reproducible by a SQL engine as long as the
    per-integer quantization agrees — pinned for the relevant argument
    range by tests/test_linking.py::test_xlnx_micro_cross_engine.
    Quantization error ≤ 0.5e-6 per term, so NMI is exact to ~1e-6·
    cells/(n·H) — negligible for metric sweeps."""
    x = col.cast("double")
    return F.floor(x * F.log(x) * F.lit(1e6) + F.lit(0.5)).cast("long")


def nmi_ari_components(
    labels: DataFrame, a_col: str = "cluster_id", b_col: str = "entity_id"
) -> DataFrame:
    """A5 scale path for NMI **and** ARI in one pass — fully
    distributed, ONE row out, no driver-side contingency collect
    (contrast `nmi_ari`, whose O(cells)≈O(n) collect per call made the
    G9 threshold sweep a driver bottleneck at singleton-heavy rungs).

    Shape mirrors `bcubed`/`ari_components`: one groupBy builds the
    sparse contingency (spilled once — three consumers), the marginal
    aggregates fold it, and every sum is exact-integer:

      * ARI: the doubled pair counts idx2/sa2/sb2 (see ari_components);
      * NMI: entropy sums in 1e-6-quantized micro-units via `_xlnx_micro`
        using MI·n = Σ nij·ln nij + n·ln n − Σ ai·ln ai − Σ bj·ln bj and
        H_a·n = n·ln n − Σ ai·ln ai, so
        NMI = 2·MI/(H_a+H_b) = 2·mi_u / (2·n_ln_n_u − s_a_u − s_b_u)
        — one IEEE divide of exact BIGINTs, bit-identical everywhere.

    Reference computes both via sklearn on driver-resident label arrays
    (eval_entity_discovery.py:96-139); conventions matched: both-trivial
    partitions → NMI=1 (denominator 0), ari_den=0 → ARI=1."""
    from blink_spark.functions.rounding import qround
    from blink_spark.io.scratch import spill_scratch

    cells = labels.groupBy(a_col, b_col).agg(F.count(F.lit(1)).alias("nij"))
    cells, _ = spill_scratch(cells, "nmi_ari_cells")
    comb2 = lambda c: F.coalesce(
        F.sum(F.col(c) * (F.col(c) - F.lit(1))), F.lit(0)
    ).cast("long")
    micro_sum = lambda c: F.coalesce(F.sum(_xlnx_micro(F.col(c))), F.lit(0)).cast(
        "long"
    )
    tot = cells.agg(
        F.coalesce(F.sum("nij"), F.lit(0)).cast("long").alias("n"),
        comb2("nij").alias("idx2"),
        micro_sum("nij").alias("s_cells_u"),
    )
    am = (
        cells.groupBy(a_col).agg(F.sum("nij").alias("ai"))
        .agg(comb2("ai").alias("sa2"), micro_sum("ai").alias("s_a_u"))
    )
    bm = (
        cells.groupBy(b_col).agg(F.sum("nij").alias("bj"))
        .agg(comb2("bj").alias("sb2"), micro_sum("bj").alias("s_b_u"))
    )
    one = tot.crossJoin(am).crossJoin(bm).withColumn(
        "n_ln_n_u",
        F.when(F.col("n") > 0, _xlnx_micro(F.col("n"))).otherwise(F.lit(0)).cast(
            "long"
        ),
    )
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
    # the four-way products reach ~2*n^4 — int64 wraps silently past
    # n ~ 46k (the overflow ari_components documents); DECIMAL(38,0)
    # keeps them exact to n ~ 2.6e9, past which Spark yields NULL and
    # nmi_ari_distributed refuses loudly rather than reporting garbage
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
    # denominator would silently report ARI=1.0 instead of letting
    # nmi_ari_distributed refuse loudly
    ari = (
        F.when(
            ari_num.isNull() | ari_den.isNull(), F.lit(None).cast("double")
        )
        .when(
            ari_den != 0, qround(ari_num.cast("double") / ari_den.cast("double"))
        )
        .otherwise(F.lit(1.0))
    )
    return one.select(
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


def nmi_ari_distributed(
    clusters: DataFrame, gold: DataFrame, id_col: str = "file_id"
) -> dict:
    """`nmi_ari` with the contingency kept IN Spark: joins gold, runs
    `nmi_ari_components`, collects one row. The G9 sweep path
    (discovery.entity_discovery) uses this; the driver-side `nmi_ari`
    stays for small eval sets and as the pytest cross-check."""
    j = clusters.join(gold.select(F.col(id_col), "entity_id"), id_col)
    row = nmi_ari_components(j.select("cluster_id", "entity_id")).collect()[0]
    if row["ari"] is None:
        raise ValueError(
            f"nmi_ari_distributed: ARI products exceeded DECIMAL(38,0) at "
            f"n={row['n']} (~2.6e9 ceiling) — consume ari_components() and "
            "finish the two products driver-side in Python bignums"
        )
    return {"nmi": float(row["nmi"]), "ari": float(row["ari"]), "n": int(row["n"])}


def ari_components(
    labels: DataFrame, a_col: str = "cluster_id", b_col: str = "entity_id"
) -> DataFrame:
    """A5 scale path: Adjusted-Rand-Index pair-counting components as
    EXACT integers, fully distributed — no driver-side contingency
    collect (contrast `nmi_ari`, which collects the sparse cells; the
    reference computes ARI via sklearn on driver-resident arrays,
    eval_entity_discovery.py:96-139).

    Emits ONE row: (n, idx2, sa2, sb2, ari_num, ari_den) where
    idx2/sa2/sb2 are DOUBLED pair counts (sum x*(x-1) over contingency
    cells / a-marginals / b-marginals) so no intermediate ever divides,
    and ARI = ari_num / ari_den with N2 = n*(n-1):

        ari_num = 2*(idx2*N2 - sa2*sb2)
        ari_den = (sa2 + sb2)*N2 - 2*sa2*sb2

    (both partitions trivial => ari_den = 0, ARI defined as 1.0).
    Every value is integer arithmetic, so the result is bit-identical
    across engines and parallelism levels. int64-exact while
    2*N2^2 < 2^63, i.e. n <= ~46k in the worst case (one giant
    cluster); past that, consume the components (exact to n ~ 3e9)
    and finish the two products driver-side in Python bignums.
    """
    cells = labels.groupBy(a_col, b_col).agg(F.count(F.lit(1)).alias("nij"))
    comb2 = lambda c: F.sum(F.col(c) * (F.col(c) - F.lit(1)))
    tot = cells.agg(
        F.sum("nij").alias("n"), comb2("nij").alias("idx2")
    )
    am = (
        cells.groupBy(a_col).agg(F.sum("nij").alias("ai"))
        .agg(comb2("ai").alias("sa2"))
    )
    bm = (
        cells.groupBy(b_col).agg(F.sum("nij").alias("bj"))
        .agg(comb2("bj").alias("sb2"))
    )
    n2 = F.col("n") * (F.col("n") - F.lit(1))
    num = F.lit(2) * (F.col("idx2") * n2 - F.col("sa2") * F.col("sb2"))
    den = (F.col("sa2") + F.col("sb2")) * n2 - F.lit(2) * F.col("sa2") * F.col("sb2")
    return (
        tot.crossJoin(am).crossJoin(bm)  # three single-row frames
        .select(
            "n", "idx2", "sa2", "sb2",
            num.alias("ari_num"), den.alias("ari_den"),
        )
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
