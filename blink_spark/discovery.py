"""G9 — the reference's entity-DISCOVERY experiment: drop (some or
all) catalogue entities, re-attach affected mentions to their nearest
SURVIVING entity, sweep clustering thresholds, and score NMI/ARI
against gold
(/root/reference/blink/biencoder/eval_entity_discovery.py:224-308
drop + re-attachment, :322-370 threshold sweep + best-config argmax,
:96-139 the NMI/ARI 'average' metric).

Spark shape: the shared blocked/scored stages run ONCE (they already
contain every mention->surviving-entity candidate score, so the
reference's "fetch an extra kNN entity from the filtered FAISS index"
re-attachment step is just the best-entity window over the scored
pairs AFTER an F7 anti-join removes dropped-entity endpoints). The
joint graph is built once and each sweep rung filters it by threshold
(the reference's F6 filter inside cluster_linking_partition) before
the G4 partition. drop_all mode skips entities entirely: the
mention-mention graph is thresholded and clustered with connected
components — pure discovery.

Best-config discipline matches the reference loop: threshold 0 is
excluded and the FIRST maximum wins
(eval_entity_discovery.py:361-364, `thresh != 0 and ... > best`).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blink_spark.eval import nmi_ari
from blink_spark.io.scratch import spill_scratch
from blink_spark.io.tables import StageStore
from blink_spark.linking import LinkPipeline, mention_predictions
from blink_spark.operators.connected_components import (
    assign_clusters,
    connected_components,
)
from blink_spark.operators.linking import entity_constrained_partition
from blink_spark.operators.thresholds import threshold_candidates
from blink_spark.pipeline import ERConfig


@dataclass
class DiscoveryResult:
    results: DataFrame
    best: dict
    tables: dict[str, DataFrame] = field(default_factory=dict)


def exclude_entities(flagged: DataFrame, dropped: DataFrame) -> DataFrame:
    """F7 node-exclusion filter (special_partition.pyx:373-375,
    exclude= in partition_graph): drop scored pairs incident to a
    dropped entity id on either endpoint. dropped: (entity_id)."""
    da = dropped.select(F.col("entity_id").alias("id_a"))
    db = dropped.select(F.col("entity_id").alias("id_b"))
    return flagged.join(da, "id_a", "left_anti").join(db, "id_b", "left_anti")


def entity_discovery(
    mentions: DataFrame,
    catalogue: DataFrame,
    gold: DataFrame,
    dropped: DataFrame | None = None,
    drop_all: bool = False,
    cfg: ERConfig | None = None,
    mention_knn: int = 4,
    thresholds: list[float] | None = None,
    n_thresholds: int = 10,
    undirected: bool = False,
    store: StageStore | None = None,
) -> DiscoveryResult:
    """Run the discovery experiment. gold: (file_id, entity_id) at
    mention granularity (full gold — the reference scores NMI/ARI over
    all mentions, including those whose gold entity was dropped).

    dropped: (entity_id) table of catalogue file_ids to drop (ignored
    when drop_all=True). Returns the sweep results table
    (threshold, nmi, ari, average), the best config, and the best
    rung's cluster assignment."""
    if not drop_all and dropped is None:
        raise ValueError("entity_discovery needs dropped= or drop_all=True")
    pipe = LinkPipeline(cfg, mention_knn=mention_knn)
    flagged, men_ids, _ = pipe.score_joint(mentions, catalogue, store=store)
    spark = mentions.sparkSession
    # either branch's table feeds threshold_candidates and every rung
    if drop_all:
        # eval_entity_discovery.py:336-349: strip every edge touching
        # an entity; cluster the mention graph by threshold + CC
        table = spill_scratch(
            flagged.where(~F.col("ent_a") & ~F.col("ent_b")).select(
                "id_a", "id_b", "score"
            ),
            "discovery_mm",
        )

        def clusters_at(kept: DataFrame) -> DataFrame:
            cc = connected_components(kept.select("id_a", "id_b"))
            return assign_clusters(men_ids, cc, id_col="file_id")

    else:
        # re-attachment is implicit: joint_graph's best-entity window
        # over the SURVIVING scored pairs is the reference's
        # nearest-surviving-entity fetch (:246-308)
        surv = exclude_entities(flagged, dropped)
        table = spill_scratch(pipe.joint_graph(surv), "discovery_graph")

        def clusters_at(kept: DataFrame) -> DataFrame:
            part = entity_constrained_partition(kept, undirected=undirected)
            return mention_predictions(part, men_ids)[1]

    if thresholds is None:
        thresholds = threshold_candidates(table, "score", k=n_thresholds)
    rows: list[dict] = []
    clusters_by_t: dict[float, DataFrame] = {}
    for t in thresholds:
        clusters = clusters_at(table.where(F.col("score") >= F.lit(float(t))))
        m = nmi_ari(clusters, gold)
        rows.append(
            {
                "threshold": float(t),
                "nmi": m["nmi"],
                "ari": m["ari"],
                "average": (m["nmi"] + m["ari"]) / 2.0,
            }
        )
        clusters_by_t[float(t)] = clusters
    results = spark.createDataFrame(
        rows, "threshold double, nmi double, ari double, average double"
    )
    nonzero = [r for r in rows if r["threshold"] != 0.0]
    best = max(nonzero or rows, key=lambda r: (r["average"], -r["threshold"]))
    res = DiscoveryResult(
        results=results,
        best=best,
        tables={"clusters": clusters_by_t[best["threshold"]]},
    )
    if store is not None:
        store.write(results, "discovery_results")
        store.write_metrics("discovery_best", best)
    return res
