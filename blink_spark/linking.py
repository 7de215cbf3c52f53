"""Entity-linking mode: link a MENTION table against a CATALOGUE table.

The reference's primary product — link each mention to a known-entity
dictionary via retrieve (bi-encoder kNN) -> rerank (cross-encoder) ->
joint-graph partition -> one entity per cluster
(/root/reference/blink/main_dense.py:96-148, 234-257;
/root/reference/blink/biencoder/eval_cluster_linking.py:527-576 builds
the joint graph: one best-entity edge per mention plus k
mention-mention edges; :151-237 ``analyzeClusters`` reads each
cluster's single entity as the prediction for all its mentions).

Spark shape: the catalogue is unioned with the mentions and flows
through the SAME blocked/scored stages as self-dedup (one fused
signature pass, one blocked self-join, one scoring pass — entity rows
are just more rows); afterwards the scored pairs are split by endpoint
kind into mention->entity and mention->mention DIRECTED edges, pruned
to per-mention top-1 entity + top-k mentions (windows), and resolved
with the G4 entity-constrained partition. Transductive mode (G2,
eval_cluster_linking.py:578-589) pins labeled train mentions to their
gold entity with +inf edges before partitioning.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from blink_spark.io.scratch import spill_scratch
from blink_spark.io.tables import StageStore
from blink_spark.operators.linking import entity_constrained_partition
from blink_spark.pipeline import ERConfig, ERPipeline


@dataclass
class LinkResult:
    tables: dict[str, DataFrame] = field(default_factory=dict)
    metrics: dict[str, dict] = field(default_factory=dict)


def flag_entity_endpoints(scores: DataFrame, ent_ids: DataFrame) -> DataFrame:
    """Attach ent_a/ent_b booleans to scored pairs (id_a, id_b, score)
    given the entity id set (file_id). Broadcast joins — the catalogue
    id list is the small dimension side."""
    ea = ent_ids.select(F.col("file_id").alias("id_a")).withColumn(
        "ent_a", F.lit(True)
    )
    eb = ent_ids.select(F.col("file_id").alias("id_b")).withColumn(
        "ent_b", F.lit(True)
    )
    return (
        scores.join(F.broadcast(ea), "id_a", "left")
        .join(F.broadcast(eb), "id_b", "left")
        .select(
            "id_a",
            "id_b",
            "score",
            F.coalesce("ent_a", F.lit(False)).alias("ent_a"),
            F.coalesce("ent_b", F.lit(False)).alias("ent_b"),
        )
    )


def mention_predictions(
    part: DataFrame, men_ids: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(pred, clusters) from a partition: pred (file_id,
    pred_entity_id) has a row for every mention, NULL when it reached
    no entity; clusters (file_id, cluster_id) names each mention's
    cluster by its entity, or by the mention itself when unlinked."""
    pred = men_ids.join(
        part.where(~F.col("is_entity")).select(
            F.col("node_id").alias("file_id"),
            F.col("entity_id").alias("pred_entity_id"),
        ),
        "file_id",
        "left",
    )
    clusters = pred.select(
        "file_id",
        F.coalesce("pred_entity_id", F.col("file_id")).alias("cluster_id"),
    )
    return pred, clusters


class LinkPipeline:
    """Two-table retrieve -> rerank -> assign flow.

    cfg: the shared ER stage knobs (signature, blocking, threshold).
    mention_knn: mention-mention edges per mention in the joint graph
    (the reference's k ladder, eval_cluster_linking.py:403-406; 0 =
    entity edges only). max_component_edges / oversize: the G4 skew
    guards of entity_constrained_partition.
    """

    def __init__(
        self,
        cfg: ERConfig | None = None,
        mention_knn: int = 4,
        max_component_edges: int = 2_000_000,
        oversize: str = "distributed",
    ):
        self.cfg = cfg or ERConfig()
        self.mention_knn = mention_knn
        # G4 skew guards, passed through to entity_constrained_partition
        self.max_component_edges = max_component_edges
        self.oversize = oversize

    # ------------------------------------------------------------ stages
    def score_joint(
        self,
        mentions: DataFrame,
        catalogue: DataFrame,
        store: StageStore | None = None,
        resume: bool = True,
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """Run the shared blocked/scored stages over mentions UNION
        catalogue. Returns (scores, mention_ids, entity_ids) where
        scores has entity flags attached to both endpoints.

        The store is auto-namespaced under ``link``: the shared
        s0..s2 stage names would otherwise resume a SELF-DEDUP run's
        scored pairs (computed without catalogue rows) and link
        nothing — enforced here, not just documented."""
        if store is not None:
            store = store.sub("link")
        pipe = ERPipeline(self.cfg)
        files = mentions.unionByName(catalogue)
        er = pipe.run(files, store=store, resume=resume, until="score")
        scores = er.tables["s2_scores"].select("id_a", "id_b", "score")
        ent_ids = pipe.s0_normalize(catalogue).select("file_id").distinct()
        men_ids = pipe.s0_normalize(mentions).select("file_id").distinct()
        return flag_entity_endpoints(scores, ent_ids), men_ids, ent_ids

    def entity_candidates(self, flagged: DataFrame, k: int) -> DataFrame:
        """Per-mention top-k entity candidates (the retrieve stage's
        output; k=1 is the graph's best-entity edge, larger k the
        recall@k candidate set, reference recall_k,
        eval_cluster_linking.py:493-495).
        (mention_id, entity_id, score, rank)"""
        me = flagged.where(F.col("ent_a") != F.col("ent_b")).select(
            F.when(F.col("ent_a"), F.col("id_b")).otherwise(F.col("id_a")).alias("mention_id"),
            F.when(F.col("ent_a"), F.col("id_a")).otherwise(F.col("id_b")).alias("entity_id"),
            "score",
        )
        w = W.partitionBy("mention_id").orderBy(F.desc("score"), F.asc("entity_id"))
        return (
            me.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
        )

    def mention_edges(self, flagged: DataFrame, k: int | None = None) -> DataFrame:
        """Per-mention top-k DIRECTED mention->mention edges (each
        mention contributes k out-edges, like the reference's per-query
        kNN rows). (src, dst, score)"""
        k = self.mention_knn if k is None else k
        if k <= 0:
            return flagged.sparkSession.createDataFrame(
                [], "src long, dst long, score double"
            )
        mm = flagged.where(~F.col("ent_a") & ~F.col("ent_b"))
        both = mm.select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "score"
        ).unionByName(
            mm.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"), "score")
        )
        w = W.partitionBy("src").orderBy(F.desc("score"), F.asc("dst"))
        return (
            both.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .select("src", "dst", "score")
        )

    def joint_graph(
        self,
        flagged: DataFrame,
        mention_knn: int | None = None,
        train_labels: DataFrame | None = None,
    ) -> DataFrame:
        """Directed joint graph: per-mention best-entity edge + top-k
        mention edges (+ optional transductive +inf pins:
        (mention_id, entity_id) labels whose edges outrank everything,
        eval_cluster_linking.py:578-589)."""
        best_ent = (
            self.entity_candidates(flagged, k=1)
            .select(
                F.col("mention_id").alias("src"),
                F.col("entity_id").alias("dst"),
                "score",
            )
            .withColumn("src_is_entity", F.lit(False))
            .withColumn("dst_is_entity", F.lit(True))
        )
        mm = (
            self.mention_edges(flagged, mention_knn)
            .withColumn("src_is_entity", F.lit(False))
            .withColumn("dst_is_entity", F.lit(False))
        )
        graph = best_ent.unionByName(mm)
        if train_labels is not None:
            pins = train_labels.select(
                F.col("mention_id").alias("src"),
                F.col("entity_id").alias("dst"),
                F.lit(math.inf).alias("score"),
                F.lit(False).alias("src_is_entity"),
                F.lit(True).alias("dst_is_entity"),
            )
            graph = graph.unionByName(pins)
        return graph

    # --------------------------------------------------------------- run
    def run(
        self,
        mentions: DataFrame,
        catalogue: DataFrame,
        store: StageStore | None = None,
        resume: bool = True,
        train_labels: DataFrame | None = None,
        undirected: bool = False,
    ) -> LinkResult:
        """``undirected`` selects the reference's second graph_mode
        (crossencoder/eval_cluster_linking.py:232 sweeps
        ['directed', 'undirected']): each component is G3-filtered to
        its max spanning forest and symmetrized before the greedy.

        Sharing a root with a previous self-dedup run is safe:
        score_joint auto-namespaces every store it receives under
        ``link`` (pinned by test), so the dedup run's s0..s2 tables
        can never be resumed into a linking run. Outputs written here
        (``link_pred``) stay at the caller's root."""
        res = LinkResult()
        flagged, men_ids, ent_ids = self.score_joint(
            mentions, catalogue, store=store, resume=resume
        )
        graph = self.joint_graph(flagged, train_labels=train_labels)
        part = entity_constrained_partition(
            graph,
            undirected=undirected,
            max_component_edges=self.max_component_edges,
            oversize=self.oversize,
        )
        pred, clusters = mention_predictions(part, men_ids)
        res.tables = {
            "scores": flagged,
            "joint_graph": graph,
            "partition": part,
            "pred": pred,
            "clusters": clusters,
        }
        if store is not None:
            store.write(pred, "link_pred")
            store.write_metrics("link", {"mention_knn": self.mention_knn})
        return res


# ------------------------------------------------------- k-ladder (T6+A8)

def k_ladder(
    mentions: DataFrame,
    catalogue: DataFrame,
    gold: DataFrame,
    ks: tuple[int, ...] = (0, 1, 2, 4, 8),
    cfg: ERConfig | None = None,
    store: StageStore | None = None,
) -> tuple[DataFrame, dict]:
    """Sweep the mention-knn ladder (reference knn_vals,
    eval_cluster_linking.py:403-406), score each k's linking accuracy
    against gold (mention_id, entity_id), and argmax the best config
    (A8). The expensive shared stages run ONCE; only the graph +
    partition re-run per k. Returns (results_df, best) and writes the
    results table to the store when given."""
    from blink_spark.eval import linking_accuracy

    pipe = LinkPipeline(cfg)
    flagged, men_ids, _ = pipe.score_joint(mentions, catalogue, store=store)
    # every rung rebuilds its graph from the scores
    flagged = spill_scratch(flagged, "k_ladder_scores")
    rows = []
    for k in ks:
        graph = pipe.joint_graph(flagged, mention_knn=k)
        pred, _ = mention_predictions(entity_constrained_partition(graph), men_ids)
        acc = linking_accuracy(pred, gold)
        rows.append(
            {
                "k": k,
                "accuracy": acc["accuracy"],
                "n_linked": acc["n_linked"],
                "n_mentions": acc["n_mentions"],
            }
        )
    spark = mentions.sparkSession
    results = spark.createDataFrame(
        rows, "k int, accuracy double, n_linked long, n_mentions long"
    )
    best = max(rows, key=lambda r: (r["accuracy"], -r["k"]))
    if store is not None:
        store.write(results, "k_ladder_results")
        store.write_metrics("k_ladder_best", best)
    return results, best
