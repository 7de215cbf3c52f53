"""End-to-end entity-resolution pipeline (the flagship dataflow).

Mirrors the reference's flagship entry point
(/root/reference/blink/biencoder/eval_cluster_linking.py main():
tokenize -> embed+index -> kNN -> joint graph -> partition ->
connected components -> clusters -> metrics) as checkpointed Spark
stages:

  s0_normalized   id + sha256 invariant + tokens     (tokenize, X1 analog)
  s1_signatures   MinHash over content shingles      (embed, E1/E2 analog)
  s1_blocks       lang+LSH bands, salted hot blocks  (index+type partition, E6/E9)
  s2_pairs        blocked self-join                  (kNN retrieve, J1/J2)
  s2_scores       JW / Jaccard / TF-cosine blend     (cross-encoder rerank, E10)
  s2_edges        blended score >= threshold         (F6)
  s3_clusters     iterative connected components     (G6)

Every stage is a pure DataFrame -> DataFrame transform; ``run()``
orchestrates persistence through StageStore with resume-from-
checkpoint semantics (S4 analog) and writes lineage + metrics rows.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blink_spark.functions import text
from blink_spark.functions.minhash import content_signature_features_udf
from blink_spark.functions.similarity import presorted_pair_scores_udf
from blink_spark.io.scratch import make_parquet_checkpointer, spill_scratch
from blink_spark.io.tables import StageStore
from blink_spark.operators import blocking
from blink_spark.operators.connected_components import (
    CCStats,
    assign_clusters,
    connected_components,
)
from blink_spark.operators.pairs import attach_features, candidate_pairs

# the MinHash permutation seed, and the s2 blend weights of path
# Jaro-Winkler, token-set Jaccard and TF cosine
MINHASH_SEED = 42
W_JW, W_JACCARD, W_COSINE = 0.2, 0.4, 0.4


@dataclass
class ERConfig:
    # identity
    key_cols: tuple[str, ...] = ("repo", "path", "commit")
    lang_col: str = "lang"
    content_col: str = "content"
    path_col: str = "path"
    # stage 1 (recall knobs — the reference's nlist/nprobe analog)
    shingle_k: int = 5
    num_hashes: int = 128
    bands: int = 32
    rows_per_band: int = 4
    # caps any single block's pair count (~sqrt(2B) rows/block): the
    # worst-case join task is the pipeline's serial floor, so keep it
    # seconds-sized; recall across salt boundaries is preserved by the
    # other bands (independent salt cuts), the exact-sha block, and CC
    # transitivity
    pair_budget: int = 100_000
    # stage 2 (precision knob)
    threshold: float = 0.45


def signature_kernel(cfg: ERConfig, return_shingles: bool = False):
    """The fused stage-1 kernel for ``cfg`` (batch s1 and the
    streaming front end build it here)."""
    return content_signature_features_udf(
        cfg.num_hashes,
        MINHASH_SEED,
        shingle_k=cfg.shingle_k,
        bands=cfg.bands,
        rows_per_band=cfg.rows_per_band,
        return_shingles=return_shingles,
    )


@dataclass
class ERResult:
    tables: dict[str, DataFrame] = field(default_factory=dict)
    timings: dict[str, float] = field(default_factory=dict)
    metrics: dict[str, dict] = field(default_factory=dict)
    resumed: list[str] = field(default_factory=list)


class ERPipeline:
    def __init__(self, cfg: ERConfig | None = None):
        self.cfg = cfg or ERConfig()

    # ---------------------------------------------------------- stages
    def s0_normalize(self, files: DataFrame) -> DataFrame:
        c = self.cfg
        # no tokenization here: token arrays in the s0 checkpoint cost
        # GBs of string storage, and JVM regex tokenization does not
        # scale across task threads — all token work happens in s1's
        # fused Python kernel
        return files.select(
            text.stable_file_id(*c.key_cols).alias("file_id"),
            *[F.col(k) for k in c.key_cols if k != c.path_col],
            F.col(c.path_col),
            F.col(c.lang_col).alias("lang"),
            F.col(c.content_col).alias("content"),
            text.content_sha256(c.content_col).alias("sha256"),
        )

    def s1_signatures(self, s0: DataFrame) -> DataFrame:
        # ONE fused Arrow pass over content: tokenize (python re —
        # java regex does not scale across local task threads), hash,
        # numeric k-gram shingling, MinHash band keys, and the stage-2
        # scoring features (sorted unique hashes + counts + TF norm).
        # No token strings ever cross a shuffle.
        feat_udf = signature_kernel(self.cfg)
        return (
            s0.select(
                "file_id",
                "lang",
                F.col(self.cfg.path_col).alias("path"),
                "sha256",
                feat_udf(F.col("content"), F.col("lang")).alias("ft"),
            )
            .select(
                "file_id",
                "lang",
                "path",
                "sha256",
                F.col("ft.bands").alias("bands"),
                F.col("ft.tu").alias("tu"),
                F.col("ft.tc").alias("tc"),
                F.col("ft.tnorm").alias("tnorm"),
            )
        )

    def s1_blocks(self, s1: DataFrame) -> DataFrame:
        c = self.cfg
        # band keys were already computed (lang folded in) by the s1
        # kernel — blocking is a pure explode + numeric-key union here
        lsh = s1.select("file_id", F.explode("bands").alias("block_key"))
        exact = s1.select(
            F.xxhash64(F.lit("x"), F.col("lang"), F.col("sha256")).alias("block_key"),
            "file_id",
        )
        return blocking.salt_hot_blocks(
            lsh.unionByName(exact), "file_id", c.pair_budget
        )

    def s2_pairs(self, blocks: DataFrame) -> DataFrame:
        return candidate_pairs(blocks, "file_id")

    def s2_scores(self, pairs: DataFrame, s1: DataFrame) -> DataFrame:
        feat = attach_features(
            pairs, s1, "file_id", ["path", "sha256", "tu", "tc", "tnorm"]
        )
        # single fused numpy kernel (JW + jaccard + cosine) over
        # pre-aggregated per-file features: merge-intersect + dot per
        # pair, norms precomputed in s1, one worker chain per task
        sc = presorted_pair_scores_udf()(
            F.col("path_a"), F.col("path_b"),
            F.col("tu_a"), F.col("tc_a"), F.col("tnorm_a"),
            F.col("tu_b"), F.col("tc_b"), F.col("tnorm_b"),
        )
        exact = F.col("sha256_a") == F.col("sha256_b")
        scored = feat.select(
            "id_a",
            "id_b",
            sc.alias("sc"),
            exact.alias("is_exact"),
        ).select(
            "id_a",
            "id_b",
            F.col("sc.jw").alias("jw_path"),
            F.col("sc.jaccard").alias("jaccard"),
            F.col("sc.cosine").alias("cosine"),
            "is_exact",
        )
        blend = (
            F.lit(W_JW) * F.col("jw_path")
            + F.lit(W_JACCARD) * F.col("jaccard")
            + F.lit(W_COSINE) * F.col("cosine")
        )
        return scored.withColumn(
            "score", F.when(F.col("is_exact"), F.lit(1.0)).otherwise(blend)
        )

    def s2_edges(self, scores: DataFrame) -> DataFrame:
        """Every scored pair at or above the threshold. No per-node
        top-k cut: in a clone family any variant subgroup larger than k
        out-scores its bridge edges on BOTH endpoints and disconnects
        (measured: a 1000-file family's 166 license-header variants
        split off at k=20 AND k=60, recall 0.73). The reference avoids
        this with entity-constrained partitioning
        (special_partition.pyx:288-356), which is
        blink_spark.linking.LinkPipeline; in pure dedup the equivalent
        is threshold-only edges + CC."""
        return scores.where(F.col("score") >= self.cfg.threshold).select(
            "id_a", "id_b", "score"
        )

    def s3_clusters(
        self,
        edges: DataFrame,
        s0: DataFrame,
        stats: CCStats | None = None,
        checkpoint_fn=None,
    ) -> DataFrame:
        comp = connected_components(
            edges.select("id_a", "id_b"),
            stats=stats,
            checkpoint_fn=checkpoint_fn,
        )
        return assign_clusters(s0.select("file_id"), comp, "file_id")

    # ------------------------------------------------------------- run
    def run(
        self,
        files: DataFrame,
        store: StageStore | None = None,
        resume: bool = True,
        until: str | None = None,
    ) -> ERResult:
        """Run all stages. With a store, each stage persists to its
        table and an existing table short-circuits recompute (the
        reference's pickle-memoization contract). Without a store,
        stages form one lazy plan, except multi-consumer tables (s1
        signatures, s2 scores) which spill to scratch parquet —
        measured here, both localCheckpoint and the columnar cache burn
        far more CPU than a parquet round-trip for these shapes, and
        parquet is the same mechanism the durable store uses anyway."""
        res = ERResult()
        # columns each stage's consumers depend on: a store written by
        # an older layout short-circuits resume only if these exist,
        # otherwise the stage silently recomputes (schema-versioning
        # guard for resume-across-code-versions)
        required = {
            "s0_normalized": {"file_id", "sha256", "lang", "content"},
            "s1_signatures": {"file_id", "bands", "tu", "tc", "tnorm", "sha256"},
            "s1_blocks": {"block_key", "file_id"},
            "s2_pairs": {"id_a", "id_b"},
            "s2_scores": {"id_a", "id_b", "score"},
            "s2_edges": {"id_a", "id_b", "score"},
            "s3_clusters": {"file_id", "cluster_id"},
        }

        def _resumable(name: str) -> bool:
            if store is None or not resume or not store.exists(name):
                return False
            have = set(store.read(name).columns)
            return required.get(name, set()) <= have

        def stage(
            name: str, build, spill_no_store: bool = False
        ) -> DataFrame:
            t0 = time.time()
            if _resumable(name):
                df = store.read(name)
                res.resumed.append(name)
            else:
                df = build()
                if store is not None:
                    store.write(df, name)
                    lin = store.write_lineage(store.read(name), name)
                    store.write_metrics(name, {"elapsed_sec": time.time() - t0, **lin})
                    df = store.read(name)
                elif spill_no_store:
                    df = spill_scratch(df, name)
            res.tables[name] = df
            res.timings[name] = time.time() - t0
            return df

        s0 = stage("s0_normalized", lambda: self.s0_normalize(files))
        s1 = stage("s1_signatures", lambda: self.s1_signatures(s0), True)
        blocks = stage("s1_blocks", lambda: self.s1_blocks(s1))
        if until == "block":
            return res
        pairs = stage("s2_pairs", lambda: self.s2_pairs(blocks))
        scores = stage("s2_scores", lambda: self.s2_scores(pairs, s1), True)
        # not spilled: CC is its only consumer and checkpoints its own copy
        edges = stage("s2_edges", lambda: self.s2_edges(scores))
        if until == "score":
            return res
        cc_stats = CCStats()
        # a path store keeps CC's rounds beside its tables; otherwise
        # (no store, or a catalog-table store) they go to session scratch
        cc_ckpt = make_parquet_checkpointer(
            store.fs_scratch_path("_cc_scratch") if store is not None else None
        )
        clusters = stage(
            "s3_clusters", lambda: self.s3_clusters(edges, s0, cc_stats, cc_ckpt)
        )
        if cc_stats.iterations and store is not None:
            store.write_metrics("s3_cc", {"iterations": cc_stats.iterations})
        res.metrics["cc"] = {"iterations": cc_stats.iterations}
        res.tables["clusters"] = clusters
        return res
