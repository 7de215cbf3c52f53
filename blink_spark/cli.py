"""spark-submit entry point.

    spark-submit --py-files blink_spark.zip -m ... blink_spark/cli.py \
        --input /path/files_table --output /path/out --stage all

Stage selection mirrors the reference's early-exit modes
(--only_recall / --only_embed_and_build,
/root/reference/blink/biencoder/eval_cluster_linking.py:602-614);
resume-from-checkpoint is the default (S4 analog).
"""

from __future__ import annotations

import argparse
import json
import sys

from blink_spark.corpus import generate_files
from blink_spark.eval import cluster_size_histogram, pairwise_metrics
from blink_spark.functions import text
from blink_spark.io.tables import StageStore
from blink_spark.pipeline import ERConfig, ERPipeline
from blink_spark.session import get_spark


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser("blink_spark")
    p.add_argument("--input", help="path of input files table (parquet/iceberg)")
    p.add_argument("--input-format", default="parquet")
    p.add_argument("--synthetic-entities", type=int, default=0,
                   help="generate a synthetic corpus instead of --input")
    p.add_argument("--hot-family", type=int, default=0)
    p.add_argument("--output", required=True, help="stage-table root")
    p.add_argument("--catalog-prefix", default=None,
                   help="Iceberg catalog table prefix (e.g. local.blink.run1); "
                        "stage tables bind to the catalog when the Iceberg "
                        "runtime is on the classpath, else parquet at --output")
    p.add_argument("--stage", default="all",
                   choices=["all", "block", "score", "cluster"])
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--cores", default=None)
    p.add_argument("--bands", type=int, default=32)
    p.add_argument("--rows-per-band", type=int, default=4)
    p.add_argument("--num-hashes", type=int, default=128)
    p.add_argument("--shingle-k", type=int, default=5)
    p.add_argument("--threshold", type=float, default=0.45)
    p.add_argument("--pair-budget", type=int, default=100_000)
    p.add_argument("--eval-gold", action="store_true",
                   help="synthetic corpus only: print pairwise P/R/F1")
    # ---- entity-linking mode (two-table: mentions vs catalogue) ----
    p.add_argument("--catalogue", default=None,
                   help="switch to LINKING mode: parquet table in the "
                        "5-col files shape, or a reference-style .jsonl "
                        "entity dictionary")
    p.add_argument("--synthetic-catalogue", action="store_true",
                   help="with --synthetic-entities: derive a canonical "
                        "per-entity catalogue from the generated corpus")
    p.add_argument("--mention-knn", type=int, default=4)
    p.add_argument("--graph-mode", default="directed",
                   choices=["directed", "undirected"])
    # ---- entity-discovery experiment (G9, eval_entity_discovery.py) ----
    p.add_argument("--discover-drop", type=float, default=None,
                   help="run the DISCOVERY experiment: drop this fraction "
                        "of catalogue entities (1.0 = drop all), re-attach "
                        "mentions to nearest survivors, sweep thresholds, "
                        "report NMI/ARI. Needs gold: --synthetic-catalogue "
                        "--eval-gold, or --gold")
    # ---- probabilistic (Fellegi-Sunter) dedup mode ----
    p.add_argument("--fs", action="store_true",
                   help="PROBABILISTIC mode: Fellegi-Sunter dedup on cheap "
                        "per-file features (size/token/simhash proximity "
                        "gammas, EM-fitted m/u, posterior-thresholded CC) — "
                        "the classical complement to the MinHash pipeline")
    p.add_argument("--fs-threshold", type=float, default=0.9,
                   help="posterior match probability cut (default 0.9)")
    p.add_argument("--gold", default=None,
                   help="parquet table (file_id, entity_id) of gold labels "
                        "for --discover-drop with a real catalogue")
    p.add_argument("--n-thresholds", type=int, default=5)
    return p


def _load_catalogue(spark, args, files):
    """Returns (mentions5, catalogue5, gold_or_None) — shared by the
    linking and discovery modes."""
    from pyspark.sql import functions as F

    from blink_spark.io.catalogue import catalogue_as_files, load_catalogue_jsonl

    gold = None
    if args.synthetic_catalogue:
        from blink_spark.corpus import synthetic_catalogue

        cat6 = synthetic_catalogue(files)
        catalogue = cat6.drop("entity_id")
        if args.eval_gold:
            fid = text.stable_file_id("repo", "path", "commit")
            ment_gold = files.select(fid.alias("file_id"), "entity_id")
            cat_ids = cat6.select(fid.alias("cat_fid"), "entity_id")
            gold = ment_gold.join(cat_ids, "entity_id").select(
                "file_id", F.col("cat_fid").alias("entity_id")
            )
    elif args.catalogue and args.catalogue.endswith(".jsonl"):
        catalogue = catalogue_as_files(load_catalogue_jsonl(spark, args.catalogue))
    else:
        catalogue = spark.read.format(args.input_format).load(args.catalogue)
    if gold is None and args.gold:
        gold = spark.read.format(args.input_format).load(args.gold)
    mentions = files.select("repo", "path", "commit", "lang", "content")
    return mentions, catalogue, gold


def run_discovery(spark, args, cfg, files, store) -> dict:
    """DISCOVERY mode (G9): drop entities -> re-attach to nearest
    survivor -> threshold sweep -> NMI/ARI argmax
    (eval_entity_discovery.py:224-370)."""
    from pyspark.sql import functions as F

    from blink_spark.discovery import entity_discovery

    mentions, catalogue, gold = _load_catalogue(spark, args, files)
    if gold is None:
        print("--discover-drop needs gold labels: use --synthetic-catalogue "
              "--eval-gold, or pass --gold", file=sys.stderr)
        raise SystemExit(2)
    frac = float(args.discover_drop)
    drop_all = frac >= 1.0
    dropped = None
    if not drop_all:
        # deterministic proportional drop: hash-bucket the catalogue ids
        # on a 2^20 grid so sub-percent fractions work (a 100-bucket
        # grid silently floored 0.125 to 12% and <0.01 to nothing)
        fid = text.stable_file_id("repo", "path", "commit")
        dropped = (
            catalogue.select(fid.alias("entity_id"))
            .where(
                F.pmod(F.xxhash64("entity_id", F.lit(7)), 2**20)
                < int(frac * 2**20)
            )
        )
    res = entity_discovery(
        mentions, catalogue, gold,
        dropped=dropped, drop_all=drop_all, cfg=cfg,
        mention_knn=args.mention_knn, n_thresholds=args.n_thresholds,
        undirected=args.graph_mode == "undirected", store=store,
    )
    return {
        "mode": "discover",
        "drop_fraction": frac,
        "drop_all": drop_all,
        "graph_mode": args.graph_mode,
        "best": res.best,
        "sweep": [r.asDict() for r in res.results.orderBy("threshold").collect()],
    }


def run_linking(spark, args, cfg, files, store) -> dict:
    """LINKING mode: retrieve -> rerank -> entity-constrained assign
    (the reference's primary product, main_dense.py / analyzeClusters)."""
    from pyspark.sql import functions as F

    from blink_spark.eval import linking_accuracy
    from blink_spark.linking import LinkPipeline

    mentions, catalogue, gold = _load_catalogue(spark, args, files)
    # linking gets its OWN stage-table namespace: the shared s0..s2
    # table names would otherwise resume a prior DEDUP run's scored
    # pairs (computed without the catalogue rows) and silently link
    # nothing — resume is existence+schema-based, not input-based.
    link_store = store.sub("link_stages")
    pipe = LinkPipeline(cfg, mention_knn=args.mention_knn)
    res = pipe.run(
        mentions,
        catalogue,
        store=link_store,
        resume=not args.no_resume,
        undirected=args.graph_mode == "undirected",
    )
    # LinkPipeline.run already wrote link_pred; read it back so the
    # counts below scan the parquet instead of re-running the CC + G4
    # partition (pred is otherwise a lazy plan executed once per job)
    pred = link_store.read("link_pred")
    counts = pred.agg(
        F.count(F.lit(1)).alias("n"), F.count("pred_entity_id").alias("linked")
    ).collect()[0]
    out = {
        "mode": "link",
        "graph_mode": args.graph_mode,
        "n_mentions": int(counts["n"]),
        "n_linked": int(counts["linked"]),
    }
    if gold is not None:
        out["linking"] = linking_accuracy(pred, gold)
    return out


def run_fs(spark, args, files) -> dict:
    """PROBABILISTIC mode: Fellegi-Sunter dedup (the Splink model) on
    cheap per-file features — sorted-neighborhood blocking on n_chars
    within lang, agreement gammas (relative-size, token-count and
    simhash-Hamming proximity), u from random record pairs, EM-fitted
    (lambda, m, u), posterior-thresholded edges resolved by CC. The
    classical complement to the MinHash content pipeline: high
    precision on near-identical clones without shingling the content;
    heavily-mutated variants stay the LSH pipeline's job."""
    from pyspark.sql import functions as F

    from blink_spark.eval import pairwise_metrics
    from blink_spark.functions.simhash import hamming, simhash_udf
    from blink_spark.operators import fellegi_sunter as fs
    from blink_spark.operators.pairs import sorted_neighborhood_pairs

    fid = text.stable_file_id("repo", "path", "commit")
    sh = simhash_udf()
    records = (
        files.select(
            fid.alias("file_id"),
            "lang",
            F.length("content").alias("n_chars"),
            F.size(F.split("content", r"\s+")).alias("n_toks"),
            sh(F.split("content", r"\s+")).alias("simhash"),
        )
    )
    pairs = sorted_neighborhood_pairs(
        records, "n_chars", id_col="file_id", window=6, by="lang"
    )
    res = fs.fs_cluster(
        records,
        pairs,
        {
            "size": [
                F.abs(F.col("n_chars_a") - F.col("n_chars_b"))
                <= F.greatest(F.col("n_chars_a"), F.col("n_chars_b")) * 0.03
            ],
            "toks": [F.abs(F.col("n_toks_a") - F.col("n_toks_b")) <= 4],
            "sim": [hamming(F.col("simhash_a"), F.col("simhash_b")) <= 12],
        },
        id_col="file_id",
        em_iters=15,
        threshold_p=args.fs_threshold,
    )
    clusters = res["clusters"]
    fit = res["fit"]
    out = {
        "mode": "fs",
        "fs_threshold": args.fs_threshold,
        "n_records": clusters.count(),
        "n_clusters": clusters.select("cluster_id").distinct().count(),
        # one-level comparisons: P(agree) is the top level's probability
        "em": {
            "lambda": fit["lambda"],
            "m": {f: p[-1] for f, p in fit["m"].items()},
            "u": {f: p[-1] for f, p in fit["u"].items()},
            "n_pairs": fit["n_pairs"],
        },
    }
    if args.eval_gold and args.synthetic_entities:
        gold = files.select(fid.alias("file_id"), "entity_id")
        out["pairwise"] = pairwise_metrics(clusters, gold)
    return out


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    spark = get_spark("blink_spark.cli", cores=args.cores)
    cfg = ERConfig(
        bands=args.bands,
        rows_per_band=args.rows_per_band,
        num_hashes=args.num_hashes,
        shingle_k=args.shingle_k,
        threshold=args.threshold,
        pair_budget=args.pair_budget,
    )
    if args.synthetic_entities:
        files = generate_files(
            spark, n_entities=args.synthetic_entities, hot_family_size=args.hot_family
        )
    elif args.input:
        files = spark.read.format(args.input_format).load(args.input)
    else:
        print("need --input or --synthetic-entities", file=sys.stderr)
        return 2

    store = StageStore.for_env(
        spark, args.output, catalog_table_prefix=args.catalog_prefix
    )
    if args.fs:
        print(json.dumps(run_fs(spark, args, files), default=str))
        return 0
    if args.discover_drop is not None:
        print(json.dumps(run_discovery(spark, args, cfg, files, store), default=str))
        return 0
    if args.catalogue or args.synthetic_catalogue:
        print(json.dumps(run_linking(spark, args, cfg, files, store), default=str))
        return 0
    pipe = ERPipeline(cfg)
    until = {"block": "block", "score": "score"}.get(args.stage)
    res = pipe.run(files, store=store, resume=not args.no_resume, until=until)

    out = {
        "master": spark.sparkContext.master,
        "stages": res.timings,
        "resumed": res.resumed,
        "cc": res.metrics.get("cc", {}),
    }
    if args.stage in ("all", "cluster"):
        hist = {
            int(r["size"]): int(r["n_clusters"])
            for r in cluster_size_histogram(res.tables["s3_clusters"]).collect()[:20]
        }
        out["cluster_size_histogram_head"] = hist
        if args.eval_gold and args.synthetic_entities:
            gold = files.select(
                text.stable_file_id("repo", "path", "commit").alias("file_id"),
                "entity_id",
            )
            out["pairwise"] = pairwise_metrics(res.tables["s3_clusters"], gold)
    print(json.dumps(out, default=str))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
