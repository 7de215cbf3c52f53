"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship ER pipeline end-to-end on sf0.001.
``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 plus the training-data curation suite (dedup / ANN /
text analysis / multimodal); ``oracle_sql()`` carries the DuckDB twin
for every SQL-expressible one. Column names and float rounding match
on both sides so the driver's order-insensitive value-hash agrees.

Non-SQL-expressible entries (iterative CC internals aside — the CC
*result* is oracled via a chain graph; siphash MinHash-LSH; IVF/LSH
ANN; mapInPandas feature extraction) intentionally omit the oracle:
the driver records the weaker rows-only check for those.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from blink_spark.functions.rounding import qround, qround_py, qround_sql

from blink_spark.functions import text as btext
from blink_spark.functions import textstats as ts
from blink_spark.functions import simhash as sh
from blink_spark.functions.minhash import (
    parity_band_key_expr,
    parity_band_key_sql,
    parity_minhash_expr,
    parity_minhash_sql,
)
from blink_spark.functions.similarity import (
    jaro_winkler_udf,
    tf_cosine_udf,
    token_set_jaccard,
)
from blink_spark.functions import pii
from blink_spark.operators import ann, curation, dedup, multimodal
from blink_spark.operators.connected_components import assign_clusters, connected_components
from blink_spark.operators.pairs import top_k_per_node
from blink_spark.pipeline import ERConfig, ERPipeline

# DuckDB-side token/shingle builders over the documents view
_TOKS = ts.tokens_sql("text")
_N_PARITY_HASHES = 16
_PARITY_BANDS, _PARITY_ROWS = 4, 4


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# =================================================================== entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full blocking -> pair-scoring -> CC pipeline over the
    sf0.001 documents table mapped onto the (repo, path, commit, lang,
    content) input shape; returns (file_id, cluster_id, sha256)."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    files = docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.substring(F.sha2(F.col("text"), 256), 1, 12).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
    )
    pipe = ERPipeline(ERConfig(bands=16, rows_per_band=4, num_hashes=64, shingle_k=3))
    res = pipe.run(files)
    s0 = res.tables["s0_normalized"].select("file_id", "sha256")
    return res.tables["s3_clusters"].join(s0, "file_id")


# ================================================================= ER core

def _er_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = ts.token_stats("text")
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        btext.content_sha256("text").alias("sha256"),
        ts.norm_sha256("text").alias("norm_sha256"),
        stats["n_word_tokens"].alias("n_word_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
    )


_ER_NORMALIZE_SQL = f"""
SELECT doc_id,
       sha256(text) AS sha256,
       {ts.norm_sha256_sql('text')} AS norm_sha256,
       {ts.token_stats_sql('text')['n_word_tokens']} AS n_word_tokens,
       length(text)::BIGINT AS n_chars_measured
FROM documents
"""


def _er_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dup_groups(_t(spark, sf_dir, "documents"))


_ER_EXACT_DUP_SQL = f"""
WITH k AS (
  SELECT doc_id, {ts.norm_sha256_sql('text')} AS norm_sha FROM documents
), g AS (
  SELECT norm_sha, min(doc_id) AS dup_group, count(*)::BIGINT AS group_size
  FROM k GROUP BY norm_sha
)
SELECT k.doc_id, g.dup_group, g.group_size FROM k JOIN g USING (norm_sha)
"""


def _dedup_keep_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11-adjacent curation op: collapse exact-dup groups to one
    surviving representative per cluster (min doc_id — deterministic),
    the keep-side of a production dedup job."""
    groups = dedup.exact_dup_groups(_t(spark, sf_dir, "documents"))
    clusters = groups.select("doc_id", F.col("dup_group").alias("cluster_id"))
    return dedup.keep_representatives(clusters, id_col="doc_id")


_DEDUP_KEEP_REPS_SQL = f"""
WITH k AS (
  SELECT doc_id, {ts.norm_sha256_sql('text')} AS norm_sha FROM documents
)
SELECT min(doc_id) AS doc_id, min(doc_id) AS cluster_id
FROM k GROUP BY norm_sha
"""


def _er_chain_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed connected components on per-lang doc-id chains —
    worst-case-diameter graphs; the oracle knows each lang collapses
    to one component labeled by its min doc_id."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    nxt = F.lead("doc_id").over(W.partitionBy("lang").orderBy("doc_id"))
    edges = (
        docs.select(F.col("doc_id").alias("id_a"), nxt.alias("id_b"))
        .where(F.col("id_b").isNotNull())
    )
    comp = connected_components(edges)
    return assign_clusters(docs.select("doc_id"), comp, "doc_id")


_ER_CHAIN_CC_SQL = """
SELECT doc_id, min(doc_id) OVER (PARTITION BY lang) AS cluster_id
FROM documents
"""


def _er_parity_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = parity_minhash_expr("tokens", _N_PARITY_HASHES)
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", btext.tokenize("text").alias("tokens"))
        .select("doc_id", F.expr(f"concat_ws('-', {sig})").alias("sig_str"))
    )


_ER_PARITY_MINHASH_SQL = f"""
SELECT doc_id,
       array_to_string({parity_minhash_sql(_TOKS, _N_PARITY_HASHES)}, '-') AS sig_str
FROM documents
"""


def _er_lsh_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs sharing >=1 MinHash band within lang — the LSH
    banding step itself, oracle-checked end-to-end."""
    sig = parity_minhash_expr("tokens", _N_PARITY_HASHES)
    s = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "lang", btext.tokenize("text").alias("tokens"))
        .select("doc_id", "lang", F.expr(sig).alias("sig"))
    )
    keyed = None
    for b in range(_PARITY_BANDS):
        kb = s.select(
            "lang",
            F.lit(b).alias("band"),
            F.expr(parity_band_key_expr("sig", b, _PARITY_ROWS)).alias("bkey"),
            "doc_id",
        )
        keyed = kb if keyed is None else keyed.unionByName(kb)
    a = keyed.select("lang", "band", "bkey", F.col("doc_id").alias("id_a"))
    b_ = keyed.select("lang", "band", "bkey", F.col("doc_id").alias("id_b"))
    return (
        a.join(b_, ["lang", "band", "bkey"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def _er_lsh_band_pairs_sql() -> str:
    band_selects = " UNION ALL ".join(
        f"SELECT lang, {b} AS band, "
        f"{parity_band_key_sql('sig', b, _PARITY_ROWS)} AS bkey, doc_id FROM s"
        for b in range(_PARITY_BANDS)
    )
    return f"""
WITH s AS (
  SELECT doc_id, lang, {parity_minhash_sql(_TOKS, _N_PARITY_HASHES)} AS sig
  FROM documents
), k AS ({band_selects})
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM k a JOIN k b ON a.lang = b.lang AND a.band = b.band AND a.bkey = b.bkey
WHERE a.doc_id < b.doc_id
"""


def _scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-2 rerank analog: all pairs within a (lang, source) block
    scored with the three kernels + blend."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source",
        F.substring("text", 1, 40).alias("head"),
        btext.tokenize("text").alias("tokens"),
    )
    a = docs.select(
        "lang", "source", F.col("doc_id").alias("id_a"),
        F.col("head").alias("head_a"), F.col("tokens").alias("toks_a"),
    )
    b = docs.select(
        "lang", "source", F.col("doc_id").alias("id_b"),
        F.col("head").alias("head_b"), F.col("tokens").alias("toks_b"),
    )
    jw = qround(jaro_winkler_udf()(F.col("head_a"), F.col("head_b")), 6)
    jac = qround(token_set_jaccard(F.col("toks_a"), F.col("toks_b")), 6)
    # Counter-kernel cosine: exact-integer math => bit-identical to the
    # Column-expression and DuckDB variants, ~40x faster per pair
    cos = qround(tf_cosine_udf()(F.col("toks_a"), F.col("toks_b")), 6)
    return (
        a.join(b, ["lang", "source"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            jw.alias("jw"), jac.alias("jaccard"), cos.alias("cosine"),
        )
        .withColumn(
            "score",
            qround(
                F.lit(0.2) * F.col("jw")
                + F.lit(0.4) * F.col("jaccard")
                + F.lit(0.4) * F.col("cosine"),
                6,
            ),
        )
    )


def _tf_cosine_sql(ta: str, tb: str) -> str:
    def tf(arr: str) -> str:
        return f"len(list_filter({arr}, x -> x = t))::DOUBLE"

    dot = (
        f"coalesce(list_sum(list_transform("
        f"list_intersect(list_distinct({ta}), list_distinct({tb})), "
        f"t -> {tf(ta)} * {tf(tb)})), 0.0)"
    )
    na = (
        f"sqrt(coalesce(list_sum(list_transform(list_distinct({ta}), "
        f"t -> pow({tf(ta)}, 2))), 0.0))"
    )
    nb = (
        f"sqrt(coalesce(list_sum(list_transform(list_distinct({tb}), "
        f"t -> pow({tf(tb)}, 2))), 0.0))"
    )
    return (
        f"CASE WHEN {na} = 0 OR {nb} = 0 THEN 0.0 "
        f"ELSE {dot} / ({na} * {nb}) END"
    )


def _jaccard_sql(ta: str, tb: str) -> str:
    return (
        f"CASE WHEN len(list_distinct(list_concat({ta}, {tb}))) = 0 THEN 1.0 "
        f"ELSE len(list_intersect({ta}, {tb}))::DOUBLE "
        f"/ len(list_distinct(list_concat({ta}, {tb}))) END"
    )


_SCORED_PAIRS_SQL = f"""
WITH d AS (
  SELECT doc_id, lang, source, substr(text, 1, 40) AS head, {_TOKS} AS toks
  FROM documents
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         (floor((jaro_winkler_similarity(a.head, b.head)) * 1000000.0 + 0.5) / 1000000.0) AS jw,
         (floor(({_jaccard_sql('a.toks', 'b.toks')}) * 1000000.0 + 0.5) / 1000000.0) AS jaccard,
         (floor(({_tf_cosine_sql('a.toks', 'b.toks')}) * 1000000.0 + 0.5) / 1000000.0) AS cosine
  FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, jw, jaccard, cosine,
       (floor((0.2 * jw + 0.4 * jaccard + 0.4 * cosine) * 1000000.0 + 0.5) / 1000000.0) AS score
FROM p
"""


def _er_topk_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node top-3 edges over the scored pair graph (T1/T2 window)."""
    edges = _scored_pairs(spark, sf_dir).select("id_a", "id_b", "score")
    return top_k_per_node(edges, 3)


_ER_TOPK_EDGES_SQL = f"""
WITH p AS ({_SCORED_PAIRS_SQL}),
bidir AS (
  SELECT id_a AS qid, id_b AS nid, score FROM p
  UNION ALL
  SELECT id_b AS qid, id_a AS nid, score FROM p
), ranked AS (
  SELECT qid, nid, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS rk
  FROM bidir
)
SELECT DISTINCT least(qid, nid) AS id_a, greatest(qid, nid) AS id_b, score
FROM ranked WHERE rk <= 3
"""


# =========================================================== entity linking
#
# Two-table mode (the reference's primary product, main_dense.py:
# 96-148): documents with doc_id % 7 == 0 play the entity CATALOGUE
# (7 is coprime with the source cycle, so every block holds entities),
# the rest are mentions. Retrieval blocks on (lang, source); scoring
# is the same three-kernel blend as er_pair_scores.

def _link_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source",
        F.substring("text", 1, 40).alias("head"),
        btext.tokenize("text").alias("tokens"),
    )
    m = docs.where(F.col("doc_id") % 7 != 0).select(
        "lang", "source", F.col("doc_id").alias("mention_id"),
        F.col("head").alias("head_m"), F.col("tokens").alias("toks_m"),
    )
    e = docs.where(F.col("doc_id") % 7 == 0).select(
        "lang", "source", F.col("doc_id").alias("entity_id"),
        F.col("head").alias("head_e"), F.col("tokens").alias("toks_e"),
    )
    jw = qround(jaro_winkler_udf()(F.col("head_m"), F.col("head_e")), 6)
    jac = qround(token_set_jaccard(F.col("toks_m"), F.col("toks_e")), 6)
    cos = qround(tf_cosine_udf()(F.col("toks_m"), F.col("toks_e")), 6)
    scored = (
        m.join(e, ["lang", "source"])
        .select(
            "mention_id", "entity_id",
            jw.alias("jw"), jac.alias("jaccard"), cos.alias("cosine"),
        )
        .withColumn(
            "score",
            qround(
                F.lit(0.2) * F.col("jw")
                + F.lit(0.4) * F.col("jaccard")
                + F.lit(0.4) * F.col("cosine"),
                6,
            ),
        )
    )
    w = W.partitionBy("mention_id").orderBy(F.desc("score"), F.asc("entity_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long"))


def _link_topk_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve stage: top-3 catalogue candidates per mention (the
    reference's per-mention recall_k entity fetch,
    eval_cluster_linking.py:493-495)."""
    return _link_scored(spark, sf_dir).where(F.col("rank") <= 3)


def _link_sql(rank_pred: str, entity_pred: str = "TRUE") -> str:
    return f"""
WITH d AS (
  SELECT doc_id, lang, source, substr(text, 1, 40) AS head, {_TOKS} AS toks
  FROM documents
), p AS (
  SELECT m.doc_id AS mention_id, e.doc_id AS entity_id,
         (floor((jaro_winkler_similarity(m.head, e.head)) * 1000000.0 + 0.5) / 1000000.0) AS jw,
         (floor(({_jaccard_sql('m.toks', 'e.toks')}) * 1000000.0 + 0.5) / 1000000.0) AS jaccard,
         (floor(({_tf_cosine_sql('m.toks', 'e.toks')}) * 1000000.0 + 0.5) / 1000000.0) AS cosine
  FROM d m JOIN d e ON m.lang = e.lang AND m.source = e.source
  WHERE m.doc_id % 7 <> 0 AND e.doc_id % 7 = 0 AND ({entity_pred})
), s AS (
  SELECT *,
         (floor((0.2 * jw + 0.4 * jaccard + 0.4 * cosine) * 1000000.0 + 0.5) / 1000000.0) AS score
  FROM p
), r AS (
  SELECT mention_id, entity_id, jw, jaccard, cosine, score,
         row_number() OVER (PARTITION BY mention_id
                            ORDER BY score DESC, entity_id ASC) AS rank
  FROM s
)
SELECT mention_id, entity_id, jw, jaccard, cosine, score, rank::BIGINT AS rank
FROM r WHERE {rank_pred}
"""


def _link_best_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign stage argmax: each mention's single best catalogue
    entity (analyzeClusters' per-cluster prediction collapses to this
    when mention edges are off)."""
    return (
        _link_scored(spark, sf_dir)
        .where(F.col("rank") == 1)
        .select("mention_id", "entity_id", "score")
    )


_LINK_BEST_SQL = f"""
SELECT mention_id, entity_id, score
FROM ({_link_sql('rank = 1')})
"""


def _discover_reattach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9 entity-discovery re-attachment
    (eval_entity_discovery.py:246-308): drop half the catalogue (every
    other entity) via an F7 anti-join, then re-attach each mention to
    its best SURVIVING entity — the reference's
    nearest-surviving-entity fetch expressed as anti-join + window."""
    dropped = (
        _t(spark, sf_dir, "documents")
        .where(
            (F.col("doc_id") % 7 == 0)
            & ((F.col("doc_id") / 7).cast("long") % 2 == 0)
        )
        .select(F.col("doc_id").alias("entity_id"))
    )
    surv = _link_scored(spark, sf_dir).join(dropped, "entity_id", "left_anti")
    w = W.partitionBy("mention_id").orderBy(F.desc("score"), F.asc("entity_id"))
    return (
        surv.withColumn("srk", F.row_number().over(w))
        .where(F.col("srk") == 1)
        .select("mention_id", "entity_id", "score")
    )


_DISCOVER_REATTACH_SQL = f"""
SELECT mention_id, entity_id, score
FROM ({_link_sql('rank = 1', '(e.doc_id // 7) % 2 = 1')})
"""


def _link_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full linking pipeline (blocking -> scoring -> joint graph ->
    G4 entity-constrained partition): per-mention predicted catalogue
    doc (rows-only: the greedy partition has no SQL twin; pytest
    covers accuracy + the one-entity-per-cluster invariant)."""
    from blink_spark.linking import LinkPipeline

    docs = _t(spark, sf_dir, "documents")

    def to_files(d: DataFrame, prefix: str) -> DataFrame:
        return d.select(
            F.concat(F.lit(prefix), F.col("source")).alias("repo"),
            F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
            F.substring(F.sha2(F.col("text"), 256), 1, 12).alias("commit"),
            "lang",
            F.col("text").alias("content"),
            "doc_id",
        )

    men = to_files(docs.where(F.col("doc_id") % 7 != 0), "m/")
    cat = to_files(docs.where(F.col("doc_id") % 7 == 0), "cat/")
    fid = btext.stable_file_id("repo", "path", "commit")
    men_map = men.select(fid.alias("file_id"), "doc_id")
    cat_map = cat.select(fid.alias("pred_entity_id"), F.col("doc_id").alias("pred_entity_doc"))
    cfg = ERConfig(bands=16, rows_per_band=4, num_hashes=64, shingle_k=3)
    res = LinkPipeline(cfg, mention_knn=2).run(
        men.drop("doc_id"), cat.drop("doc_id")
    )
    return (
        res.tables["pred"]
        .join(men_map, "file_id")
        .join(F.broadcast(cat_map), "pred_entity_id", "left")
        .select("doc_id", "pred_entity_doc")
    )


def _docs_ranked(spark: SparkSession, sf_dir: str, *extra_cols: str):
    """documents with a dense rank column `r` (0-based, doc_id order),
    derived ARITHMETICALLY from the contiguous doc_id domain (asserted)
    instead of a global row_number window — the window's single-
    partition sort re-ran inside every downstream stage recompute of
    the un-spilled fixture lineage (round-4 VERDICT item 8: ~10s of the
    link_clusters_chain headline wall was fixture, not pipeline).
    Returns (df with `r`, row count)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", *extra_cols)
    mn, mx, n = docs.agg(
        F.min("doc_id"), F.max("doc_id"), F.count(F.lit(1))
    ).collect()[0]
    if n and mx - mn + 1 != n:
        raise ValueError(
            f"documents.doc_id not contiguous ({mn}..{mx}, n={n}): the "
            "groups-of-4 fixtures need a rank — fall back to a window"
        )
    return docs.withColumn(
        "r", (F.col("doc_id") - F.lit(int(mn or 0))).cast("long")
    ), int(n)


def _docs_groups_of_4(spark: SparkSession, sf_dir: str):
    """Full groups of four in doc_id-rank order (partial tail group
    dropped) — shared fixture of the chain oracles."""
    g, n = _docs_ranked(spark, sf_dir)
    return (
        g.withColumn("grp", (F.col("r") / 4).cast("long"))
        .withColumn("pos", F.col("r") % 4)
        .where(F.col("grp") < F.lit(n // 4))
    )


def _link_clusters_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed END-TO-END value oracle for the full LinkPipeline —
    the `link_partition_chain` analytic-fixture trick one level up
    (round-3 VERDICT item 7): fused signatures → LSH blocking → pair
    scoring → entity flagging → best-entity window → mention-knn edges
    → G4 partition → assignment, one hash-green row for the whole
    composition.

    Fixture: docs in doc_id order, groups of four (partial tail group
    dropped); all four share ONE group-unique 8-token text; pos 3 is
    the catalogue entity, pos 0-2 are mentions. Identical content
    means identical MinHash signatures, so in-group pairs co-block
    under ANY engine hash/seed/banding with content similarity exactly
    1 (score >= 0.8 with the 0.2/0.4/0.4 weights, whatever the path
    JW); cross-group texts share zero shingles, so any extra pair the
    LSH happens to add scores <= 0.2. The best-entity window therefore
    picks the group entity, the top-2 mention edges stay in-group, the
    G4 component contains exactly one entity (so every valid partition
    assigns all its mentions to it) — the final answer is invariant to
    every engine-hash choice, and the oracle states it in closed form.
    `link_clusters` (rows-only) drives the same code over real text."""
    from blink_spark.linking import LinkPipeline

    g = _docs_groups_of_4(spark, sf_dir)
    tok = F.concat(F.lit("egrp"), F.col("grp").cast("string"))
    files = g.select(
        F.lit("x").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.lit("c0").alias("commit"),
        F.lit("xx").alias("lang"),
        F.concat_ws(" ", *([tok] * 8)).alias("content"),
        "doc_id",
        "pos",
    )
    men = files.where(F.col("pos") < 3)
    cat = files.where(F.col("pos") == 3)
    fid = btext.stable_file_id("repo", "path", "commit")
    men_map = men.select(fid.alias("file_id"), "doc_id")
    cat_map = cat.select(
        fid.alias("pred_entity_id"), F.col("doc_id").alias("pred_entity_doc")
    )
    cfg = ERConfig(bands=16, rows_per_band=4, num_hashes=64, shingle_k=3)
    res = LinkPipeline(cfg, mention_knn=2).run(
        men.drop("doc_id", "pos"), cat.drop("doc_id", "pos")
    )
    return (
        res.tables["pred"]
        .join(men_map, "file_id")
        .join(F.broadcast(cat_map), "pred_entity_id")
        .select("doc_id", "pred_entity_doc")
    )


_LINK_CLUSTERS_CHAIN_SQL = """
WITH d AS (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS r FROM documents
), g AS (
  SELECT doc_id, CAST(floor(r / 4.0) AS BIGINT) AS grp, r % 4 AS pos,
         count(*) OVER (PARTITION BY CAST(floor(r / 4.0) AS BIGINT)) AS gsz
  FROM d
)
SELECT m.doc_id AS doc_id, e.doc_id AS pred_entity_doc
FROM g m JOIN g e ON m.grp = e.grp AND e.pos = 3
WHERE m.gsz = 4 AND e.gsz = 4 AND m.pos < 3
"""


def _link_route_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 router decision table (linking.g4_route_stats) over a fixture
    with a KNOWN route split — catches silent routing drift, not just
    final-answer drift (round-4 VERDICT item 6). Groups of four docs
    become disjoint components by grp % 3: 0 -> entity star (3
    mention->entity edges), 1 -> mixed chain m0->m1->m2->E (3 edges),
    2 -> mixed chain + 2 extra edges (5 edges, past the budget of 4).
    The stats run the SAME CC + shape aggregation the partition routes
    on; the oracle states the split in closed form from the doc count."""
    from blink_spark.operators.linking import g4_route_stats

    g = _docs_groups_of_4(spark, sf_dir).where(F.col("pos") < 3)
    ent = (-(F.col("grp") * 2 + 2)).cast("long")
    base = g.select(
        "grp",
        "pos",
        F.col("doc_id").alias("src"),
        ent.alias("ent"),
        (F.col("grp") % 3).alias("shape"),
    )
    fF, tT = F.lit(False), F.lit(True)

    def edge(df, dst, score, dst_is_ent):
        return df.select(
            "src",
            dst.alias("dst"),
            F.lit(score).alias("score"),
            fF.alias("src_is_entity"),
            dst_is_ent.alias("dst_is_entity"),
        )

    star = edge(base.where(F.col("shape") == 0), F.col("ent"), 0.9, tT)
    wl = W.partitionBy("grp").orderBy("pos")
    m = base.where(F.col("shape") != 0).select(
        "grp",
        "pos",
        "src",
        "ent",
        "shape",
        F.lead("src", 1).over(wl).alias("n1"),
        F.lead("src", 2).over(wl).alias("n2"),
    )
    mm = edge(m.where(F.col("pos") < 2), F.col("n1"), 0.5, fF)
    anchor = edge(m.where(F.col("pos") == 2), F.col("ent"), 0.9, tT)
    extra_skip = edge(
        m.where((F.col("shape") == 2) & (F.col("pos") == 0)), F.col("n2"), 0.4, fF
    )
    extra_ent = edge(
        m.where((F.col("shape") == 2) & (F.col("pos") == 1)), F.col("ent"), 0.3, tT
    )
    edges = star.unionByName(mm).unionByName(anchor)
    edges = edges.unionByName(extra_skip).unionByName(extra_ent)
    return g4_route_stats(edges, max_component_edges=4)


_LINK_ROUTE_STATS_SQL = """
WITH n AS (
  SELECT CAST(floor(count(*) / 4.0) AS BIGINT) AS ng FROM documents
), r AS (
  SELECT 'star' AS route, (ng + 2) // 3 AS nc, 3 AS per FROM n
  UNION ALL SELECT 'greedy', (ng + 1) // 3, 3 FROM n
  UNION ALL SELECT 'over', ng // 3, 5 FROM n
)
SELECT route, CAST(nc AS BIGINT) AS n_components,
       CAST(nc * per AS BIGINT) AS n_edges
FROM r WHERE nc > 0
"""


# ============================================================== dedup suite

def _dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2022 analog): 8-token windows
    occurring in >= 2 distinct documents, keyed by md5 so the shuffle
    never carries raw segment text."""
    return dedup.duplicate_segments(
        _t(spark, sf_dir, "documents"), k=8, min_docs=2
    )


def _dedup_substring_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-substring coverage — the 'mostly duplicated
    text' drop signal."""
    return dedup.segment_dup_coverage(
        _t(spark, sf_dir, "documents"), k=8, min_docs=2
    )


_SEG_WINDOWS_SQL = f"""
  SELECT doc_id, md5(unnest({ts.shingles_sql(_TOKS, 8)})) AS seg_md5
  FROM documents
"""

_DEDUP_EXACT_SUBSTRING_SQL = f"""
WITH w AS ({_SEG_WINDOWS_SQL})
SELECT seg_md5, count(DISTINCT doc_id)::BIGINT AS n_docs, count(*)::BIGINT AS n_occ
FROM w GROUP BY seg_md5 HAVING count(DISTINCT doc_id) >= 2
"""

_DEDUP_SUBSTRING_COVERAGE_SQL = f"""
WITH w AS ({_SEG_WINDOWS_SQL}),
dup AS (
  SELECT seg_md5 FROM w GROUP BY seg_md5 HAVING count(DISTINCT doc_id) >= 2
)
SELECT w.doc_id, count(*)::BIGINT AS n_windows,
       sum(CASE WHEN dup.seg_md5 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS dup_windows,
       {qround_sql('sum(CASE WHEN dup.seg_md5 IS NOT NULL THEN 1 ELSE 0 END) / count(*)')} AS coverage
FROM w LEFT JOIN dup ON w.seg_md5 = dup.seg_md5
GROUP BY w.doc_id
"""


def _dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), shingle_k=1, threshold=0.5
    )


_DEDUP_NGRAM_SQL = f"""
WITH d AS (
  SELECT doc_id, lang, list_distinct({_TOKS}) AS sh FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       (floor(({_jaccard_sql('a.sh', 'b.sh')}) * 1000000.0 + 0.5) / 1000000.0) AS jaccard
FROM d a JOIN d b ON a.lang = b.lang
WHERE a.doc_id < b.doc_id
  AND (floor(({_jaccard_sql('a.sh', 'b.sh')}) * 1000000.0 + 0.5) / 1000000.0) >= 0.5
"""


def _simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    # numpy kernel (bit-identical to the SQL expr — exact integer math)
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "lang", btext.tokenize("text").alias("tokens"))
        .select("doc_id", "lang", sh.simhash_udf()(F.col("tokens")).alias("simhash"))
    )


def _dedup_simhash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_df(spark, sf_dir).select("doc_id", "simhash")


_SIMHASH_INNER_SQL = sh.simhash_sql(sh.token_hash60_sql(_TOKS))
_DEDUP_SIMHASH_FP_SQL = f"SELECT doc_id, {_SIMHASH_INNER_SQL} AS simhash FROM documents"


def _dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded Hamming<=3 pairs (exact by pigeonhole) vs the oracle's
    brute-force self-join — proves the banded plan loses nothing."""
    return sh.simhash_near_dup_pairs(
        _simhash_df(spark, sf_dir), id_col="doc_id", radius=3, group_cols=("lang",)
    )


_DEDUP_SIMHASH_PAIRS_SQL = f"""
WITH s AS (
  SELECT doc_id, lang, {_SIMHASH_INNER_SQL} AS simhash FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming_dist
FROM s a JOIN s b ON a.lang = b.lang
WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def _dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-cosine brute force (method="exact") — the oracle/verifier
    path, mirroring dedup_ngram_jaccard vs dedup_minhash_lsh: the SQL
    twin is an all-pairs join, so the Spark side must be exact too.
    The production default (sign-LSH bucket blocking) is exercised by
    dedup_embedding_lsh below."""
    return dedup.embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.3, method="exact"
    )


def _dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production scale path: sign-LSH bucket equi-join + exact-cosine
    verify (rows-only check: hyperplane buckets have no DuckDB twin;
    the pytest recall floor covers recall vs the exact path)."""
    return dedup.embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.3, method="lsh",
        n_planes=8, n_tables=8,
    )


def _dedup_embedding_lsh_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_embedding_lsh's own flow (bucket equi-join + exact-cosine
    verify) with md5-derived ±1 Rademacher planes, so the whole
    bucketed near-dup path is value-reproducible in DuckDB."""
    return dedup.embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.3, method="rademacher",
        n_planes=8, n_tables=8, dim=64,
    )


def _cosine_raw_sql(a: str, b: str) -> str:
    """DuckDB twin of similarity.array_cosine over two array columns."""
    dot = f"list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
    na = f"sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
    nb = f"sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))"
    return f"(CASE WHEN {na} = 0 OR {nb} = 0 THEN 0.0 ELSE {dot} / ({na} * {nb}) END)"


def _cosine_sql(a: str, b: str) -> str:
    """_cosine_raw_sql rounded like qround(·, 6)."""
    return f"(floor({_cosine_raw_sql(a, b)} * 1000000.0 + 0.5) / 1000000.0)"


def _rademacher_keyed_sql(src: str, n_planes: int, n_tables: int, dim: int) -> str:
    """DuckDB twin of ann._sign_lsh_buckets(planes="rademacher"): one
    (vec_id, embedding, table_id, bucket) row per vector and table."""
    from blink_spark.operators.ann import rademacher_planes

    planes = rademacher_planes(dim, n_planes, n_tables, 42)

    def key_expr(t: int) -> str:
        return " + ".join(
            f"(CASE WHEN list_dot_product(embedding::DOUBLE[], "
            f"[{','.join(str(float(s)) for s in planes[t][j])}]::DOUBLE[]) > 0 "
            f"THEN {2 ** j} ELSE 0 END)"
            for j in range(n_planes)
        )

    return " UNION ALL ".join(
        f"SELECT vec_id, embedding, {t} AS table_id, {key_expr(t)} AS bucket "
        f"FROM {src}"
        for t in range(n_tables)
    )


def _dedup_embedding_lsh_parity_sql(
    n_planes: int = 8, n_tables: int = 8, dim: int = 64
) -> str:
    cos = _cosine_sql("a.embedding", "b.embedding")
    return f"""
WITH k AS ({_rademacher_keyed_sql('embeddings', n_planes, n_tables, dim)})
SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cosine
FROM k a JOIN k b ON a.table_id = b.table_id AND a.bucket = b.bucket
WHERE a.vec_id < b.vec_id AND {cos} >= 0.3
"""


_DEDUP_EMBEDDING_SQL = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_cosine_sql('a.embedding', 'b.embedding')} AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_cosine_sql('a.embedding', 'b.embedding')} >= 0.3
"""


def _dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production MinHash-LSH near-dup path (rows-only check: its
    pandas-siphash token hashes have no DuckDB twin; the same flow with
    the md5 signature is value-oracled by dedup_minhash_lsh_parity)."""
    # 3-token shingles: near-dup (not same-vocab) semantics, so LSH
    # bands genuinely prune — unigram shingling over a small shared
    # vocabulary would degenerate to an all-pairs join
    return dedup.minhash_lsh_dup_pairs(
        _t(spark, sf_dir, "documents"), jaccard_threshold=0.5, shingle_k=3
    )


def _dedup_minhash_lsh_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_minhash_lsh's own flow (shingle -> MinHash -> band ->
    salted block join -> exact-Jaccard verify) with signature="md5",
    so DuckDB reproduces the whole operator value-for-value. The
    oracle enumerates ALL bucket pairs; no fixture block reaches the
    salt threshold (sqrt(2 * pair_budget) rows), so salting is a
    value-checked no-op here."""
    return dedup.minhash_lsh_dup_pairs(
        _t(spark, sf_dir, "documents"), jaccard_threshold=0.5, shingle_k=3,
        num_hashes=_N_PARITY_HASHES, bands=_PARITY_BANDS,
        rows_per_band=_PARITY_ROWS, signature="md5",
    )


def _shingle3_sql(toks: str) -> str:
    """DuckDB twin of functions.text.shingles(k=3): duplicates kept,
    n<=k collapses to one joined shingle, n=0 -> empty list."""
    return (
        f"CASE WHEN len({toks}) = 0 THEN []::VARCHAR[] "
        f"WHEN len({toks}) <= 3 THEN [array_to_string({toks}, ' ')] "
        f"ELSE list_transform(generate_series(1, len({toks}) - 2), "
        f"i -> {toks}[i] || ' ' || {toks}[i + 1] || ' ' || {toks}[i + 2]) END"
    )


def _dedup_minhash_lsh_parity_sql() -> str:
    band_selects = " UNION ALL ".join(
        f"SELECT lang, {b} AS band, "
        f"{parity_band_key_sql('sig', b, _PARITY_ROWS)} AS bkey, doc_id FROM s"
        for b in range(_PARITY_BANDS)
    )
    jac = f"(floor(({_jaccard_sql('sa.shd', 'sb.shd')}) * 1000000.0 + 0.5) / 1000000.0)"
    return f"""
WITH t AS (
  SELECT doc_id, lang, {_TOKS} AS toks FROM documents
), s0 AS (
  SELECT doc_id, lang, {_shingle3_sql('toks')} AS sh FROM t
), s AS (
  SELECT doc_id, lang, list_distinct(sh) AS shd,
         {parity_minhash_sql('sh', _N_PARITY_HASHES)} AS sig
  FROM s0
), k AS ({band_selects}), p AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM k a JOIN k b ON a.lang = b.lang AND a.band = b.band AND a.bkey = b.bkey
  WHERE a.doc_id < b.doc_id
)
SELECT p.id_a, p.id_b, {jac} AS jaccard
FROM p JOIN s sa ON p.id_a = sa.doc_id JOIN s sb ON p.id_b = sb.doc_id
WHERE {jac} >= 0.5
"""


def _er_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995) — the
    classic ER pairing strategy alongside the pipeline's LSH banding:
    per-lang sort by the fuzzy size key n_chars, pair each doc with
    its 2 successors. One rank exchange, no self-join."""
    from blink_spark.operators.pairs import sorted_neighborhood_pairs

    d = _t(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    out = sorted_neighborhood_pairs(
        d, "n_chars", id_col="doc_id", window=3, by="lang"
    )
    return out.select(
        "id_a", "id_b", F.col("sort_gap").cast("long").alias("sort_gap")
    )


_ER_SORTED_NEIGHBORHOOD_SQL = """
WITH n AS (
  SELECT doc_id,
         lead(doc_id, 1) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS n1,
         lead(doc_id, 2) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS n2
  FROM documents
)
SELECT least(doc_id, n1) AS id_a, greatest(doc_id, n1) AS id_b,
       1::BIGINT AS sort_gap
FROM n WHERE n1 IS NOT NULL
UNION ALL
SELECT least(doc_id, n2) AS id_a, greatest(doc_id, n2) AS id_b,
       2::BIGINT AS sort_gap
FROM n WHERE n2 IS NOT NULL
"""


def _er_sorted_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALABLE sorted-neighborhood path (by=None): global rank via
    range-partition + order-preserving mapInPandas + broadcast offsets,
    pairs via rank equi-joins — exercised by the driver contract so the
    global-rank machinery itself is value-oracled (the oracle is a
    plain global lead(), which the distributed rank must equal exactly
    for ANY range boundaries)."""
    from blink_spark.operators.pairs import sorted_neighborhood_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = sorted_neighborhood_pairs(
        d, "n_chars", id_col="doc_id", window=3, by=None
    )
    return out.select(
        "id_a", "id_b", F.col("sort_gap").cast("long").alias("sort_gap")
    )


_ER_SORTED_GLOBAL_SQL = """
WITH n AS (
  SELECT doc_id,
         lead(doc_id, 1) OVER (ORDER BY n_chars, doc_id) AS n1,
         lead(doc_id, 2) OVER (ORDER BY n_chars, doc_id) AS n2
  FROM documents
)
SELECT least(doc_id, n1) AS id_a, greatest(doc_id, n1) AS id_b,
       1::BIGINT AS sort_gap
FROM n WHERE n1 IS NOT NULL
UNION ALL
SELECT least(doc_id, n2) AS id_a, greatest(doc_id, n2) AS id_b,
       2::BIGINT AS sort_gap
FROM n WHERE n2 IS NOT NULL
"""


def _er_canopy_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canopy blocking (McCallum, Nigam & Ungar 2000) over embeddings
    with the md5 parity pool and s_tight=1.5 (cosine never exceeds 1,
    so no candidate is suppressed and the center set equals the
    hash-min pool — SQL-stateable). The greedy suppression itself is
    pytest-proven (tests/test_blocking.py); this twin value-oracles
    the pool + radius-membership + singleton-fallback flow."""
    from blink_spark.operators.blocking import canopy_blocks

    return canopy_blocks(
        _t(spark, sf_dir, "embeddings"),
        s_loose=0.6,
        s_tight=1.5,
        n_candidates=16,
        id_hash="md5",
    )


_ER_CANOPY_PARITY_SQL = f"""
WITH h AS (
  SELECT vec_id, embedding,
         ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS hh
  FROM embeddings
), pool AS (
  SELECT vec_id AS canopy_id, embedding::DOUBLE[] AS cvec
  FROM (SELECT * FROM h ORDER BY hh, vec_id LIMIT 16)
), member AS (
  SELECT 'c|' || canopy_id AS block_key, e.vec_id
  FROM embeddings e CROSS JOIN pool p
  WHERE {_cosine_raw_sql('e.embedding', 'p.cvec')} > 0.6
)
SELECT block_key, vec_id FROM member
UNION ALL
SELECT 's|' || e.vec_id AS block_key, e.vec_id
FROM embeddings e
WHERE e.vec_id NOT IN (SELECT vec_id FROM member)
"""


_SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _samp_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by hashing doc_id into
    [0,1) — append-stable, partition-independent (functions/sampling.
    hash_split, md5 parity hash so the oracle reproduces the buckets)."""
    from blink_spark.functions.sampling import hash_split

    return hash_split(
        _t(spark, sf_dir, "documents").select("doc_id"),
        _SPLIT_FRACTIONS,
        id_col="doc_id",
        id_hash="md5",
    )


def _samp_hash_split_sql() -> str:
    # the cut points MUST be the same accumulated doubles Spark uses
    names = list(_SPLIT_FRACTIONS)
    cum = 0.0
    case = "CASE"
    for name in names[:-1]:
        cum += _SPLIT_FRACTIONS[name]
        case += f" WHEN h < {cum!r} THEN '{name}'"
    case += f" ELSE '{names[-1]}' END"
    return f"""
SELECT doc_id, {case} AS split
FROM (
  SELECT doc_id,
         ('0x' || substr(md5(doc_id::VARCHAR || '-42'), 1, 15))::BIGINT
           / 1152921504606846976.0 AS h
  FROM documents
)
"""


def _samp_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-proportion split within each lang stratum (rank-by-hash,
    cut at ceil(cum·n)) — every stratum contributes its exact share."""
    from blink_spark.functions.sampling import stratified_exact_split

    return stratified_exact_split(
        _t(spark, sf_dir, "documents").select("doc_id", "lang"),
        _SPLIT_FRACTIONS,
        strata_col="lang",
        id_col="doc_id",
        id_hash="md5",
    )


def _samp_stratified_split_sql() -> str:
    names = list(_SPLIT_FRACTIONS)
    cum = 0.0
    case = "CASE"
    for name in names[:-1]:
        cum += _SPLIT_FRACTIONS[name]
        case += f" WHEN rn <= ceil({cum!r} * n) THEN '{name}'"
    case += f" ELSE '{names[-1]}' END"
    return f"""
SELECT doc_id, lang, {case} AS split
FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || '-42'), 1, 15))::BIGINT,
                    doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
"""


def _samp_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10-doc-per-lang eval sample: smallest md5(doc_id)
    per lang — append-stable, the repo's hash-min pattern."""
    from blink_spark.functions.sampling import per_group_sample

    return per_group_sample(
        _t(spark, sf_dir, "documents").select("doc_id", "lang"),
        10,
        group_col="lang",
        id_col="doc_id",
        id_hash="md5",
    )


_SAMP_GROUP_SAMPLE_SQL = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || '-42'), 1, 15))::BIGINT,
                    doc_id) AS rn
  FROM documents
) WHERE rn <= 10
"""


def _fs_candidates(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The FS queries' shared input: documents, and their
    sorted-neighborhood (window 3 on n_chars within lang) candidate
    pairs joined to both sides' source / n_chars."""
    from blink_spark.operators.pairs import attach_features, sorted_neighborhood_pairs

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    pairs = sorted_neighborhood_pairs(
        d, "n_chars", id_col="doc_id", window=3, by="lang"
    ).select("id_a", "id_b")
    return d, attach_features(pairs, d, "doc_id", ["source", "n_chars"])


def _fs_weight_sql(weights: dict[str, list[float]]) -> str:
    """The level-weight sum in field order — the same literals the Spark
    plan's ``fs.weight_col`` inlines, qrounded to 6 places. ::DOUBLE —
    DuckDB would otherwise type the 17-digit literals as DECIMAL and
    overflow in the qround multiply."""
    terms = " + ".join(
        "(CASE g_{f} {whens} ELSE 0.0::DOUBLE END)".format(
            f=f,
            whens=" ".join(
                f"WHEN {l} THEN {w!r}::DOUBLE" for l, w in enumerate(ws)
            ),
        )
        for f, ws in weights.items()
    )
    return f"(floor((0.0 + {terms}) * 1000000.0 + 0.5) / 1000000.0)"


_FS_PAIRS_SQL = """
nn AS (
  SELECT doc_id,
         lead(doc_id, 1) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS n1,
         lead(doc_id, 2) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS n2
  FROM documents
), p AS (
  SELECT least(doc_id, n1) AS id_a, greatest(doc_id, n1) AS id_b
  FROM nn WHERE n1 IS NOT NULL
  UNION ALL
  SELECT least(doc_id, n2) AS id_a, greatest(doc_id, n2) AS id_b
  FROM nn WHERE n2 IS NOT NULL
)"""

_FS_BUCKET_SQL = """(CASE WHEN CAST(floor(a.n_chars / 100.0) AS BIGINT)
                    = CAST(floor(b.n_chars / 100.0) AS BIGINT)
               THEN 1 ELSE 0 END)::BIGINT AS g_bucket"""

_FS_M = {"source": 0.95, "size": 0.9, "bucket": 0.85}
_FS_U = {"source": 0.25, "size": 0.1, "bucket": 0.35}


def _fs_binary_weights() -> dict[str, list[float]]:
    """Pinned binary m/u as one-level [P(disagree), P(agree)] lists."""
    from blink_spark.operators.fellegi_sunter import level_weights

    return level_weights(
        {f: [1.0 - m, m] for f, m in _FS_M.items()},
        {f: [1.0 - u, u] for f, u in _FS_U.items()},
    )


def _er_fs_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter match weights (Fellegi & Sunter 1969; the Splink
    model) over sorted-neighborhood candidates: per-field binary
    agreement gammas (source equality, |n_chars| proximity, n_chars
    century bucket) scored with pinned m/u — the log2 weights enter both
    engines as identical float literals summed in field order, so the
    oracle is exact. EM estimation of m/u is pytest-proven
    (tests/test_fellegi_sunter.py: recovers the generating latent-class
    parameters, bit-deterministic across partitioning)."""
    from blink_spark.operators import fellegi_sunter as fs

    _, joined = _fs_candidates(spark, sf_dir)
    gammas = fs.attach_gammas(
        joined,
        {
            "source": [F.col("source_a") == F.col("source_b")],
            "size": [F.abs(F.col("n_chars_a") - F.col("n_chars_b")) <= 2],
            "bucket": [
                (F.col("n_chars_a") / 100).cast("long")
                == (F.col("n_chars_b") / 100).cast("long")
            ],
        },
    )
    w = fs.weight_col(list(_FS_M), _fs_binary_weights())
    return gammas.select(
        "id_a",
        "id_b",
        F.col("g_source").cast("long").alias("g_source"),
        F.col("g_size").cast("long").alias("g_size"),
        F.col("g_bucket").cast("long").alias("g_bucket"),
        qround(w, 6).alias("weight"),
    )


def _er_fs_weights_sql() -> str:
    return f"""
WITH {_FS_PAIRS_SQL}, g AS (
  SELECT p.id_a, p.id_b,
         (CASE WHEN a.source = b.source THEN 1 ELSE 0 END)::BIGINT AS g_source,
         (CASE WHEN abs(a.n_chars - b.n_chars) <= 2 THEN 1 ELSE 0 END)::BIGINT AS g_size,
         {_FS_BUCKET_SQL}
  FROM p JOIN documents a ON p.id_a = a.doc_id
         JOIN documents b ON p.id_b = b.doc_id
)
SELECT id_a, id_b, g_source, g_size, g_bucket,
       {_fs_weight_sql(_fs_binary_weights())} AS weight
FROM g
"""


_FS_ML_M = {
    "source": [0.02, 0.08, 0.90],
    "size": [0.05, 0.15, 0.80],
    "bucket": [0.10, 0.90],
}
_FS_ML_U = {
    "source": [0.55, 0.40, 0.05],
    "size": [0.60, 0.30, 0.10],
    "bucket": [0.70, 0.30],
}


def _er_fs_multilevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-LEVEL Fellegi-Sunter (the Splink comparison-level model +
    term-frequency adjustment — round-3 VERDICT item 6) over the same
    sorted-neighborhood candidates as er_fs_weights: graded gammas per
    field (source: exact / JW>=0.85 close / other; size: |Δ|<=2 /
    |Δ|<=20 / other; bucket: binary), per-level pinned m/u feeding
    per-level log2 weight literals, plus Winkler/Splink TF adjustment
    on `source` — agreeing on a RARE source outweighs agreeing on a
    common one (log2(u_exact)+log2(n)-log2(cnt_v), engine-side logs of
    integers, final qround). EM for per-level m/u is pytest-proven
    (test_fellegi_sunter.py: recovers multi-level generating params);
    here the fitted params enter both engines as identical literals."""
    from blink_spark.functions.similarity import jaro_winkler_udf
    from blink_spark.operators import fellegi_sunter as fs

    d, joined = _fs_candidates(spark, sf_dir)
    n_records = d.count()
    jw = jaro_winkler_udf()
    dn = F.abs(F.col("n_chars_a") - F.col("n_chars_b"))
    gam = fs.attach_gammas(
        joined,
        {
            "source": [
                F.col("source_a") == F.col("source_b"),
                jw(F.col("source_a"), F.col("source_b")) >= F.lit(0.85),
            ],
            "size": [dn <= 2, dn <= 20],
            "bucket": [
                (F.col("n_chars_a") / 100).cast("long")
                == (F.col("n_chars_b") / 100).cast("long")
            ],
        },
    )
    tf = fs.term_frequency_table(d, "source").withColumnRenamed(
        "source", "source_a"
    )
    gam = gam.join(F.broadcast(tf), "source_a")
    w = fs.weight_col(list(_FS_ML_M), fs.level_weights(_FS_ML_M, _FS_ML_U))
    adj = fs.tf_adjustment_col(
        "source", 2, _FS_ML_U["source"][2], n_records
    )
    return gam.select(
        "id_a",
        "id_b",
        F.col("g_source").cast("long").alias("g_source"),
        F.col("g_size").cast("long").alias("g_size"),
        F.col("g_bucket").cast("long").alias("g_bucket"),
        qround(w, 6).alias("weight"),
        qround(adj, 6).alias("tf_adj"),
    )


def _er_fs_multilevel_sql() -> str:
    import math as _math

    from blink_spark.operators.fellegi_sunter import level_weights

    lu = repr(_math.log2(_FS_ML_U["source"][2]))
    return f"""
WITH {_FS_PAIRS_SQL}, g AS (
  SELECT p.id_a, p.id_b, a.source AS source_a,
         (CASE WHEN a.source = b.source THEN 2
               WHEN jaro_winkler_similarity(a.source, b.source) >= 0.85 THEN 1
               ELSE 0 END)::BIGINT AS g_source,
         (CASE WHEN abs(a.n_chars - b.n_chars) <= 2 THEN 2
               WHEN abs(a.n_chars - b.n_chars) <= 20 THEN 1
               ELSE 0 END)::BIGINT AS g_size,
         {_FS_BUCKET_SQL}
  FROM p JOIN documents a ON p.id_a = a.doc_id
         JOIN documents b ON p.id_b = b.doc_id
), tf AS (
  SELECT source AS source_a, count(*)::BIGINT AS cnt
  FROM documents GROUP BY 1
)
SELECT id_a, id_b, g_source, g_size, g_bucket,
       {_fs_weight_sql(level_weights(_FS_ML_M, _FS_ML_U))} AS weight,
       (floor((CASE WHEN g_source = 2
                    THEN {lu}::DOUBLE
                         + log2((SELECT count(*) FROM documents)::DOUBLE)
                         - log2(tf.cnt::DOUBLE)
                    ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0) AS tf_adj
FROM g JOIN tf USING (source_a)
"""


# ====================================================================== ANN

def _ann_queries(df: DataFrame) -> DataFrame:
    return df.where(F.col("vec_id") % 20 == 0)


def _ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return ann.cosine_topk(emb, _ann_queries(emb), k=5)


_ANN_COSINE_SQL = f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_cosine_sql('q.embedding', 'c.embedding')} AS cosine
  FROM q CROSS JOIN embeddings c
  WHERE q.vec_id <> c.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank::BIGINT AS rank FROM ranked WHERE rank <= 5
"""


def _ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return ann.ivf_topk(emb, _ann_queries(emb), k=5, n_cells=16, nprobe=4)


def _ann_ivf_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF flow (hash-min centroid sample -> nearest-cell
    assignment -> nprobe probing -> exact rescore -> top-k) with the
    md5 sample hash and no Lloyd refinement, so a DuckDB oracle states
    it value-for-value: the centroid sample is md5-reproducible, cell
    ranking uses the same sequential cosine fold both engines agree
    on, and ties break on cell_id. Production (ann_ivf_topk: xxhash
    sample + Lloyd refinement) stays rows-only."""
    emb = _t(spark, sf_dir, "embeddings")
    return ann.ivf_topk(
        emb, _ann_queries(emb), k=5, n_cells=16, nprobe=4,
        refine_iters=0, id_hash="md5",
    )


def _ann_ivf_parity_sql(n_cells: int = 16, nprobe: int = 4, k: int = 5) -> str:
    return f"""
WITH h AS (
  SELECT vec_id, embedding,
         ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS hh
  FROM embeddings
), cents AS (
  SELECT row_number() OVER (ORDER BY hh, vec_id) - 1 AS cell_id,
         embedding AS centroid
  FROM (SELECT * FROM h ORDER BY hh LIMIT {n_cells})
), ca AS (
  SELECT vec_id AS neighbor_id, embedding AS c_vec, cell_id FROM (
    SELECT e.vec_id, e.embedding, c.cell_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cosine_raw_sql('e.embedding', 'c.centroid')} DESC,
                                       c.cell_id ASC) AS rk
    FROM embeddings e CROSS JOIN cents c)
  WHERE rk = 1
), qa AS (
  SELECT vec_id AS query_id, embedding AS q_vec, cell_id FROM (
    SELECT q.vec_id, q.embedding, c.cell_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {_cosine_raw_sql('q.embedding', 'c.centroid')} DESC,
                                       c.cell_id ASC) AS rk
    FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0) q
    CROSS JOIN cents c)
  WHERE rk <= {nprobe}
), scored AS (
  SELECT DISTINCT qa.query_id, ca.neighbor_id,
         {_cosine_sql('qa.q_vec', 'ca.c_vec')} AS cosine
  FROM qa JOIN ca USING (cell_id)
  WHERE qa.query_id <> ca.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank::BIGINT AS rank FROM ranked WHERE rank <= {k}
"""


def _ann_ivf_refined_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF flow WITH one distributed Lloyd pass, md5-sampled init —
    value-oracles the refinement kernel itself (ivf_refine_centroids):
    the oracle recomputes the pass in SQL (argmax-cosine assignment →
    EXACT DECIMAL(38,12) per-(cell, pos) component sums → cast-then-
    divide means → rebuilt centroid arrays) and then probes/rescores
    against the refined table. Complements ann_ivf_parity (no-refine),
    which pins the sampling + probing flow."""
    emb = _t(spark, sf_dir, "embeddings")
    return ann.ivf_topk(
        emb, _ann_queries(emb), k=5, n_cells=16, nprobe=4,
        refine_iters=1, id_hash="md5",
    )


def _ann_ivf_refined_parity_sql(n_cells: int = 16, nprobe: int = 4, k: int = 5) -> str:
    return f"""
WITH h AS (
  SELECT vec_id, embedding,
         ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS hh
  FROM embeddings
), cents0 AS (
  SELECT row_number() OVER (ORDER BY hh, vec_id) - 1 AS cell_id,
         embedding::DOUBLE[] AS centroid
  FROM (SELECT * FROM h ORDER BY hh LIMIT {n_cells})
), asg AS (
  SELECT vec_id, embedding, cell_id FROM (
    SELECT e.vec_id, e.embedding, c.cell_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cosine_raw_sql('e.embedding', 'c.centroid')} DESC,
                                       c.cell_id ASC) AS rk
    FROM embeddings e CROSS JOIN cents0 c)
  WHERE rk = 1
), stats AS (
  SELECT cell_id, pos, sum(x::DECIMAL(38,12)) AS s, count(*) AS n
  FROM (
    SELECT a.cell_id,
           unnest(generate_series(1, len(a.embedding))) AS pos,
           unnest(a.embedding::DOUBLE[]) AS x
    FROM asg a
  )
  GROUP BY 1, 2
), means AS (
  SELECT cell_id, list(CAST(s AS DOUBLE) / n ORDER BY pos) AS newc
  FROM stats GROUP BY cell_id
), cents AS (
  SELECT c0.cell_id, COALESCE(m.newc, c0.centroid) AS centroid
  FROM cents0 c0 LEFT JOIN means m ON c0.cell_id = m.cell_id
), ca AS (
  SELECT vec_id AS neighbor_id, embedding AS c_vec, cell_id FROM (
    SELECT e.vec_id, e.embedding, c.cell_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cosine_raw_sql('e.embedding', 'c.centroid')} DESC,
                                       c.cell_id ASC) AS rk
    FROM embeddings e CROSS JOIN cents c)
  WHERE rk = 1
), qa AS (
  SELECT vec_id AS query_id, embedding AS q_vec, cell_id FROM (
    SELECT q.vec_id, q.embedding, c.cell_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {_cosine_raw_sql('q.embedding', 'c.centroid')} DESC,
                                       c.cell_id ASC) AS rk
    FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0) q
    CROSS JOIN cents c)
  WHERE rk <= {nprobe}
), scored AS (
  SELECT DISTINCT qa.query_id, ca.neighbor_id,
         {_cosine_sql('qa.q_vec', 'ca.c_vec')} AS cosine
  FROM qa JOIN ca USING (cell_id)
  WHERE qa.query_id <> ca.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank::BIGINT AS rank
FROM ranked WHERE rank <= {k}
"""


def _ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (FAISS IndexIVFPQ analog, faiss_indexer.py:72-137;
    Jégou et al. 2011): Lloyd-refined coarse cells prune candidates,
    PQ codes + ADC lookup-table join score them, top k·overfetch are
    exactly rescored. Rows-only (xxhash sample + Lloyd); the flow is
    value-oracled by ann_pq_parity and floor-tested in pytest."""
    emb = _t(spark, sf_dir, "embeddings")
    return ann.pq_topk(
        emb, _ann_queries(emb), k=5, m=16, ksub=32, dim=64,
        overfetch=8, n_cells=16, nprobe=12,
    )


def _ann_pq_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ-ADC flow (hash-min codeword sample -> per-subspace L2
    encoding -> LUT join -> exact-DECIMAL ADC sum -> over-fetch ->
    exact-cosine rerank) with the md5 sample hash and no Lloyd
    refinement, so a DuckDB oracle states it value-for-value: slices,
    the L2 argmin and the partial dots all use folds both engines
    agree on bit-for-bit, and the ADC sum is exact DECIMAL (order-
    free). Production (ann_pq_topk: xxhash + Lloyd + IVF coarse
    layer) stays rows-only."""
    emb = _t(spark, sf_dir, "embeddings")
    return ann.pq_topk(
        emb, _ann_queries(emb), k=5, m=16, ksub=32, dim=64,
        overfetch=8, refine_iters=0, id_hash="md5",
    )


def _ann_pq_parity_sql(
    m: int = 16, ksub: int = 32, k: int = 5, overfetch: int = 8, dim: int = 64
) -> str:
    dsub = dim // m

    def sub(v: str) -> str:
        return (
            f"list_slice({v}::DOUBLE[], cb.subspace * {dsub} + 1, "
            f"(cb.subspace + 1) * {dsub})"
        )

    return f"""
WITH h AS (
  SELECT vec_id, embedding,
         ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS hh
  FROM embeddings
), samp AS (
  SELECT row_number() OVER (ORDER BY hh, vec_id) - 1 AS code, embedding
  FROM (SELECT * FROM h ORDER BY hh LIMIT {ksub})
), cb AS (
  SELECT j.subspace, samp.code,
         list_slice(samp.embedding::DOUBLE[], j.subspace * {dsub} + 1,
                    (j.subspace + 1) * {dsub}) AS centroid
  FROM samp CROSS JOIN
       (SELECT unnest(generate_series(0, {m - 1})) AS subspace) j
), codes AS (
  SELECT neighbor_id, subspace, code FROM (
    SELECT e.vec_id AS neighbor_id, cb.subspace, cb.code,
           row_number() OVER (
             PARTITION BY e.vec_id, cb.subspace
             ORDER BY (list_dot_product(cb.centroid, cb.centroid)
                       - 2.0 * list_dot_product({sub('e.embedding')}, cb.centroid)) ASC,
                      cb.code ASC) AS rk
    FROM embeddings e CROSS JOIN cb)
  WHERE rk = 1
), q AS (
  SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 20 = 0
), lut AS (
  SELECT q.query_id, cb.subspace, cb.code,
         (floor(list_dot_product({sub('q.embedding')}, cb.centroid)
                * 1000000.0 + 0.5) / 1000000.0)::DECIMAL(38,6) AS pdot
  FROM q CROSS JOIN cb
), adc AS (
  SELECT l.query_id, c.neighbor_id, sum(l.pdot) AS adc
  FROM codes c JOIN lut l USING (subspace, code)
  WHERE l.query_id <> c.neighbor_id
  GROUP BY 1, 2
), cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc DESC, neighbor_id ASC) AS crk
    FROM adc)
  WHERE crk <= {k * overfetch}
), scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         {_cosine_sql('qe.embedding', 'ce.embedding')} AS cosine
  FROM cand
  JOIN q qe ON cand.query_id = qe.query_id
  JOIN embeddings ce ON cand.neighbor_id = ce.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank::BIGINT AS rank
FROM ranked WHERE rank <= {k}
"""


def _ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return ann.lsh_topk(emb, _ann_queries(emb), k=5, n_planes=8, n_tables=6, dim=64)


def _ann_lsh_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_lsh_topk's own flow (bucket -> equi-join -> exact rescore ->
    top-k) with md5-derived ±1 Rademacher planes (Achlioptas 2001), so
    a DuckDB oracle reproduces it value-for-value: plane entries are
    shared integer literals, and the sign decision and cosine use the
    same sequential folds both engines already agree on."""
    emb = _t(spark, sf_dir, "embeddings")
    return ann.lsh_topk(
        emb, _ann_queries(emb), k=5, n_planes=8, n_tables=6, dim=64,
        planes="rademacher",
    )


def _ann_lsh_parity_sql(n_planes: int = 8, n_tables: int = 6, dim: int = 64) -> str:
    return f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
kq AS ({_rademacher_keyed_sql('q', n_planes, n_tables, dim)}),
kc AS ({_rademacher_keyed_sql('embeddings', n_planes, n_tables, dim)}),
scored AS (
  SELECT DISTINCT kq.vec_id AS query_id, kc.vec_id AS neighbor_id,
         {_cosine_sql('kq.embedding', 'kc.embedding')} AS cosine
  FROM kq JOIN kc ON kq.table_id = kc.table_id AND kq.bucket = kc.bucket
  WHERE kq.vec_id <> kc.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank::BIGINT AS rank FROM ranked WHERE rank <= 5
"""


def _ann_nnd_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 graph-based ANN (NN-descent, Dong et al. WWW'11) — the
    distributed stand-in for the reference's HNSW index family;
    self-search kNN graph over the embeddings table. Approximate, so
    rows-only at the driver; tests/test_ann.py gates recall >= 0.9 vs
    exact and bit-determinism across partitionings."""
    emb = _t(spark, sf_dir, "embeddings")
    return ann.nn_descent_topk(emb, k=5, iterations=3)


def _ann_nnd_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value oracle for the NN-descent ROUND kernel (ann.nnd_round —
    the literal code nn_descent_topk loops): one round over a
    deterministic chain-adjacency init graph (each vec's neighbors =
    the next two vec_ids, exact qround cosine), degree cap ordered by
    the engine-portable md5 pair hash. Every step — symmetrize, cap,
    neighbor-of-neighbor join, anti-join, cosine scoring, merge-top-k —
    is restated by the DuckDB twin, closing the last rows-only ANN
    family (round-3 VERDICT item 5). Production keeps xxhash64 order +
    LSH init; the kernel under test is identical."""
    from blink_spark.functions.parityhash import md5_pair_hash64
    from blink_spark.functions.similarity import array_cosine

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("vec"))
    w = W.orderBy("vec_id")
    leads = emb.select(
        F.col("vec_id").alias("query_id"),
        F.lead("vec_id", 1).over(w).alias("n1"),
        F.lead("vec_id", 2).over(w).alias("n2"),
    )
    e0 = (
        leads.where(F.col("n1").isNotNull())
        .select("query_id", F.col("n1").alias("neighbor_id"))
        .unionByName(
            leads.where(F.col("n2").isNotNull())
            .select("query_id", F.col("n2").alias("neighbor_id"))
        )
    )
    scored0 = (
        e0.join(base.select(F.col("nid").alias("query_id"),
                            F.col("vec").alias("q_vec")), "query_id")
        .join(base.select(F.col("nid").alias("neighbor_id"),
                          F.col("vec").alias("c_vec")), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            qround(array_cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine"),
        )
    )
    return ann.nnd_round(
        scored0, base, k=3, sample_k=3,
        cap_hash=md5_pair_hash64("query_id", "neighbor_id"),
    )


_ANN_NND_PARITY_SQL = f"""
WITH leads AS (
  SELECT vec_id AS query_id,
         lead(vec_id, 1) OVER (ORDER BY vec_id) AS n1,
         lead(vec_id, 2) OVER (ORDER BY vec_id) AS n2
  FROM embeddings
), e0 AS (
  SELECT query_id, n1 AS neighbor_id FROM leads WHERE n1 IS NOT NULL
  UNION ALL
  SELECT query_id, n2 AS neighbor_id FROM leads WHERE n2 IS NOT NULL
), e0s AS (
  SELECT e0.query_id, e0.neighbor_id, {_cosine_sql('a.embedding', 'b.embedding')} AS cosine
  FROM e0 JOIN embeddings a ON e0.query_id = a.vec_id
          JOIN embeddings b ON e0.neighbor_id = b.vec_id
), sym AS (
  SELECT DISTINCT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id FROM e0
    UNION ALL
    SELECT neighbor_id AS query_id, query_id AS neighbor_id FROM e0
  )
), capped AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY ('0x' || substr(md5(query_id::VARCHAR || '|' ||
                       neighbor_id::VARCHAR), 1, 15))::BIGINT,
                      neighbor_id) AS srk
    FROM sym)
  WHERE srk <= 3
), cand AS (
  SELECT DISTINCT l.query_id, r.cand_id AS neighbor_id
  FROM (SELECT neighbor_id AS mid, query_id FROM capped) l
  JOIN (SELECT query_id AS mid, neighbor_id AS cand_id FROM capped) r
    USING (mid)
  WHERE l.query_id != r.cand_id
), fresh AS (
  SELECT c.query_id, c.neighbor_id FROM cand c
  LEFT JOIN e0 ON c.query_id = e0.query_id AND c.neighbor_id = e0.neighbor_id
  WHERE e0.query_id IS NULL
), scored_new AS (
  SELECT f.query_id, f.neighbor_id, {_cosine_sql('a.embedding', 'b.embedding')} AS cosine
  FROM fresh f JOIN embeddings a ON f.query_id = a.vec_id
               JOIN embeddings b ON f.neighbor_id = b.vec_id
), merged AS (
  SELECT * FROM e0s UNION ALL SELECT * FROM scored_new
)
SELECT query_id, neighbor_id, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM merged)
WHERE rank <= 3
"""


# ============================================================ text analysis

def _text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = ts.token_stats("text")
    return _t(spark, sf_dir, "documents").select(
        "doc_id", *[stats[k].alias(k) for k in sorted(stats)]
    )


_TEXT_TOKEN_STATS_SQL = (
    "SELECT doc_id, "
    + ", ".join(
        f"{ts.token_stats_sql('text')[k]} AS {k}"
        for k in sorted(ts.token_stats_sql("text"))
    )
    + " FROM documents"
)


def _text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    ratios = ts.lang_ratios("text")
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        ts.lang_guess("text").alias("lang_guess"),
        *[qround(ratios[lang], 6).alias(f"ratio_{lang}") for lang in sorted(ratios)],
    )


_TEXT_LANGID_SQL = (
    "SELECT doc_id, lang, "
    + ts.lang_guess_sql("text")
    + " AS lang_guess, "
    + ", ".join(
        f"(floor(({ts._lang_ratio_sql('text', lang)}) * 1000000.0 + 0.5) / 1000000.0) AS ratio_{lang}"
        for lang in sorted(ts.STOPWORDS)
    )
    + " FROM documents"
)


def _text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = ts.quality_components("text")
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        q["n_chars"].alias("n_chars_m"),
        qround(q["punct_ratio"], 6).alias("punct_ratio"),
        qround(q["mean_token_len"], 6).alias("mean_token_len"),
        qround(q["stopword_ratio"], 6).alias("stopword_ratio"),
        ts.quality_score("text").alias("quality"),
    )


_TEXT_QUALITY_SQL = f"""
SELECT doc_id,
       {ts.quality_components_sql('text')['n_chars']} AS n_chars_m,
       (floor(({ts.quality_components_sql('text')['punct_ratio']}) * 1000000.0 + 0.5) / 1000000.0) AS punct_ratio,
       (floor(({ts.quality_components_sql('text')['mean_token_len']}) * 1000000.0 + 0.5) / 1000000.0) AS mean_token_len,
       (floor(({ts.quality_components_sql('text')['stopword_ratio']}) * 1000000.0 + 0.5) / 1000000.0) AS stopword_ratio,
       {ts.quality_score_sql('text')} AS quality
FROM documents
"""


def _text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        ts.norm_sha256("text").alias("norm_sha256"),
        ts.min_shingle_fingerprint("text", 5).alias("min_shingle_md5"),
    )


_TEXT_FINGERPRINT_SQL = f"""
SELECT doc_id,
       {ts.norm_sha256_sql('text')} AS norm_sha256,
       {ts.min_shingle_fingerprint_sql('text', 5)} AS min_shingle_md5
FROM documents
"""


def _pii_augmented(docs: DataFrame) -> DataFrame:
    """The sf documents contain no PII, so the raw query would gate
    parity on all-zeros. Deterministically plant doc_id-derived PII in
    a subset of rows (identical expression in the SQL twin) so the
    oracle exercises real matches AND real non-matches."""
    d = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.when(
            d % 7 == 0,
            F.concat(F.lit(" reach me at user"), d.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            d % 11 == 0,
            F.concat(
                F.lit(" node 10.0."),
                (d % 200).cast("string"),
                F.lit("."),
                (d % 250).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 13 == 0,
            F.concat(F.lit(" call +1415555"), (d % 9000 + 1000).cast("string")),
        ).otherwise(F.lit("")),
    )
    return docs.select("doc_id", planted.alias("text"))


_PII_AUG_SQL = """
SELECT doc_id,
       text
       || CASE WHEN doc_id % 7 = 0
               THEN ' reach me at user' || doc_id::VARCHAR || '@example.com'
               ELSE '' END
       || CASE WHEN doc_id % 11 = 0
               THEN ' node 10.0.' || (doc_id % 200)::VARCHAR || '.'
                    || (doc_id % 250)::VARCHAR
               ELSE '' END
       || CASE WHEN doc_id % 13 = 0
               THEN ' call +1415555' || (doc_id % 9000 + 1000)::VARCHAR
               ELSE '' END AS text
FROM documents
"""


def _text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _pii_augmented(_t(spark, sf_dir, "documents"))
    counts = pii.pii_counts("text")
    return docs.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_ipv4"].alias("n_ipv4"),
        counts["n_phones"].alias("n_phones"),
        pii.redacted_sha256("text").alias("redacted_sha256"),
    )


_TEXT_PII_SQL = f"""
SELECT doc_id,
       {pii.pii_counts_sql('text')['n_emails']} AS n_emails,
       {pii.pii_counts_sql('text')['n_ipv4']} AS n_ipv4,
       {pii.pii_counts_sql('text')['n_phones']} AS n_phones,
       {pii.redacted_sha256_sql('text')} AS redacted_sha256
FROM ({_PII_AUG_SQL}) aug
"""


def _rep_augmented(docs: DataFrame) -> DataFrame:
    """Plant deterministic within-doc repetition (the sf docs have
    none): every 3rd doc gets its first line appended twice, every
    5th a repeated 5-token phrase — so dup_line/dup_5gram fracs carry
    real nonzero signal through the oracle."""
    d = F.col("doc_id")
    first_line = F.split(F.col("text"), "\n")[0]
    planted = F.concat(
        F.col("text"),
        F.when(
            d % 3 == 0,
            F.concat(F.lit("\n"), first_line, F.lit("\n"), first_line),
        ).otherwise(F.lit("")),
        F.when(
            d % 5 == 0,
            F.concat(
                F.lit("\n"),
                F.expr(
                    "repeat('alpha beta gamma delta epsilon ', "
                    "cast(doc_id % 3 as int) + 2)"
                ),
            ),
        ).otherwise(F.lit("")),
    )
    return docs.select("doc_id", planted.alias("text"))


_REP_AUG_SQL = """
SELECT doc_id,
       text
       || CASE WHEN doc_id % 3 = 0
               THEN chr(10) || str_split(text, chr(10))[1]
                    || chr(10) || str_split(text, chr(10))[1]
               ELSE '' END
       || CASE WHEN doc_id % 5 = 0
               THEN chr(10) || repeat('alpha beta gamma delta epsilon ',
                                      (doc_id % 3)::INTEGER + 2)
               ELSE '' END AS text
FROM documents
"""


def _text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.repetition_stats(
        _rep_augmented(_t(spark, sf_dir, "documents"))
    )


def _rep_sql() -> str:
    g2 = ts.shingles_sql(_TOKS, 2)
    g5 = ts.shingles_sql(_TOKS, 5)
    lines = "list_filter(str_split(text, chr(10)), x -> trim(x) <> '')"
    q = lambda e: qround_sql(f"coalesce({e}, 0.0)", 6)  # noqa: E731
    return f"""
WITH docs_aug AS ({_REP_AUG_SQL}),
lraw AS (
  SELECT doc_id, unnest({lines}) AS l FROM docs_aug
),
lc AS (
  SELECT doc_id, md5(l) AS lk, count(*) AS cnt, max(length(l)) AS lchars
  FROM lraw GROUP BY doc_id, md5(l)
),
lstats AS (
  SELECT doc_id,
         sum(cnt) AS n_lines,
         (sum(cnt) - count(*)) / sum(cnt) AS dup_line_frac,
         sum(CASE WHEN cnt > 1 THEN lchars * cnt ELSE 0 END)
           / sum(lchars * cnt) AS dup_line_char_frac
  FROM lc GROUP BY doc_id
),
g2 AS (
  SELECT doc_id, md5(g) AS gk, count(*) AS cnt
  FROM (SELECT doc_id, unnest({g2}) AS g FROM docs_aug)
  GROUP BY doc_id, md5(g)
),
t2 AS (
  SELECT doc_id, max(cnt) / sum(cnt) AS top_2gram_frac FROM g2 GROUP BY doc_id
),
g5 AS (
  SELECT doc_id, md5(g) AS gk, count(*) AS cnt
  FROM (SELECT doc_id, unnest({g5}) AS g FROM docs_aug)
  GROUP BY doc_id, md5(g)
),
d5 AS (
  SELECT doc_id, (sum(cnt) - count(*)) / sum(cnt) AS dup_5gram_frac
  FROM g5 GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(n_lines, 0)::BIGINT AS n_lines,
       {q('dup_line_frac')} AS dup_line_frac,
       {q('dup_line_char_frac')} AS dup_line_char_frac,
       {q('top_2gram_frac')} AS top_2gram_frac,
       {q('dup_5gram_frac')} AS dup_5gram_frac
FROM docs_aug d
LEFT JOIN lstats USING (doc_id)
LEFT JOIN t2 USING (doc_id)
LEFT JOIN d5 USING (doc_id)
"""


_TEXT_REPETITION_SQL = _rep_sql()


def _dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark = 300-char excerpts of every 31st doc (the realistic
    leakage shape: an eval set quoting training documents verbatim);
    corpus = all docs. Excerpted docs must flag as contaminated, the
    rest (cross-doc 8-gram collisions aside) as clean — so the oracle
    checks hits AND non-hits."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 31 == 0).select(
        "doc_id", F.substring("text", 50, 300).alias("text")
    )
    return curation.decontaminate(docs, bench, n=8, threshold=1)


def _decon_sql() -> str:
    g8 = f"list_distinct({ts.shingles_sql(_TOKS, 8)})"
    return f"""
WITH bench AS (
  SELECT DISTINCT md5(g) AS gk
  FROM (
    SELECT unnest(list_distinct({ts.shingles_sql(ts.tokens_sql('substr(text, 50, 300)'), 8)})) AS g
    FROM documents WHERE doc_id % 31 = 0
  )
),
corpus AS (
  SELECT doc_id, md5(g) AS gk
  FROM (SELECT doc_id, unnest({g8}) AS g FROM documents)
),
hits AS (
  SELECT doc_id, count(*) AS n_overlap_grams
  FROM corpus JOIN bench USING (gk) GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(h.n_overlap_grams, 0)::BIGINT AS n_overlap_grams,
       coalesce(h.n_overlap_grams, 0) >= 1 AS contaminated
FROM (SELECT doc_id FROM documents) d
LEFT JOIN hits h USING (doc_id)
"""


_DEDUP_DECON_SQL = _decon_sql()


# =============================================================== multimodal

def _mm_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = multimodal.assets_from_documents(_t(spark, sf_dir, "documents"))
    return multimodal.asset_metadata(assets)


_MM_METADATA_SQL = """
SELECT doc_id AS asset_id, 'text/blob' AS kind,
       octet_length(encode(text))::BIGINT AS n_bytes,
       sha256(text) AS payload_sha256
FROM documents
"""


def _mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = multimodal.assets_from_documents(_t(spark, sf_dir, "documents"))
    return multimodal.sample_frames(assets, every_n_bytes=64)


_MM_FRAMES_SQL = """
SELECT doc_id AS asset_id,
       j::INTEGER AS frame_no,
       (j * 64)::BIGINT AS byte_offset,
       octet_length(encode(text))::INTEGER AS n_bytes
FROM documents,
     unnest(generate_series(0,
        greatest(ceil(octet_length(encode(text)) / 64.0)::INTEGER, 1) - 1)) AS t(j)
"""


def _mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode path: each doc becomes a genuine PPM image (dims
    from doc_id, pixels from the utf-8 text bytes); the pure-numpy
    decoder parses the container and the oracle reproduces every
    decoded field — header dims AND pixel-content checksum — from
    (doc_id, text) arithmetic in SQL."""
    assets = multimodal.ppm_assets_from_documents(_t(spark, sf_dir, "documents"))
    return multimodal.decode_metadata(assets).select(
        "asset_id", "fmt", "width", "height", "n_pixels", "content_sum"
    )


_MM_DECODE_SQL = """
SELECT doc_id AS asset_id, 'ppm' AS fmt,
       (4 + doc_id % 13)::INT AS width,
       (3 + doc_id % 7)::INT AS height,
       ((4 + doc_id % 13) * (3 + doc_id % 7))::BIGINT AS n_pixels,
       coalesce(list_sum(list_transform(
           generate_series(1, least((4 + doc_id % 13) * (3 + doc_id % 7) * 3,
                                    octet_length(encode(text)))),
           i -> ('0x' || substr(hex(encode(text)), 2 * i - 1, 2))::BIGINT)),
         0)::BIGINT AS content_sum
FROM documents
"""


def _mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = multimodal.assets_from_documents(_t(spark, sf_dir, "documents"))
    return multimodal.extract_features(assets).select(
        "asset_id", "kind", "n_bytes", "sha256"
    )


def _mm_features_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The byte_features kernel's value witness: the raw 16-bin
    payload-byte histogram as exact integers through the SAME
    mapInPandas Arrow plumbing, reproduced by the oracle from text
    code points (payloads are utf-8; the fixture is ASCII, where
    bytes == code points — asserted by the n_bytes twin elsewhere).
    Upgrades the mapInPandas feature stage from rows-only to
    hash-green; byte_features = hist / sum(hist)."""
    assets = multimodal.assets_from_documents(_t(spark, sf_dir, "documents"))
    return multimodal.byte_histogram_str(assets)


_MM_FEATURES_PARITY_SQL = (
    "SELECT doc_id AS asset_id, "
    + " || '-' || ".join(
        f"len(list_filter(string_split(text, ''), "
        f"c -> c <> '' AND unicode(c) // 16 = {b}))::VARCHAR"
        for b in range(16)
    )
    + " AS hist FROM documents"
)


# =============================================== relational operator suite

def _rel_scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F9-style scan + filter + computed projection (predicate
    pushdown + column pruning visible in .explain)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .where((F.col("l_quantity") > 45) & (F.col("l_discount") < 0.02))
        .select(
            "l_orderkey",
            "l_linenumber",
            qround(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            ),
        )
    )


_REL_SCAN_SQL = """
SELECT l_orderkey, l_linenumber,
       (floor((l_extendedprice * (1 - l_discount)) * 10000.0 + 0.5) / 10000.0) AS revenue
FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.02
"""


def _rel_agg_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped group-aggregate (A2/A6 analog)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            qround(F.sum("l_quantity"), 2).alias("sum_qty"),
            qround(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            qround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            qround(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_REL_AGG_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       (floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0) AS sum_qty,
       (floor((sum(l_extendedprice)) * 100.0 + 0.5) / 100.0) AS sum_base_price,
       (floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0) AS sum_disc_price,
       (floor((avg(l_quantity)) * 10000.0 + 0.5) / 10000.0) AS avg_qty,
       count(*)::BIGINT AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def _rel_join_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join through two broadcast dims (J3) + group-agg."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            qround(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


_REL_JOIN_DIMS_SQL = """
SELECT r_name, count(*)::BIGINT AS n_orders,
       (floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0) AS total_price
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def _rel_topk_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer (T1 window top-k)."""
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", F.col("rank").cast("long").alias("rank"))
    )


_REL_TOPK_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rank::BIGINT AS rank FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
) WHERE rank <= 3
"""


def _rel_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no big-ticket order (J4 anti-join / F7 exclusion)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 480000)
    return c.join(
        o, c["c_custkey"] == o["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


_REL_SEMI_ANTI_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 480000)
"""


def _rel_union_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1-U4: purchasers who never hit a big error (distinct EXCEPT)."""
    ev = _t(spark, sf_dir, "events")
    buyers = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    errs = (
        ev.where((F.col("event_type") == "error") & (F.col("value") > 300))
        .select("user_id")
        .distinct()
    )
    return buyers.exceptAll(errs).select("user_id")


_REL_UNION_EXCEPT_SQL = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
EXCEPT
SELECT DISTINCT user_id FROM events WHERE event_type = 'error' AND value > 300
"""


def _rel_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 min-max scaling per group + X6 sigmoid squash."""
    w = W.partitionBy("event_type")
    val, mn, mx = F.col("value"), F.min("value").over(w), F.max("value").over(w)
    scaled = F.when(mx == mn, F.lit(0.0)).otherwise((val - mn) / (mx - mn))
    return _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        qround(scaled, 6).alias("scaled"),
        # sigmoid needs exp(), which is only ~1-ulp-accurate in BOTH
        # engines' libm; 4dp rounding shrinks the boundary-flake window
        # ~100x vs 6dp (min-max scaling above is pure rational IEEE ops
        # and stays at 6dp)
        qround(F.lit(1.0) / (F.lit(1.0) + F.exp(-val)), 4).alias("sigmoid_value"),
    )


_REL_MINMAX_SQL = """
SELECT event_id, event_type,
       (floor((CASE WHEN max(value) OVER (PARTITION BY event_type)
                       = min(value) OVER (PARTITION BY event_type) THEN 0.0
                  ELSE (value - min(value) OVER (PARTITION BY event_type))
                       / (max(value) OVER (PARTITION BY event_type)
                          - min(value) OVER (PARTITION BY event_type)) END) * 1000000.0 + 0.5) / 1000000.0) AS scaled,
       (floor((1.0 / (1.0 + exp(-value::DOUBLE))) * 10000.0 + 0.5) / 10000.0) AS sigmoid_value
FROM events
"""


def _rel_quantile_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 threshold-selection analog: p90 of value per type with the
    linear interpolation spelled out MANUALLY — rank k = floor(.9(n-1)),
    p90 = a + (b-a)*frac — so both engines execute the identical IEEE
    op sequence (engine-internal percentile kernels may order the
    interpolation arithmetic differently, a residual 1-ulp flake risk
    the exact-math kernels elsewhere deliberately avoid)."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    wg = W.partitionBy("event_type")
    d = ev.withColumn(
        "rn", F.row_number().over(wg.orderBy("value"))
    ).withColumn("n", F.count(F.lit(1)).over(wg))
    pos = F.lit(0.9) * (F.col("n") - 1).cast("double")
    k = F.floor(pos).cast("long")
    d = d.withColumn("k", k).withColumn("frac", pos - F.floor(pos))
    agg = d.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == F.col("k") + 1, F.col("value"))).alias("a"),
        F.max(F.when(F.col("rn") == F.col("k") + 2, F.col("value"))).alias("b"),
        F.max("frac").alias("frac"),
    )
    p90 = F.col("a") + (F.coalesce(F.col("b"), F.col("a")) - F.col("a")) * F.col("frac")
    return agg.select("event_type", qround(p90, 4).alias("p90"))


_REL_QUANTILE_SQL = """
WITH d AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
), k AS (
  SELECT event_type, value, rn,
         CAST(floor(0.9::DOUBLE * (n - 1)::DOUBLE) AS BIGINT) AS k,
         0.9::DOUBLE * (n - 1)::DOUBLE - floor(0.9::DOUBLE * (n - 1)::DOUBLE) AS frac
  FROM d
), agg AS (
  SELECT event_type,
         max(CASE WHEN rn = k + 1 THEN value END) AS a,
         max(CASE WHEN rn = k + 2 THEN value END) AS b,
         max(frac) AS frac
  FROM k GROUP BY event_type
)
SELECT event_type,
       (floor((a + (coalesce(b, a) - a) * frac) * 10000.0 + 0.5) / 10000.0) AS p90
FROM agg
"""


def _rel_gold_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 rank-of-gold analog: price-rank of each order's first line."""
    w = W.partitionBy("l_orderkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_linenumber")
    )
    return (
        _t(spark, sf_dir, "lineitem")
        .withColumn("price_rank", F.row_number().over(w))
        .where(F.col("l_linenumber") == 1)
        .select("l_orderkey", F.col("price_rank").cast("long").alias("gold_rank"))
    )


_REL_GOLD_RANK_SQL = """
SELECT l_orderkey, price_rank::BIGINT AS gold_rank FROM (
  SELECT l_orderkey, l_linenumber,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_extendedprice DESC, l_linenumber ASC)
           AS price_rank
  FROM lineitem
) WHERE l_linenumber = 1
"""


def _rel_cluster_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 component-size histogram over (lang, source) groups."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("size"))
        .groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_groups"))
    )


_REL_CLUSTER_HIST_SQL = """
SELECT size, count(*)::BIGINT AS n_groups FROM (
  SELECT lang, source, count(*)::BIGINT AS size
  FROM documents GROUP BY lang, source
) GROUP BY size
"""


def _eval_ari_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 as a driver-oracled query: exact-integer ARI pair-counting
    components between the exact-dup partition (normalized-text groups)
    and the (lang, source) partition as the gold analog. n / idx2 /
    sa2 / sb2 come from the one contingency kernel
    (eval.nmi_ari_components); ari_num and ari_den are projected from
    them in BIGINT, so ARI = ari_num/ari_den is bit-identical across
    engines. The float NMI/ARI finish (`eval.nmi_ari`) is pytest-gated
    instead."""
    from blink_spark.eval import nmi_ari_components

    labels = _t(spark, sf_dir, "documents").select(
        ts.norm_sha256("text").alias("cluster_id"),
        F.concat_ws("|", "lang", "source").alias("entity_id"),
    )
    n, idx2, sa2, sb2 = (F.col(c) for c in ("n", "idx2", "sa2", "sb2"))
    n2 = n * (n - F.lit(1))
    return nmi_ari_components(labels).select(
        n,
        idx2,
        sa2,
        sb2,
        (F.lit(2) * (idx2 * n2 - sa2 * sb2)).alias("ari_num"),
        ((sa2 + sb2) * n2 - F.lit(2) * sa2 * sb2).alias("ari_den"),
    )


_EVAL_ARI_SQL = f"""
WITH l AS (
  SELECT {ts.norm_sha256_sql('text')} AS a, lang || '|' || source AS b
  FROM documents
), cells AS (
  SELECT a, b, count(*)::BIGINT AS nij FROM l GROUP BY a, b
), tot AS (
  SELECT sum(nij)::BIGINT AS n, sum(nij*(nij-1))::BIGINT AS idx2 FROM cells
), am AS (
  SELECT sum(ai*(ai-1))::BIGINT AS sa2
  FROM (SELECT sum(nij)::BIGINT AS ai FROM cells GROUP BY a)
), bm AS (
  SELECT sum(bj*(bj-1))::BIGINT AS sb2
  FROM (SELECT sum(nij)::BIGINT AS bj FROM cells GROUP BY b)
)
SELECT n, idx2, sa2, sb2,
       (2*(idx2*n*(n-1) - sa2*sb2))::BIGINT AS ari_num,
       ((sa2+sb2)*n*(n-1) - 2*sa2*sb2)::BIGINT AS ari_den
FROM tot, am, bm
"""


def _graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-lang chain+skip similarity graph over
    documents: chain edges (rn, rn+1) at weight 0.9 - (rn%7)/100 and
    skip edges (rn, rn+2) at weight 0.5 + (rn%5)/100. Every chain
    weight (>= 0.84) beats every skip weight (<= 0.54), so by the
    cycle property the maximum spanning forest is EXACTLY the chain —
    an analytically-known answer a SQL oracle can state directly."""
    d = (
        _t(spark, sf_dir, "documents")
        .select("lang", "doc_id")
        .withColumn(
            "rn", F.row_number().over(W.partitionBy("lang").orderBy("doc_id"))
        )
    )
    wl = W.partitionBy("lang").orderBy("doc_id")
    chain = d.select(
        "lang",
        F.col("doc_id").alias("src"),
        F.lead("doc_id", 1).over(wl).alias("dst"),
        qround(F.lit(0.9) - (F.col("rn") % 7).cast("double") * F.lit(0.01)).alias(
            "score"
        ),
    ).where(F.col("dst").isNotNull())
    skip = d.select(
        "lang",
        F.col("doc_id").alias("src"),
        F.lead("doc_id", 2).over(wl).alias("dst"),
        qround(F.lit(0.5) + (F.col("rn") % 5).cast("double") * F.lit(0.01)).alias(
            "score"
        ),
    ).where(F.col("dst").isNotNull())
    return chain.unionByName(skip)


def _graph_mst_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 maximum-spanning-forest pre-filter
    (special_partition.pyx:391-414) as a distributed operator: the
    per-component Kruskal (applyInPandas) over the chain+skip graph —
    grouped by the KNOWN block column (lang bounds every component by
    construction, so the distributed-CC prepass is skipped: the
    blocked-ER fast path). The oracle states the known answer (chain
    edges); pytest separately proves Kruskal == distributed Borůvka on
    random graphs and group_col == CC-grouped output."""
    from blink_spark.operators.mst import max_spanning_forest_per_component

    return max_spanning_forest_per_component(
        _graph_edges(spark, sf_dir), group_col="lang"
    )


_GRAPH_MST_SQL = """
WITH d AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents
)
SELECT doc_id AS src,
       lead(doc_id, 1) OVER (PARTITION BY lang ORDER BY doc_id) AS dst,
       (floor((0.9 - CAST(rn % 7 AS DOUBLE) * 0.01) * 1000000.0 + 0.5)
          / 1000000.0) AS score
FROM d QUALIFY dst IS NOT NULL
"""


def _link_partition_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 entity-constrained greedy partition
    (special_partition.pyx:288-356) on a graph whose kept-edge set is
    ANALYTICALLY derivable, so a SQL oracle can state the answer — the
    same trick graph_mst_forest uses for G3.

    Fixture: documents ordered by doc_id, grouped in fours (partial
    tail group dropped). Group g has mentions m0..m3 (pos = rank in
    group), main entity E(g) = -(2g+2), decoy entity D(g) = -(2g+1).
    Edges: chain m0->m1 (0.5), m1->m2 (0.6), m2->m3 (0.7), anchor
    m3->E (0.9), and per-mention decoy edges m_i->D at 0.100+0.001*pos.
    Every third group (g%3==0) OMITS the m1->m2 chain edge.

    Greedy trace (ascending score scan): decoys are processed first, in
    pos order. In an unbroken group each decoy drop still reaches E via
    the chain, so all decoys drop and the chain+anchor survive: all
    four mentions -> E. In a broken group m0's decoy drops (m0 reaches
    D THROUGH m1's still-present decoy — the scan-order interleaving
    the oracle pins), then m1's decoy is kept (m1 would be stranded),
    m2/m3 drop theirs (chain to E survives): m0,m1 -> D and m2,m3 -> E.
    Components here are mixed (mention-mention edges), so this drives
    the applyInPandas greedy, not the star argmax fast path.
    """
    from blink_spark.operators.linking import entity_constrained_partition

    g = _docs_groups_of_4(spark, sf_dir)
    ent = (-(F.col("grp") * 2 + 2)).cast("long")
    dec = (-(F.col("grp") * 2 + 1)).cast("long")
    decoy = g.select(
        F.col("doc_id").alias("src"),
        dec.alias("dst"),
        (F.lit(0.10) + F.col("pos").cast("double") * F.lit(0.001)).alias("score"),
        F.lit(False).alias("src_is_entity"),
        F.lit(True).alias("dst_is_entity"),
    )
    wl = W.partitionBy("grp").orderBy("pos")
    chain = (
        g.select(
            "grp",
            "pos",
            F.col("doc_id").alias("src"),
            F.lead("doc_id", 1).over(wl).alias("dst"),
            (F.lit(0.4) + (F.col("pos") + 1).cast("double") * F.lit(0.1)).alias("score"),
        )
        .where(F.col("dst").isNotNull())
        .where(~((F.col("grp") % 3 == 0) & (F.col("pos") == 1)))
        .select(
            "src",
            "dst",
            "score",
            F.lit(False).alias("src_is_entity"),
            F.lit(False).alias("dst_is_entity"),
        )
    )
    anchor = g.where(F.col("pos") == 3).select(
        F.col("doc_id").alias("src"),
        ent.alias("dst"),
        F.lit(0.9).alias("score"),
        F.lit(False).alias("src_is_entity"),
        F.lit(True).alias("dst_is_entity"),
    )
    part = entity_constrained_partition(decoy.unionByName(chain).unionByName(anchor))
    return part.where(~F.col("is_entity")).select(
        F.col("node_id").alias("doc_id"),
        F.col("entity_id").alias("pred_entity_id"),
    )


_LINK_PARTITION_CHAIN_SQL = """
WITH d AS (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS r FROM documents
), g AS (
  SELECT doc_id, CAST(floor(r / 4.0) AS BIGINT) AS grp, r % 4 AS pos,
         count(*) OVER (PARTITION BY CAST(floor(r / 4.0) AS BIGINT)) AS gsz
  FROM d
)
SELECT doc_id,
       CASE WHEN grp % 3 = 0 AND pos <= 1 THEN -(2 * grp + 1)
            ELSE -(2 * grp + 2) END AS pred_entity_id
FROM g WHERE gsz = 4
"""


def _eval_dendrogram_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8 HAC dendrogram purity (dendrogram_purity.py:295-311) over the
    deterministic chain+skip graph, gold classes = the documents
    `source` column. Rows-only: HAC is not SQL-expressible; the kernel
    is oracled in pytest against a brute-force LCA implementation at
    1e-9 (tests/test_dendrogram.py)."""
    from blink_spark.operators.dendrogram import dendrogram_purity

    out_rows = []
    edges = _graph_edges(spark, sf_dir)
    labels = _t(spark, sf_dir, "documents").select("doc_id", "source")
    for linkage in ("single", "complete", "average"):
        r = dendrogram_purity(
            edges, labels, linkage=linkage, label_cols=("doc_id", "source")
        )
        out_rows.append((linkage, float(r["purity"]), int(r["n_leaves"])))
    return spark.createDataFrame(
        out_rows, "linkage string, purity double, n_leaves long"
    )


def _eval_dendrogram_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8 dendrogram purity on a fixture whose purity has a CLOSED FORM
    a SQL oracle can state — the analytic-fixture trick graph_mst_forest
    / link_partition_chain use for G3/G4, applied to the HAC kernel.

    Fixture: per-lang pure chains (rn ordered by doc_id) with strictly
    decreasing similarity 1.0 - rn*1e-4 (distance = -score strictly
    increasing), labels cls = lang#(rn%5) (lang-scoped, so the final
    infinite-distance stitch across langs contributes no same-class
    pairs). On a pure chain every inter-cluster aggregate is a single
    edge (min == max == mean), so single/complete/average linkage all
    produce the identical prefix-merge sequence: merge i joins cluster
    {v1..vi} with singleton {v(i+1)}. Each merge's purity contribution
    is therefore cnt*(cnt+1)/rn where cnt = |{j < rn : cls(j) ==
    cls(rn)}| — a window count, which is exactly what the oracle
    computes. All three linkages must (and do) emit the same purity.
    Ref: dendrogram_purity.py:295-311 (Heller & Ghahramani 2005)."""
    from blink_spark.operators.dendrogram import dendrogram_purity

    d = (
        _t(spark, sf_dir, "documents")
        .select("lang", "doc_id")
        .withColumn(
            "rn", F.row_number().over(W.partitionBy("lang").orderBy("doc_id"))
        )
    )
    lab = d.select(
        "doc_id",
        F.concat_ws(
            "#", F.col("lang"), (F.col("rn") % 5).cast("string")
        ).alias("cls"),
    )
    wl = W.partitionBy("lang").orderBy("doc_id")
    edges = d.select(
        F.col("doc_id").alias("src"),
        F.lead("doc_id", 1).over(wl).alias("dst"),
        (F.lit(1.0) - F.col("rn").cast("double") * F.lit(1e-4)).alias("score"),
    ).where(F.col("dst").isNotNull())
    out_rows = []
    n_docs = lab.count()
    for linkage in ("single", "complete", "average"):
        # max_leaves covers the whole table: the closed form is over the
        # FULL chains, so the eval-set sampling must never kick in (at
        # default max_leaves=20k a >20k-doc table would fragment the
        # chains and silently diverge from the oracle)
        r = dendrogram_purity(
            edges, lab, linkage=linkage, label_cols=("doc_id", "cls"),
            max_leaves=max(n_docs, 1),
        )
        out_rows.append(
            (linkage, qround_py(r["purity"]), int(r["n_pairs"]), int(r["n_leaves"]))
        )
    return spark.createDataFrame(
        out_rows, "linkage string, purity double, n_pairs long, n_leaves long"
    )


_EVAL_DENDROGRAM_CHAIN_SQL = """
WITH d AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents
), c AS (
  SELECT lang, rn,
         count(*) OVER (PARTITION BY lang, rn % 5 ORDER BY rn
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cnt
  FROM d
), s AS (
  SELECT sum(CAST(cnt AS DOUBLE) * (cnt + 1) / rn) FILTER (WHERE rn >= 2) AS num,
         sum(cnt) AS den,
         count(*) AS n_leaves
  FROM c
)
SELECT l.linkage,
       floor((CASE WHEN den > 0 THEN num / den ELSE 1.0 END) * 1000000.0 + 0.5)
         / 1000000.0 AS purity,
       CAST(den AS BIGINT) AS n_pairs,
       n_leaves
FROM s CROSS JOIN (VALUES ('single'), ('complete'), ('average')) AS l(linkage)
"""


def _eval_bcubed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B³ precision/recall/F1 (Bagga & Baldwin 1998) of the
    deterministic groups-of-4 partition against the gold `source`
    classes — the extrinsic clustering metric alongside pairwise /
    NMI / ARI. Fully distributed (sparse cells + DECIMAL term sums);
    the oracle recomputes the closed form over the same fixture."""
    from blink_spark.eval import bcubed

    g, _ = _docs_ranked(spark, sf_dir, "source")
    labels = g.select(
        (F.col("r") / 4).cast("long").alias("cluster_id"),
        F.col("source").alias("entity_id"),
    )
    return bcubed(labels)


_EVAL_BCUBED_SQL = """
WITH d AS (
  SELECT source, CAST(floor((row_number() OVER (ORDER BY doc_id) - 1) / 4.0)
         AS BIGINT) AS pred
  FROM documents
), cells AS (
  SELECT pred, source, count(*) AS o FROM d GROUP BY 1, 2
), na AS (
  SELECT pred, sum(o) AS na FROM cells GROUP BY 1
), nb AS (
  SELECT source, sum(o) AS nb FROM cells GROUP BY 1
), s AS (
  SELECT sum(((c.o * c.o) / na.na)::DECIMAL(38,12)) AS sp,
         sum(((c.o * c.o) / nb.nb)::DECIMAL(38,12)) AS sr,
         sum(c.o) AS n
  FROM cells c JOIN na USING (pred) JOIN nb USING (source)
), f AS (
  SELECT CAST(sp AS DOUBLE) / n AS p, CAST(sr AS DOUBLE) / n AS r, n FROM s
)
SELECT (floor(p * 1000000.0 + 0.5) / 1000000.0) AS precision,
       (floor(r * 1000000.0 + 0.5) / 1000000.0) AS recall,
       (floor((2.0 * p * r / (p + r)) * 1000000.0 + 0.5) / 1000000.0) AS f1,
       n::BIGINT AS n
FROM f
"""


def _eval_nmi_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 distributed NMI+ARI (eval.nmi_ari_components, a fold of the
    one contingency kernel that pairwise, B³ and the G9 sweep's
    `nmi_ari` share): same groups-of-4 vs `source` fixture as
    eval_bcubed. Entropy sums are 1e-6-quantized ln terms summed as
    exact BIGINTs (order-free; JVM↔DuckDB↔libm agreement pinned by
    tests/test_eval_nmi.py::test_xlnx_micro_cross_engine), ARI the
    exact-integer pair components — so NMI and ARI are each ONE IEEE
    divide of integers both engines reproduce bit-for-bit."""
    from blink_spark.eval import nmi_ari_components

    g, _ = _docs_ranked(spark, sf_dir, "source")
    labels = g.select(
        (F.col("r") / 4).cast("long").alias("cluster_id"),
        F.col("source").alias("entity_id"),
    )
    return nmi_ari_components(labels)


_EVAL_NMI_SQL = """
WITH d AS (
  SELECT source, CAST(floor((row_number() OVER (ORDER BY doc_id) - 1) / 4.0)
         AS BIGINT) AS pred
  FROM documents
), cells AS (
  SELECT pred, source, count(*)::BIGINT AS nij FROM d GROUP BY 1, 2
), tot AS (
  SELECT sum(nij)::BIGINT AS n,
         sum(nij*(nij-1))::BIGINT AS idx2,
         sum(CAST(floor(nij * ln(nij) * 1000000.0 + 0.5) AS BIGINT))::BIGINT
           AS s_cells_u
  FROM cells
), am AS (
  SELECT sum(ai*(ai-1))::BIGINT AS sa2,
         sum(CAST(floor(ai * ln(ai) * 1000000.0 + 0.5) AS BIGINT))::BIGINT
           AS s_a_u
  FROM (SELECT sum(nij)::BIGINT AS ai FROM cells GROUP BY pred)
), bm AS (
  SELECT sum(bj*(bj-1))::BIGINT AS sb2,
         sum(CAST(floor(bj * ln(bj) * 1000000.0 + 0.5) AS BIGINT))::BIGINT
           AS s_b_u
  FROM (SELECT sum(nij)::BIGINT AS bj FROM cells GROUP BY source)
), k AS (
  SELECT n, idx2, sa2, sb2, s_cells_u, s_a_u, s_b_u,
         CASE WHEN n > 0
              THEN CAST(floor(n * ln(n) * 1000000.0 + 0.5) AS BIGINT)
              ELSE 0 END AS n_ln_n_u
  FROM tot, am, bm
)
SELECT n, idx2, sa2, sb2, s_cells_u, s_a_u, s_b_u, n_ln_n_u,
       CASE WHEN 2*n_ln_n_u - s_a_u - s_b_u > 0
            THEN least(1.0::DOUBLE, greatest(0.0::DOUBLE,
              floor((CAST(2*(s_cells_u + n_ln_n_u - s_a_u - s_b_u) AS DOUBLE)
                     / CAST(2*n_ln_n_u - s_a_u - s_b_u AS DOUBLE))
                    * 1000000.0 + 0.5) / 1000000.0))
            ELSE 1.0::DOUBLE END AS nmi,
       CASE WHEN (sa2+sb2)*n*(n-1) - 2*sa2*sb2 != 0
            THEN floor((CAST(2*(idx2*n*(n-1) - sa2*sb2) AS DOUBLE)
                        / CAST((sa2+sb2)*n*(n-1) - 2*sa2*sb2 AS DOUBLE))
                       * 1000000.0 + 0.5) / 1000000.0
            ELSE 1.0::DOUBLE END AS ari
FROM k
"""


def _rel_kmeans2_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 threshold selection, KMeans-style
    (crossencoder/eval_cluster_linking.py:211-215, 233-235): exact 1-D
    2-means split of events.value per event_type, computed entirely in
    window functions over exact DECIMAL prefix sums (see
    operators/thresholds.py for the cross-engine float discipline)."""
    from blink_spark.operators.thresholds import exact_2means_split

    return exact_2means_split(
        _t(spark, sf_dir, "events"), "value", by="event_type"
    )


def _rel_kmeans2_sql() -> str:
    from blink_spark.operators.thresholds import exact_2means_split_sql

    return exact_2means_split_sql("events", "value", by="event_type")


# ================================================================ contract

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING CONTRACT (round-3 VERDICT item 1, round-4 item 5): the
    # driver verifies the FIRST 50 entries only, so the dict is ordered
    # by verification need — (1) new this round, (2) STALE: last driver
    # CORRECTNESS row is >= 2 rounds old (the 21 queries outside the
    # round-4 window, last green r2/r3), (3) changed this round
    # (fixture or operator code touched), (4) filler from the round-4
    # hash-green set, (5) tail: round-4-green entries rotated out —
    # every tail entry has a CORRECTNESS_r04 row, so after this round
    # all 72 queries carry an r4-or-r5 row.
    return {
        # --- (1) new in round 5 ---
        "link_route_stats": _link_route_stats,
        # --- (2) stale: last checked r2/r3 ---
        "ann_nnd_topk": _ann_nnd_topk,
        "text_token_stats": _text_token_stats,
        "text_langid": _text_langid,
        "text_quality": _text_quality,
        "text_pii": _text_pii,
        "text_repetition": _text_repetition,
        "text_fingerprint": _text_fingerprint,
        "mm_asset_metadata": _mm_metadata,
        "mm_frame_sample": _mm_frames,
        "mm_decode": _mm_decode,
        "rel_scan_filter_project": _rel_scan_filter_project,
        "rel_agg_q1": _rel_agg_q1,
        "rel_join_dims": _rel_join_dims,
        "rel_topk_window": _rel_topk_window,
        "rel_semi_anti": _rel_semi_anti,
        "rel_union_except": _rel_union_except,
        "rel_minmax_scale": _rel_minmax_scale,
        "rel_quantile_threshold": _rel_quantile_threshold,
        "rel_gold_rank": _rel_gold_rank,
        "rel_cluster_hist": _rel_cluster_hist,
        "eval_ari_components": _eval_ari_components,
        # --- (3) changed in round 5 (groups-of-4 fixtures now derive
        # rank arithmetically; FS spill discipline; eval ARI NULL guard)
        "link_clusters_chain": _link_clusters_chain,
        "link_partition_chain": _link_partition_chain,
        "eval_bcubed": _eval_bcubed,
        "eval_nmi_components": _eval_nmi_components,
        "er_fs_weights": _er_fs_weights,
        "er_fs_multilevel": _er_fs_multilevel,
        "discover_reattach": _discover_reattach,
        # --- (4) round-4-green filler up to the 50-entry window ---
        "er_normalize": _er_normalize,
        "er_exact_dup_groups": _er_exact_dup_groups,
        "er_chain_cc": _er_chain_cc,
        "er_parity_minhash": _er_parity_minhash,
        "er_lsh_band_pairs": _er_lsh_band_pairs,
        "er_pair_scores": _scored_pairs,
        "er_topk_edges": _er_topk_edges,
        "er_sorted_neighborhood": _er_sorted_neighborhood,
        "er_sorted_global": _er_sorted_global,
        "samp_hash_split": _samp_hash_split,
        "samp_stratified_split": _samp_stratified_split,
        "samp_group_sample": _samp_group_sample,
        "link_topk_candidates": _link_topk_candidates,
        "link_best_entity": _link_best_entity,
        "graph_mst_forest": _graph_mst_forest,
        "rel_kmeans2_threshold": _rel_kmeans2_threshold,
        "dedup_exact_substring": _dedup_exact_substring,
        "dedup_substring_coverage": _dedup_substring_coverage,
        "dedup_simhash_fingerprints": _dedup_simhash_fp,
        "dedup_keep_representatives": _dedup_keep_reps,
        "dedup_decontaminate": _dedup_decontaminate,
        # --- (5) tail: round-4 hash-green, rotated out of the window ---
        "eval_dendrogram_chain": _eval_dendrogram_chain,
        "eval_dendrogram_purity": _eval_dendrogram_purity,
        "mm_byte_features_parity": _mm_features_parity,
        "mm_byte_features": _mm_features,
        "ann_nnd_parity": _ann_nnd_parity,
        "dedup_minhash_lsh_parity": _dedup_minhash_lsh_parity,
        "er_canopy_parity": _er_canopy_parity,
        "link_clusters": _link_clusters,
        "dedup_ngram_jaccard": _dedup_ngram_jaccard,
        "dedup_simhash_pairs": _dedup_simhash_pairs,
        "dedup_embedding_cosine": _dedup_embedding,
        "dedup_embedding_lsh": _dedup_embedding_lsh,
        "dedup_embedding_lsh_parity": _dedup_embedding_lsh_parity,
        "dedup_minhash_lsh": _dedup_minhash_lsh,
        "ann_cosine_topk": _ann_cosine_topk,
        "ann_ivf_topk": _ann_ivf_topk,
        "ann_ivf_parity": _ann_ivf_parity,
        "ann_ivf_refined_parity": _ann_ivf_refined_parity,
        "ann_pq_topk": _ann_pq_topk,
        "ann_pq_parity": _ann_pq_parity,
        "ann_lsh_topk": _ann_lsh_topk,
        "ann_lsh_parity": _ann_lsh_parity,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "er_normalize": _ER_NORMALIZE_SQL,
        "er_exact_dup_groups": _ER_EXACT_DUP_SQL,
        "er_chain_cc": _ER_CHAIN_CC_SQL,
        "er_parity_minhash": _ER_PARITY_MINHASH_SQL,
        "er_lsh_band_pairs": _er_lsh_band_pairs_sql(),
        "er_pair_scores": _SCORED_PAIRS_SQL,
        "er_topk_edges": _ER_TOPK_EDGES_SQL,
        "er_sorted_neighborhood": _ER_SORTED_NEIGHBORHOOD_SQL,
        "er_sorted_global": _ER_SORTED_GLOBAL_SQL,
        "er_fs_weights": _er_fs_weights_sql(),
        "er_fs_multilevel": _er_fs_multilevel_sql(),
        "er_canopy_parity": _ER_CANOPY_PARITY_SQL,
        "samp_hash_split": _samp_hash_split_sql(),
        "samp_stratified_split": _samp_stratified_split_sql(),
        "samp_group_sample": _SAMP_GROUP_SAMPLE_SQL,
        "link_topk_candidates": _link_sql("rank <= 3"),
        "link_best_entity": _LINK_BEST_SQL,
        # link_clusters: G4 over LSH-scored pairs — rows-only (pytest
        # gates); the greedy ITSELF is value-oracled by the analytic
        # link_partition_chain fixture below
        "link_partition_chain": _LINK_PARTITION_CHAIN_SQL,
        "link_clusters_chain": _LINK_CLUSTERS_CHAIN_SQL,
        "link_route_stats": _LINK_ROUTE_STATS_SQL,
        "discover_reattach": _DISCOVER_REATTACH_SQL,
        "graph_mst_forest": _GRAPH_MST_SQL,
        "rel_kmeans2_threshold": _rel_kmeans2_sql(),
        "dedup_exact_substring": _DEDUP_EXACT_SUBSTRING_SQL,
        "dedup_substring_coverage": _DEDUP_SUBSTRING_COVERAGE_SQL,
        "dedup_ngram_jaccard": _DEDUP_NGRAM_SQL,
        "dedup_simhash_fingerprints": _DEDUP_SIMHASH_FP_SQL,
        "dedup_simhash_pairs": _DEDUP_SIMHASH_PAIRS_SQL,
        "dedup_embedding_cosine": _DEDUP_EMBEDDING_SQL,
        # dedup_embedding_lsh: gaussian planes — rows-only; the same
        # bucketed flow is value-oracled with Rademacher planes
        "dedup_embedding_lsh_parity": _dedup_embedding_lsh_parity_sql(),
        # dedup_minhash_lsh: siphash signature — rows-only (the same
        # flow with signature="md5" is value-oracled right below)
        "dedup_minhash_lsh_parity": _dedup_minhash_lsh_parity_sql(),
        "dedup_keep_representatives": _DEDUP_KEEP_REPS_SQL,
        "dedup_decontaminate": _DEDUP_DECON_SQL,
        "ann_cosine_topk": _ANN_COSINE_SQL,
        # ann_ivf_topk / ann_lsh_topk: approximate engine-hash paths —
        # rows-only; the same sign-LSH flow is value-oracled with
        # Rademacher planes below
        "ann_lsh_parity": _ann_lsh_parity_sql(),
        "ann_nnd_parity": _ANN_NND_PARITY_SQL,
        "ann_ivf_parity": _ann_ivf_parity_sql(),
        "ann_ivf_refined_parity": _ann_ivf_refined_parity_sql(),
        "ann_pq_parity": _ann_pq_parity_sql(),
        "text_token_stats": _TEXT_TOKEN_STATS_SQL,
        "text_langid": _TEXT_LANGID_SQL,
        "text_quality": _TEXT_QUALITY_SQL,
        "text_pii": _TEXT_PII_SQL,
        "text_repetition": _TEXT_REPETITION_SQL,
        "text_fingerprint": _TEXT_FINGERPRINT_SQL,
        "mm_asset_metadata": _MM_METADATA_SQL,
        "mm_frame_sample": _MM_FRAMES_SQL,
        "mm_decode": _MM_DECODE_SQL,
        # mm_byte_features: mapInPandas production shape — rows-only;
        # the kernel's values are oracled by the integer-histogram twin
        "mm_byte_features_parity": _MM_FEATURES_PARITY_SQL,
        "rel_scan_filter_project": _REL_SCAN_SQL,
        "rel_agg_q1": _REL_AGG_Q1_SQL,
        "rel_join_dims": _REL_JOIN_DIMS_SQL,
        "rel_topk_window": _REL_TOPK_SQL,
        "rel_semi_anti": _REL_SEMI_ANTI_SQL,
        "rel_union_except": _REL_UNION_EXCEPT_SQL,
        "rel_minmax_scale": _REL_MINMAX_SQL,
        "rel_quantile_threshold": _REL_QUANTILE_SQL,
        "rel_gold_rank": _REL_GOLD_RANK_SQL,
        "rel_cluster_hist": _REL_CLUSTER_HIST_SQL,
        "eval_ari_components": _EVAL_ARI_SQL,
        "eval_dendrogram_chain": _EVAL_DENDROGRAM_CHAIN_SQL,
        "eval_bcubed": _EVAL_BCUBED_SQL,
        "eval_nmi_components": _EVAL_NMI_SQL,
    }
