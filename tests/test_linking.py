"""Entity-linking mode: G4 partition invariants (the reference's
asserts: no cluster without an entity, none with two —
eval_cluster_linking.py:233-235), linking accuracy on the synthetic
mention/catalogue fixture, the top_k-fracturing corpus healed by
entity anchoring, transductive pins, NMI/ARI oracle, k-ladder."""

import random

import pytest
from pyspark.sql import functions as F

from blink_spark import eval as beval
from blink_spark.corpus import generate_files
from blink_spark.functions import text
from blink_spark.linking import LinkPipeline, k_ladder
from blink_spark.operators.linking import (
    assign_entities_py,
    entity_reachable_nodes,
    special_partition_py,
)
from blink_spark.pipeline import ERConfig

CFG = ERConfig(bands=16, rows_per_band=4, num_hashes=64, shingle_k=3)


# ------------------------------------------------- greedy kernel (unit)

def _weak_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d, _ in edges:
        parent[find(s)] = find(d)
    comps = {}
    for n in parent:
        comps.setdefault(find(n), set()).add(n)
    return list(comps.values())


def _random_graph(rng, n_mentions=14, n_entities=3):
    mentions = list(range(100, 100 + n_mentions))
    entities = set(range(n_entities))
    edges = []
    for m in mentions:
        # best-entity edge for most mentions
        if rng.random() < 0.8:
            edges.append((m, rng.randrange(n_entities), round(rng.random(), 3)))
        for _ in range(rng.randrange(0, 3)):
            d = rng.choice(mentions)
            if d != m:
                edges.append((m, d, round(rng.random(), 3)))
    # dedup (src, dst)
    seen, out = set(), []
    for s, d, w in edges:
        if (s, d) not in seen:
            seen.add((s, d))
            out.append((s, d, w))
    return out, entities


def test_special_partition_invariants():
    rng = random.Random(7)
    for trial in range(25):
        edges, entities = _random_graph(rng)
        reach = entity_reachable_nodes([(s, d) for s, d, _ in edges], entities)
        live = [(s, d, w) for s, d, w in edges if s in reach and d in reach]
        kept = special_partition_py(live, entities)
        # (a) every initially-reachable source still reaches an entity
        kept_reach = entity_reachable_nodes([(s, d) for s, d, _ in kept], entities)
        for s, _, _ in live:
            assert s in kept_reach, (trial, s)
        # (b) out-degree exactly 1 per surviving source
        outdeg = {}
        for s, _, _ in kept:
            outdeg[s] = outdeg.get(s, 0) + 1
        assert all(v == 1 for v in outdeg.values()), (trial, outdeg)
        # (c) each weak component of the kept graph has exactly 1 entity
        for comp in _weak_components(kept):
            assert len(comp & entities) == 1, (trial, comp)
        # (d) assignments land on an entity in the same component
        assign = assign_entities_py(kept, entities)
        for comp in _weak_components(kept):
            ent = next(iter(comp & entities))
            for n in comp:
                assert assign[n] == ent


def test_special_partition_deterministic_under_input_order():
    rng = random.Random(13)
    edges, entities = _random_graph(rng, n_mentions=12)
    reach = entity_reachable_nodes([(s, d) for s, d, _ in edges], entities)
    live = [(s, d, w) for s, d, w in edges if s in reach and d in reach]
    base = sorted(special_partition_py(live, entities))
    for _ in range(5):
        shuffled = live[:]
        rng.shuffle(shuffled)
        assert sorted(special_partition_py(shuffled, entities)) == base


def test_special_partition_prefers_strong_edges():
    # m1 -> e1 (0.9) and m1 -> m2 -> e2; the weak m1->m2 edge must go
    edges = [(10, 1, 0.9), (10, 11, 0.3), (11, 2, 0.8)]
    kept = special_partition_py(edges, {1, 2})
    assert (10, 11, 0.3) not in kept
    assign = assign_entities_py(kept, {1, 2})
    assert assign[10] == 1 and assign[11] == 2


# -------------------------------------------------- fixtures (module)

def _five(df):
    return df.select("repo", "path", "commit", "lang", "content")


def _catalogue_rows(corpus):
    """One canonical catalogue row per entity (variant cycling reuses
    'base' for the 7th+ family member, so dedupe on entity_id)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("entity_id").orderBy("commit")
    return (
        corpus.where(F.col("variant") == "base")
        .withColumn("repo", F.lit("catalog"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@pytest.fixture(scope="module")
def link_fixture(spark):
    corpus = generate_files(spark, n_entities=120, seed=11).cache()
    corpus.count()
    catalogue = _five(_catalogue_rows(corpus)).cache()
    mentions = _five(corpus).cache()
    fid = text.stable_file_id("repo", "path", "commit")
    ment_gold = corpus.select(fid.alias("file_id"), "entity_id")
    cat_ids = _catalogue_rows(corpus).select(
        fid.alias("cat_file_id"), "entity_id"
    )
    gold = ment_gold.join(cat_ids, "entity_id").select(
        "file_id", F.col("cat_file_id").alias("entity_id")
    ).cache()
    gold.count()
    return mentions, catalogue, gold, ment_gold


def test_linking_end_to_end(spark, link_fixture):
    mentions, catalogue, gold, _ = link_fixture
    res = LinkPipeline(CFG, mention_knn=4).run(mentions, catalogue)
    acc = beval.linking_accuracy(res.tables["pred"], gold)
    assert acc["n_mentions"] == mentions.count()
    assert acc["accuracy"] >= 0.98, acc
    # reference invariant: every predicted entity is a real entity node
    part = res.tables["partition"]
    ent_nodes = {
        r["node_id"] for r in part.where(F.col("is_entity")).collect()
    }
    preds = {
        r["pred_entity_id"]
        for r in res.tables["pred"].collect()
        if r["pred_entity_id"] is not None
    }
    assert preds <= ent_nodes
    # and entity nodes map to themselves
    bad = part.where(
        F.col("is_entity") & (F.col("entity_id") != F.col("node_id"))
    ).count()
    assert bad == 0


def test_link_pipeline_boundary_budget(spark, link_fixture, spill_paths):
    """A LinkPipeline run writes only its multi-consumer tables, the CC
    rounds and the G4 routing write: CC makes no write of its oriented
    input and G4 no stats spill or route-count collect."""
    mentions, catalogue, _, _ = link_fixture
    sc = spark.sparkContext
    sc.setJobGroup("link_boundary_budget", "link_boundary_budget")
    try:
        LinkPipeline(CFG).run(mentions, catalogue).tables["pred"].collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("link_boundary_budget"))
    assert len(spill_paths) <= 5, spill_paths
    assert n_jobs <= 52, n_jobs


def test_topk_fracture_healed_by_entity_anchor(spark):
    """The measured failure G4 exists to prevent: with per-node top-k
    edges a big clone family fractures (pipeline.py:69-75). With a
    catalogue anchor + entity-constrained partition, top-k stays ON
    and pairwise F1 >= 0.99."""
    corpus = generate_files(spark, n_entities=40, seed=5, hot_family_size=120).cache()
    corpus.count()
    catalogue = _five(_catalogue_rows(corpus))
    mentions = _five(corpus)
    fid = text.stable_file_id("repo", "path", "commit")
    ment_gold = corpus.select(fid.alias("file_id"), "entity_id")
    res = LinkPipeline(CFG, mention_knn=3).run(mentions, catalogue)
    m = beval.pairwise_metrics(res.tables["clusters"], ment_gold)
    assert m["f1"] >= 0.99, m


def test_transductive_pins(spark, link_fixture):
    """G2: +inf train-label edges force the labeled mentions onto
    their gold entity (eval_cluster_linking.py:578-589)."""
    mentions, catalogue, gold, _ = link_fixture
    pins = gold.limit(20).select(
        F.col("file_id").alias("mention_id"), "entity_id"
    )
    res = LinkPipeline(CFG, mention_knn=2).run(
        mentions, catalogue, train_labels=pins
    )
    chk = res.tables["pred"].join(
        pins.select(F.col("mention_id").alias("file_id"), "entity_id"), "file_id"
    )
    wrong = chk.where(
        F.col("pred_entity_id").isNull()
        | (F.col("pred_entity_id") != F.col("entity_id"))
    ).count()
    assert wrong == 0


def test_entity_candidate_recall(spark, link_fixture):
    """A9/A2 analog: the gold entity appears in the top-recall_k
    candidates for nearly every mention."""
    mentions, catalogue, gold, _ = link_fixture
    pipe = LinkPipeline(CFG)
    flagged, men_ids, _ = pipe.score_joint(mentions, catalogue)
    cands = pipe.entity_candidates(flagged, k=8)
    hit = cands.join(
        gold.select(F.col("file_id").alias("mention_id"), "entity_id"),
        ["mention_id", "entity_id"],
        "left_semi",
    ).select("mention_id").distinct().count()
    n = gold.count()
    assert hit / n >= 0.98, (hit, n)


# ------------------------------------------------------------- NMI/ARI

def test_nmi_ari_matches_python_oracle(spark):
    rng = random.Random(3)
    rows = [(i, rng.randrange(8), rng.randrange(6)) for i in range(300)]
    clusters = spark.createDataFrame(
        [(i, c) for i, c, _ in rows], "file_id long, cluster_id long"
    )
    gold = spark.createDataFrame(
        [(i, e) for i, _, e in rows], "file_id long, entity_id long"
    )
    got = beval.nmi_ari(clusters, gold)
    exp_nmi, exp_ari = beval.nmi_ari_py(
        [c for _, c, _ in rows], [e for _, _, e in rows]
    )
    assert got["nmi"] == pytest.approx(exp_nmi, abs=1e-9)
    assert got["ari"] == pytest.approx(exp_ari, abs=1e-9)


def test_nmi_ari_known_values():
    # identical partitions
    nmi, ari = beval.nmi_ari_py([0, 0, 1, 1], [5, 5, 9, 9])
    assert nmi == pytest.approx(1.0) and ari == pytest.approx(1.0)
    # independent-ish split
    nmi2, ari2 = beval.nmi_ari_py([0, 0, 1, 1], [0, 1, 0, 1])
    assert nmi2 == pytest.approx(0.0, abs=1e-12)
    assert ari2 == pytest.approx(-0.5, abs=1e-12)


def _ari_num_den(row):
    """ARI numerator and denominator finished in Python ints from the
    doubled pair counts of nmi_ari_components."""
    n, idx2, sa2, sb2 = row["n"], row["idx2"], row["sa2"], row["sb2"]
    n2 = n * (n - 1)
    return 2 * (idx2 * n2 - sa2 * sb2), (sa2 + sb2) * n2 - 2 * sa2 * sb2


def test_ari_components_match_python_oracle(spark):
    rng = random.Random(7)
    rows = [(rng.randrange(8), rng.randrange(6)) for _ in range(400)]
    labels = spark.createDataFrame(rows, "cluster_id long, entity_id long")
    row = beval.nmi_ari_components(labels).collect()[0]
    _, exp_ari = beval.nmi_ari_py([a for a, _ in rows], [b for _, b in rows])
    ari_num, ari_den = _ari_num_den(row)
    assert row["n"] == 400
    assert ari_den > 0
    assert ari_num / ari_den == pytest.approx(exp_ari, abs=1e-12)
    # doubled pair counts agree with direct combinatorics
    from collections import Counter

    ca = Counter(a for a, _ in rows)
    assert row["sa2"] == sum(v * (v - 1) for v in ca.values())


def test_ari_components_trivial_partitions(spark):
    # both sides one giant cluster => den == 0 (ARI defined as 1.0)
    labels = spark.createDataFrame(
        [(1, 9)] * 10, "cluster_id long, entity_id long"
    )
    row = beval.nmi_ari_components(labels).collect()[0]
    ari_num, ari_den = _ari_num_den(row)
    assert (ari_den, ari_num) == (0, 0)
    assert row["idx2"] == row["sa2"] == row["sb2"] == 90


# ------------------------------------------------------------ k-ladder

def test_k_ladder_argmax(spark, link_fixture, tmp_path):
    from blink_spark.io.tables import StageStore

    mentions, catalogue, gold, _ = link_fixture
    store = StageStore(spark, str(tmp_path / "ladder"))
    results, best = k_ladder(
        mentions, catalogue, gold, ks=(0, 2, 4), cfg=CFG, store=store
    )
    rows = {r["k"]: r["accuracy"] for r in results.collect()}
    assert set(rows) == {0, 2, 4}
    assert best["accuracy"] == max(rows.values())
    assert all(0.0 <= v <= 1.0 for v in rows.values())
    # the sweep persists a durable results table (T6) + best config (A8)
    stored = {r["k"]: r["accuracy"] for r in store.read("k_ladder_results").collect()}
    assert stored == rows
    assert store.read_metrics().where(
        F.col("stage") == "k_ladder_best"
    ).count() == 1


def test_linking_undirected_graph_mode(spark, link_fixture):
    """graph_mode='undirected' (G3 MST pre-filter + symmetrize before
    the greedy, crossencoder/eval_cluster_linking.py:232): same
    accuracy gate and one-entity-per-cluster invariant as directed."""
    mentions, catalogue, gold, _ = link_fixture
    res = LinkPipeline(CFG, mention_knn=4).run(
        mentions, catalogue, undirected=True
    )
    acc = beval.linking_accuracy(res.tables["pred"], gold)
    assert acc["accuracy"] >= 0.98, acc
    part = res.tables["partition"]
    # each non-null cluster contains exactly one entity
    ents = (
        part.where(F.col("is_entity"))
        .groupBy("entity_id")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert ents == 0


def test_link_store_not_poisoned_by_dedup_run(spark, link_fixture, tmp_path):
    """A store root previously used by a SELF-DEDUP run must not leak
    its s0..s2 tables into a linking run (score_joint auto-namespaces
    under link/): resuming dedup-scored pairs would silently link
    nothing."""
    from blink_spark.io.tables import StageStore
    from blink_spark.pipeline import ERPipeline

    mentions, catalogue, gold, _ = link_fixture
    store = StageStore(spark, str(tmp_path / "root"))
    ERPipeline(CFG).run(mentions, store=store, until="score")
    assert store.exists("s2_scores")  # the poisoned tables are there
    res = LinkPipeline(CFG, mention_knn=2).run(mentions, catalogue, store=store)
    acc = beval.linking_accuracy(res.tables["pred"], gold)
    assert acc["accuracy"] >= 0.98, acc
    # and the linking stages landed in their own namespace
    assert store.sub("link").exists("s2_scores")


def test_bcubed_matches_brute_force(spark):
    """B³ via the sparse-cell closed form == the per-item definition
    (Bagga & Baldwin 1998) computed in pure Python."""
    import random

    from blink_spark.eval import bcubed

    rng = random.Random(5)
    rows = [(i, rng.randrange(6), rng.randrange(4)) for i in range(300)]
    df = spark.createDataFrame(rows, "i long, cluster_id long, entity_id long")
    got = bcubed(df.select("cluster_id", "entity_id")).collect()[0]
    # brute force: mean over items of overlap/|pred| and overlap/|gold|
    from collections import Counter

    pred = Counter(c for _, c, _ in rows)
    gold = Counter(g for _, _, g in rows)
    cell = Counter((c, g) for _, c, g in rows)
    p = sum(cell[(c, g)] / pred[c] for _, c, g in rows) / len(rows)
    r = sum(cell[(c, g)] / gold[g] for _, c, g in rows) / len(rows)
    f1 = 2 * p * r / (p + r)
    assert got["precision"] == pytest.approx(p, abs=1e-6)
    assert got["recall"] == pytest.approx(r, abs=1e-6)
    assert got["f1"] == pytest.approx(f1, abs=1e-6)
    assert got["n"] == 300


def test_bcubed_perfect_and_degenerate(spark):
    from blink_spark.eval import bcubed

    same = spark.createDataFrame(
        [(i % 3, i % 3) for i in range(30)], "cluster_id long, entity_id long"
    )
    row = bcubed(same).collect()[0]
    assert row["precision"] == 1.0 and row["recall"] == 1.0 and row["f1"] == 1.0
    # everything in one predicted cluster: precision = sum n_g^2 / N^2
    lump = spark.createDataFrame(
        [(0, i % 3) for i in range(30)], "cluster_id long, entity_id long"
    )
    row = bcubed(lump).collect()[0]
    assert row["recall"] == 1.0
    assert row["precision"] == pytest.approx(3 * (10 / 30) * (10 / 30), abs=1e-6)
