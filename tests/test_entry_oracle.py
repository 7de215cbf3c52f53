"""Driver-contract gate: a fast subset of __spark_entry__ queries vs
their DuckDB oracles at sf0.001 (the driver runs the full set at
sf0.01 — scripts/check_oracle.py replays that locally)."""

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
FAST_QUERIES = [
    "er_normalize",
    "er_exact_dup_groups",
    "er_pair_scores",
    "dedup_simhash_fingerprints",
    "dedup_minhash_lsh_parity",
    "text_quality",
    "text_fingerprint",
    "mm_frame_sample",
    "link_partition_chain",
    "discover_reattach",
    "rel_agg_q1",
    "rel_topk_window",
    "rel_minmax_scale",
    # round-3 additions
    "eval_dendrogram_chain",
    "ann_pq_parity",
    "ann_ivf_parity",
    "ann_ivf_refined_parity",
    "er_sorted_neighborhood",
    "er_fs_weights",
    "er_fs_multilevel",
    "er_canopy_parity",
    "eval_bcubed",
    # NMI/ARI folds of the one contingency kernel
    "eval_ari_components",
    "eval_nmi_components",
    # the sign-LSH flows run by ann_lsh_topk / dedup_embedding_lsh,
    # with Rademacher planes
    "ann_lsh_parity",
    "dedup_embedding_lsh_parity",
    # the G4 router's decision table and the whole LinkPipeline
    "link_route_stats",
    "link_clusters_chain",
    # connected components, the per-language Kruskal max spanning
    # forest (max_spanning_forest_per_component(group_col="lang"); no CC
    # and no Borůvka, which test_mst.py checks against Kruskal) and the
    # library's top_k_per_node
    "er_chain_cc",
    "graph_mst_forest",
    "er_topk_edges",
]

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.fixture(scope="module")
def entry_mod():
    import __spark_entry__

    return __spark_entry__


@pytest.mark.parametrize("name", FAST_QUERIES)
def test_query_matches_oracle(spark, duck, entry_mod, name):
    sdf = entry_mod.queries()[name](spark, SF_DIR).toPandas()
    odf = duck.execute(entry_mod.oracle_sql()[name]).df()
    assert len(sdf) == len(odf)
    assert sorted(sdf.columns) == sorted(odf.columns)
    pd.testing.assert_frame_equal(
        _canon(sdf), _canon(odf), check_dtype=False, check_exact=True
    )


def test_entry_smoke(spark, entry_mod):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"file_id", "cluster_id", "sha256"}
