"""Names shared by the workloads and the self-test. The metric names,
units and bounds themselves live only in BENCHMARK.json."""

from __future__ import annotations

STAGES = (
    "s0_normalized",
    "s1_signatures",
    "s1_blocks",
    "s2_pairs",
    "s2_scores",
    "s2_edges",
    "s3_clusters",
)

# the production MinHash-LSH near-dup query (rows-only check) and an
# oracled curation query
REGISTRY_SLICE = ("dedup_minhash_lsh", "dedup_decontaminate")
