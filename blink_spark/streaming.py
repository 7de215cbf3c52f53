"""Structured-Streaming ingest: incremental dedup/linking of ARRIVING
files against an indexed corpus.

The reference is batch-only (every eval loads pickled embeddings,
/root/reference/blink/biencoder/eval_cluster_linking.py:291-346); at
production scale new repositories arrive continuously, so the engine
gets a streaming front end:

  * ``normalize_stream``   the s0 transform on a readStream source —
                           stateless Column exprs work unchanged
  * ``signature_stream``   the fused Arrow signature kernel (pandas
                           UDFs run per micro-batch)
  * ``exact_dedup_stream`` watermarked dropDuplicates on the
                           normalized-content hash: first arrival
                           wins, state bounded by the watermark
  * ``match_stream_against_catalogue``
                           stream-static band-key equi-join against a
                           precomputed signature index + exact-Jaccard
                           verify — the incremental MinHash-LSH path
                           (only NEW files are hashed per batch; the
                           static index is a plain table the batch
                           pipeline already produces)

All operators return streaming DataFrames; callers pick the sink
(``availableNow`` triggers in tests, continuous micro-batches in
production) and a checkpointLocation for exactly-once state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blink_spark.functions import text
from blink_spark.functions.rounding import qround
from blink_spark.functions.similarity import presorted_jaccard_udf
from blink_spark.pipeline import ERConfig, signature_kernel


def normalize_stream(files: DataFrame, cfg: ERConfig | None = None) -> DataFrame:
    """s0 on a stream: stable file_id + sha256 invariant (stateless)."""
    c = cfg or ERConfig()
    cols = [
        text.stable_file_id(*c.key_cols).alias("file_id"),
        *[F.col(k) for k in c.key_cols],
        F.col(c.lang_col).alias("lang"),
        F.col(c.content_col).alias("content"),
        text.content_sha256(c.content_col).alias("sha256"),
    ]
    if "event_ts" in files.columns:
        cols.append(F.col("event_ts"))
    return files.select(*cols)


def signature_stream(
    s0: DataFrame, cfg: ERConfig | None = None
) -> DataFrame:
    """s1 on a stream: ONE fused Arrow pass per micro-batch (bands +
    sorted unique shingle hashes for downstream verify joins)."""
    feat = signature_kernel(cfg or ERConfig(), return_shingles=True)
    keep = [col for col in ("event_ts",) if col in s0.columns]
    return s0.select(
        "file_id", "lang", "sha256", *keep,
        feat(F.col("content"), F.col("lang")).alias("ft"),
    ).select(
        "file_id", "lang", "sha256", *keep,
        F.col("ft.bands").alias("bands"),
        F.col("ft.su").alias("su"),
    )


def exact_dedup_stream(
    s0: DataFrame,
    watermark_delay: str = "10 minutes",
    ts_col: str = "event_ts",
) -> DataFrame:
    """First-arrival-wins exact dedup across micro-batches: state keyed
    by the normalized-content hash, expired past the watermark (bounded
    memory — the unbounded-state dropDuplicates is exactly what you
    must NOT run on an infinite stream)."""
    from blink_spark.functions.textstats import norm_sha256

    keyed = s0.withColumn("norm_sha", norm_sha256("content"))
    return keyed.withWatermark(ts_col, watermark_delay).dropDuplicates(
        ["norm_sha"]
    )


def build_signature_index(files: DataFrame, cfg: ERConfig | None = None) -> DataFrame:
    """The STATIC side: (file_id, band block_key, su) for the existing
    corpus — write it once with the batch pipeline, read it as a plain
    table; the stream equi-joins against it per micro-batch."""
    c = cfg or ERConfig()
    sigs = signature_stream(normalize_stream(files, c), c)
    return sigs.select(
        F.col("file_id").alias("index_id"),
        F.col("su").alias("index_su"),
        F.explode("bands").alias("block_key"),
    )


def match_stream_against_catalogue(
    stream_sigs: DataFrame,
    index: DataFrame,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Stream-static incremental MinHash-LSH: each arriving file joins
    the prebuilt band index on its band keys (hash equi-join — Spark
    plans the static side as a broadcast/shuffled lookup per batch),
    then exact shingle-Jaccard verifies candidates.
    Returns (file_id, index_id, jaccard)."""
    keyed = stream_sigs.select(
        "file_id", "su", F.explode("bands").alias("block_key")
    )
    jac = qround(
        presorted_jaccard_udf()(F.col("su"), F.col("index_su")), 6
    ).alias("jaccard")
    return (
        keyed.join(index, "block_key")
        .where(F.col("file_id") != F.col("index_id"))
        .select("file_id", "index_id", jac)
        .where(F.col("jaccard") >= jaccard_threshold)
        .dropDuplicates(["file_id", "index_id"])
    )


# ---------------------------------------------- custom stateful operator

ASSIGN_OUTPUT_SCHEMA = (
    "block_key bigint, file_id bigint, rep_id bigint, "
    "jaccard double, is_new_rep boolean"
)
ASSIGN_STATE_SCHEMA = "rep_ids array<bigint>, rep_sus array<binary>"


def incremental_assign_stream(
    stream_sigs: DataFrame,
    jaccard_threshold: float = 0.5,
    max_reps_per_block: int = 64,
    state_ttl_ms: int = 6 * 3600 * 1000,
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    incremental cluster assignment of ARRIVING files.

    Batch clustering re-runs CC over all edges; a stream cannot. This
    operator keeps, per LSH band key, the signatures of up to
    ``max_reps_per_block`` cluster REPRESENTATIVES seen so far. Each
    arriving file is exact-Jaccard-verified against its block's
    representatives: first match >= threshold assigns the file to that
    representative's cluster (first-arrival-wins, like the reference's
    dedup direction); no match promotes the file to a new
    representative. State is bounded two ways — the rep cap (overflow
    files are emitted as their own singleton cluster, never stored)
    and a processing-time TTL that expires idle blocks.

    A file appears under several band keys; downstream,
    :func:`resolve_assignments` folds the per-band rows into one
    cluster per file — its best-scoring NON-SELF representative across
    bands (ties to the smaller rep_id), self if nothing matched. Rows
    within a micro-batch group are processed in file_id order (chunks
    concatenated first) so replays are deterministic.
    """
    import numpy as np
    import pandas as pd

    thr = float(jaccard_threshold)
    cap = int(max_reps_per_block)
    ttl = int(state_ttl_ms)

    def assign(key, pdf_iter, state):
        if state.hasTimedOut:
            state.remove()
            return
        block_key = key[0]
        if state.exists:
            rep_ids, rep_sus = state.get
            rep_ids = list(rep_ids)
            reps = [np.frombuffer(b, dtype=np.int64) for b in rep_sus]
        else:
            rep_ids, reps = [], []
        out = []
        # Concatenate the group's Arrow chunks BEFORE sorting: chunk
        # arrival order follows shuffle-fetch order (nondeterministic),
        # so per-chunk sorting would break replay determinism for
        # groups larger than one Arrow batch.
        whole = pd.concat(list(pdf_iter), ignore_index=True)
        if len(whole):
            whole = whole.sort_values("file_id", kind="mergesort")
            for fid, su in zip(whole["file_id"], whole["su"]):
                mine = np.asarray(su, dtype=np.int64)
                best_rep, best_j = None, 0.0
                for rid, rsu in zip(rep_ids, reps):
                    inter = np.intersect1d(mine, rsu, assume_unique=True).size
                    union = mine.size + rsu.size - inter
                    j = (inter / union) if union else 1.0
                    if j >= thr and (best_rep is None or j > best_j):
                        best_rep, best_j = rid, j
                if best_rep is not None:
                    out.append((block_key, int(fid), int(best_rep), float(best_j), False))
                elif len(rep_ids) < cap:
                    rep_ids.append(int(fid))
                    reps.append(mine)
                    out.append((block_key, int(fid), int(fid), 1.0, True))
                else:  # state full: emit as singleton, do not store
                    out.append((block_key, int(fid), int(fid), 1.0, False))
        state.update((rep_ids, [r.tobytes() for r in reps]))
        state.setTimeoutDuration(ttl)
        yield pd.DataFrame(
            out,
            columns=["block_key", "file_id", "rep_id", "jaccard", "is_new_rep"],
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = stream_sigs.select(
        "file_id", "su", F.explode("bands").alias("block_key")
    )
    return keyed.groupBy("block_key").applyInPandasWithState(
        assign,
        outputStructType=ASSIGN_OUTPUT_SCHEMA,
        stateStructType=ASSIGN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def resolve_assignments(assignments: DataFrame) -> DataFrame:
    """Batch-side resolution of per-band assignments (use in
    foreachBatch / on the sink table): a file's cluster is its
    best-scoring NON-SELF representative across bands (ties: smaller
    rep_id); files that matched nothing anywhere are their own
    cluster. Returns (file_id, cluster_id)."""
    from pyspark.sql import Window as W

    matches = assignments.where(F.col("rep_id") != F.col("file_id"))
    w = W.partitionBy("file_id").orderBy(F.desc("jaccard"), F.asc("rep_id"))
    best = (
        matches.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("file_id", F.col("rep_id").alias("cluster_id"))
    )
    return (
        assignments.select("file_id")
        .distinct()
        .join(best, "file_id", "left")
        .select(
            "file_id", F.coalesce("cluster_id", F.col("file_id")).alias("cluster_id")
        )
    )


def resolve_assignments_transitive(assignments: DataFrame) -> DataFrame:
    """Batch-parity resolution: treat the per-band (file, rep) matches
    as EDGES and close them transitively with connected components —
    the same stage-3 semantics as the batch pipeline, so a streamed
    corpus and a batch run produce the same PARTITION (cluster labels
    = min member id, like assign_clusters). resolve_assignments is the
    cheaper per-file argmax; use this one when stream output must be
    compared to / unioned with batch clusters."""
    from blink_spark.operators.connected_components import (
        assign_clusters,
        connected_components,
    )

    edges = (
        assignments.where(F.col("rep_id") != F.col("file_id"))
        .select(F.col("file_id").alias("id_a"), F.col("rep_id").alias("id_b"))
    )
    all_ids = assignments.select("file_id").distinct()
    return assign_clusters(all_ids, connected_components(edges), id_col="file_id")
