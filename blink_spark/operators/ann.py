"""Approximate nearest-neighbor search over an embedding column.

The reference's retrieval stack is FAISS: IndexFlatIP exact search
below 10k vectors, IndexIVFFlat (nlist=sqrt(n), nprobe=sqrt(nlist))
above (/root/reference/blink/biencoder/data_process_mult.py:225-250),
plus an HNSW variant (/root/reference/blink/index/faiss_indexer.py:72-137).
Here the same exact->approximate ladder is expressed as DataFrames:

  * cosine_topk       exact brute-force (the IndexFlatIP analog) —
                      join + window top-k; broadcast the smaller side
  * ivf_topk          IVF: deterministic centroid sample, cell
                      assignment via a broadcast join against the
                      centroid table, queries probe nprobe cells (the
                      IndexIVFFlat analog; cell equi-join replaces the
                      cross join)
  * lsh_topk          random-hyperplane sign-LSH bucket keys (the
                      HNSW/ANN alternative; bucket equi-join)

Scores are rounded to 6 dp so results hash identically across engines
and parallelism levels.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from blink_spark.functions.parityhash import sample_hash64
from blink_spark.functions.rounding import qround
from blink_spark.functions.similarity import array_cosine, array_dot
from blink_spark.io.scratch import (
    make_parquet_checkpointer,
    observed_checkpoint,
    spill_scratch,
)
from blink_spark.operators.connected_components import exact_sum


def _topk_window(scored: DataFrame, k: int) -> DataFrame:
    w = W.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame | None = None,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: (query_id, neighbor_id, cosine, rank).

    queries=None -> self-search (excludes self-pairs).

    Broadcast policy: broadcast the query side ONLY when an explicit
    bounded query table is given
    (|queries| << |corpus| is the baseline shape — the corpus streams
    and never shuffles). Self-search broadcasts NOTHING: the "query
    side" is the whole corpus, and broadcasting it OOMs every executor
    at scale — instead force a shuffle-replicated nested loop
    (CartesianProduct: each task pairs one left partition with one
    right partition; memory-bounded at any corpus size).
    """
    self_search = queries is None
    q = corpus if self_search else queries
    qs = q.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    cs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    if not self_search:
        qs = F.broadcast(qs)
    else:
        # bars BroadcastNestedLoopJoin (which would broadcast a side)
        qs = qs.hint("shuffle_replicate_nl")
    scored = (
        qs.crossJoin(cs)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            qround(array_cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine"),
        )
    )
    return _topk_window(scored, k)


# ----------------------------------------------------------------- IVF

def _vec_matrix(series: pd.Series, dim: int, what: str) -> np.ndarray:
    """Stack an Arrow batch of embeddings into [n, dim] float64 with a
    CLEAR error for null / ragged rows (a bad row otherwise surfaces as
    an opaque object-array matmul failure deep inside numpy)."""
    vecs = []
    for i, v in enumerate(series):
        if v is None or len(v) != dim:
            got = "null" if v is None else f"len={len(v)}"
            raise ValueError(
                f"{what}: embedding row {i} in batch is {got}, expected "
                f"array of length {dim}; filter or fix upstream"
            )
        vecs.append(v)
    return np.asarray(vecs, dtype=np.float64)


def ivf_cells_df(
    corpus: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    id_hash: str = "xxhash",
) -> DataFrame:
    """Centroid TABLE (cell_id, centroid): the n_cells rows with the
    smallest parityhash.sample_hash64(id) — order-free,
    parallelism-independent (the kmeans-free analog of FAISS's
    clustering). cell_id is the rank in the sample. Never collected to
    the driver: at nlist = sqrt(10^12) a driver-side centroid matrix is
    GBs, a broadcast-joined table is not. PQ codebooks draw their
    codeword sample here too.

    id_hash="md5" makes the sample SQL-reproducible for the parity
    oracles; production stays xxhash."""
    h = sample_hash64(id_col, seed, id_hash)
    sample = (
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("centroid"), h.alias("h"))
        .orderBy("h")
        .limit(n_cells)
    )
    # n_cells rows only — the single-partition window is bounded
    w = W.orderBy("h", "cid")
    return sample.select(
        (F.row_number().over(w) - 1).cast("int").alias("cell_id"), "centroid"
    )


def _component_means(assigned: DataFrame, keys: list[str], vec_col: str) -> DataFrame:
    """(*keys, newc): the per-key mean of the vectors in vec_col — the
    Lloyd update shared by ivf_refine_centroids and pq_codebooks.
    posexplode + DECIMAL-exact component sums (order-free =>
    parallelism-independent), reassembled with array_sort. The EXACT
    decimal sum is cast to double BEFORE dividing: decimal division
    scale rules are engine-specific, but (exact-decimal -> nearest-
    double) / bigint is identical everywhere — what lets a SQL oracle
    reproduce the means."""
    stats = (
        assigned.select(*keys, F.posexplode(vec_col).alias("pos", "x"))
        .groupBy(*keys, "pos")
        .agg(
            F.sum(F.col("x").cast("decimal(38,12)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return (
        stats.withColumn("m", F.col("s").cast("double") / F.col("n"))
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(*keys, F.transform("pm", lambda s: s["m"]).alias("newc"))
    )


def ivf_refine_centroids(
    corpus: DataFrame,
    cents_df: DataFrame,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd refinement of the hash-sampled init centroids as pure
    DataFrame aggregations — the FAISS IndexIVFFlat train() k-means
    analog (data_process_mult.py:238-249) with a FIXED iteration count
    so results stay deterministic.

    Each pass: assign every corpus vector to its nearest centroid
    (broadcast join + argmax = the nprobe=1 coarse quantizer), then
    the per-cell mean (_component_means). Cells that attract no
    vectors keep their previous centroid. Tighter cells raise recall
    at fixed nprobe."""
    side = corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("vec"))
    for _ in range(iters):
        assigned = _assign_cells_join(side, cents_df, 1, "nid", "vec")
        means = _component_means(assigned, ["cell_id"], "vec")
        cents_df = cents_df.join(means, "cell_id", "left").select(
            "cell_id", F.coalesce("newc", "centroid").alias("centroid")
        )
        # the table is n_cells rows but is consumed twice per pass
        # (assignment + mean join) and its lineage doubles each
        # iteration — spill per pass, same policy as the CC iterations
        cents_df = spill_scratch(cents_df, "ivf_cents_iter")
    return cents_df


def _assign_cells_join(
    side: DataFrame, cents: DataFrame, nprobe: int, id_name: str, vec_name: str
) -> DataFrame:
    """Cell assignment via a broadcast join against the centroid table:
    rank each row's cosine to every centroid, keep the nprobe best.
    The one coarse quantizer: IVF search, IVF-PQ and every Lloyd pass
    run it, and the IVF parity oracles restate it in SQL.

    nprobe=1 (the corpus-side shape — every row, every Lloyd pass) is
    a hash-agg max(struct) argmax instead of a row_number window: the
    n·n_cells scored rows partial-aggregate map-side and never sort.
    Tie-break is identical to the window ((csim DESC, cell_id ASC) ==
    max of (csim, -cell_id))."""
    scored = side.crossJoin(F.broadcast(cents)).select(
        id_name,
        vec_name,
        "cell_id",
        array_cosine(F.col(vec_name), F.col("centroid")).alias("csim"),
    )
    if nprobe == 1:
        best = scored.groupBy(id_name).agg(
            F.max(
                F.struct(
                    F.col("csim"),
                    (-F.col("cell_id")).alias("negc"),
                    F.col("cell_id").alias("cell_id"),
                    F.col(vec_name).alias("v"),
                )
            ).alias("b")
        )
        return best.select(
            id_name,
            F.col("b.v").alias(vec_name),
            F.col("b.cell_id").alias("cell_id"),
        )
    w = W.partitionBy(id_name).orderBy(F.desc("csim"), F.asc("cell_id"))
    return (
        scored.withColumn("crk", F.row_number().over(w))
        .where(F.col("crk") <= nprobe)
        .select(id_name, vec_name, "cell_id")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame | None = None,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    refine_iters: int = 1,
    id_hash: str = "xxhash",
) -> DataFrame:
    """IVF ANN: corpus rows live in their 1 nearest cell; queries probe
    their nprobe nearest cells; exact cosine + top-k within probed
    cells. Equi-join on cell_id replaces the cross join — shuffle
    shrinks by ~n_cells/nprobe. Cell assignment is a broadcast join
    against the centroid table (_assign_cells_join), so nothing
    centroid-sized ever touches the driver.

    refine_iters Lloyd passes (default 1, distributed, deterministic —
    see ivf_refine_centroids) tighten the hash-sampled init centroids
    before assignment; 0 keeps the raw sample."""
    q = queries if queries is not None else corpus
    cents_df = ivf_cells_df(corpus, n_cells, id_col, vec_col, seed, id_hash)
    if refine_iters:
        cents_df = ivf_refine_centroids(
            corpus, cents_df, refine_iters, id_col, vec_col
        )
    cs = _assign_cells_join(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")),
        cents_df, 1, "neighbor_id", "c_vec",
    )
    qs = _assign_cells_join(
        q.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")),
        cents_df, nprobe, "query_id", "q_vec",
    )
    scored = (
        qs.join(cs, "cell_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            qround(array_cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _topk_window(scored, k)


# ----------------------------------------------------- hyperplane LSH

def hyperplane_bucket_udf(
    dim: int | None = None, n_planes: int = 16, n_tables: int = 4, seed: int = 42
):
    """pandas UDF: embedding -> array of n_tables sign-LSH bucket keys.
    Table t's key packs the signs of n_planes fixed random hyperplanes
    into an int; vectorized numpy matmul per batch.

    dim=None reads the dimension from the first row of each batch and
    derives the planes from (seed, dim) — identical on every executor,
    and no driver-side job is triggered just to sniff the dimension."""
    weights = (2 ** np.arange(n_planes, dtype=np.int64))[None, :]
    plane_cache: dict[int, np.ndarray] = {}

    def planes_for(d: int) -> np.ndarray:
        p = plane_cache.get(d)
        if p is None:
            rng = np.random.RandomState(seed)
            p = plane_cache[d] = rng.standard_normal((n_tables, n_planes, d))
        return p

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _buckets(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for series in batches:
            if len(series) == 0:
                yield pd.Series([], dtype=object)
                continue
            d = dim if dim is not None else len(series.iloc[0])
            planes = planes_for(d)
            m = _vec_matrix(series, d, "lsh bucketing")
            out = np.empty((m.shape[0], n_tables), dtype=np.int64)
            for t in range(n_tables):
                bits = (m @ planes[t].T) > 0  # [batch, n_planes]
                out[:, t] = (bits * weights).sum(axis=1)
            yield pd.Series([row.tolist() for row in out])

    return _buckets


def rademacher_planes(
    dim: int, n_planes: int = 8, n_tables: int = 4, seed: int = 42
) -> list[list[list[int]]]:
    """±1 hyperplane entries derived from md5 — the database-friendly
    random projection of Achlioptas (2001): sign-LSH quality matches
    gaussian planes, and the entries are small integer LITERALS both
    engines receive verbatim (no engine-side hashing, no float RNG).
    [n_tables][n_planes][dim]."""
    import hashlib

    return [
        [
            [
                1
                if int(
                    hashlib.md5(f"rp-{seed}-{t}-{j}-{i}".encode()).hexdigest()[:8],
                    16,
                )
                & 1
                else -1
                for i in range(dim)
            ]
            for j in range(n_planes)
        ]
        for t in range(n_tables)
    ]


def _plane_dot(vec: Column, plane: list[int]) -> Column:
    """x · s for a constant ±1 plane, with the SAME sequential fold as
    array_cosine so the DuckDB list_dot_product oracle reproduces the
    sign decision bit-for-bit."""
    arr = F.array(*[F.lit(float(s)) for s in plane])
    return F.aggregate(
        F.zip_with(vec, arr, lambda p, q: p.cast("double") * q),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _sign_lsh_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    n_tables: int,
    seed: int,
    dim: int | None,
    planes: str,
) -> DataFrame:
    """(id, vec, table_id, bucket): one row per (vector, LSH table).
    Table t's bucket packs the signs of n_planes hyperplanes as
    Σ bit_j·2^j. The planes are the only swappable part:

      * "gaussian"    seeded gaussian planes in one vectorized Arrow
                      UDF (hyperplane_bucket_udf); dim may be None.
      * "rademacher"  md5-derived ±1 planes as Column expressions, so
                      a DuckDB oracle reproduces every bucket; needs an
                      explicit dim."""
    if planes == "gaussian":
        udf = hyperplane_bucket_udf(dim, n_planes, n_tables, seed)
        return df.select(
            F.col(id_col),
            F.col(vec_col),
            F.posexplode(udf(F.col(vec_col))).alias("table_id", "bucket"),
        )
    if planes != "rademacher":
        raise ValueError(f"unknown planes: {planes!r} (gaussian|rademacher)")
    if dim is None:
        raise ValueError("planes='rademacher' needs an explicit dim")
    signs = rademacher_planes(dim, n_planes, n_tables, seed)
    out = None
    for t in range(n_tables):
        key = None
        for j in range(n_planes):
            bit = (_plane_dot(F.col(vec_col), signs[t][j]) > 0).cast("long") * F.lit(
                2**j
            )
            key = bit if key is None else key + bit
        kb = df.select(
            F.col(id_col), F.col(vec_col), F.lit(t).alias("table_id"), key.alias("bucket")
        )
        out = kb if out is None else out.unionByName(kb)
    return out


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame | None = None,
    k: int = 10,
    n_planes: int = 12,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    seed: int = 42,
    planes: str = "gaussian",
) -> DataFrame:
    """Sign-LSH ANN: candidates share (table, bucket) in >=1 of
    n_tables; exact cosine rescoring + top-k. Recall is tuned by
    (n_planes down, n_tables up) like the reference's nprobe.

    planes="gaussian" (default) buckets with the Arrow kernel; dim is
    optional there (read from the data per batch, so no driver-side
    .first() job during plan construction). planes="rademacher" runs
    the same flow on md5-derived ±1 planes, value-reproducible by a
    DuckDB oracle (needs dim)."""

    def keyed(df: DataFrame, idn: str, vn: str) -> DataFrame:
        return _sign_lsh_buckets(
            df.select(F.col(id_col).alias(idn), F.col(vec_col).alias(vn)),
            idn, vn, n_planes, n_tables, seed, dim, planes,
        )

    q = queries if queries is not None else corpus
    qs = keyed(q, "query_id", "q_vec")
    cs = keyed(corpus, "neighbor_id", "c_vec")
    scored = (
        qs.join(cs, ["table_id", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            qround(array_cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _topk_window(scored, k)


# -------------------------------------------------- product quantization

def _subvectors(df: DataFrame, m: int, dim: int, idn: str, vec_col: str) -> DataFrame:
    """(idn, subspace, sub): the m contiguous dim/m-length slices of
    each vector — one explode, no shuffle."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    dsub = dim // m
    slices = F.array(
        *[
            F.struct(
                F.lit(j).cast("int").alias("subspace"),
                F.slice(F.col(vec_col), j * dsub + 1, dsub).alias("sub"),
            )
            for j in range(m)
        ]
    )
    return df.select(idn, F.explode(slices).alias("s")).select(
        idn, "s.subspace", "s.sub"
    )


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    id_hash: str = "xxhash",
    refine_iters: int = 1,
) -> DataFrame:
    """Per-subspace PQ codebooks (subspace, code, centroid) — the
    IndexPQ train() analog (Jégou, Douze & Schmid, TPAMI 2011; FAISS
    ProductQuantizer). Init = the ksub-row hash-min sample of
    ivf_cells_df sliced into m subvectors (code = rank in the sample,
    so the table is parallelism-independent); refine_iters distributed
    Lloyd passes per subspace tighten them (assignment = pq_encode's
    broadcast join + hash-agg argmin, update = _component_means per
    (subspace, code), the same kernel as ivf_refine_centroids).
    Codewords that attract no subvectors keep their previous value.
    id_hash="md5" makes the sample SQL-reproducible for the parity
    oracle."""
    sample = ivf_cells_df(corpus, ksub, id_col, vec_col, seed, id_hash)
    cb = _subvectors(sample, m, dim, "cell_id", "centroid").select(
        "subspace", F.col("cell_id").alias("code"), F.col("sub").alias("centroid")
    )
    # m·ksub rows, but consumed twice per Lloyd pass (encode + mean
    # join) and by every downstream consumer (encode + LUT), each
    # re-executing the full-corpus sample / training lineage — spill
    # the init and every pass (same policy as the pipeline's
    # multi-consumer tables)
    cb = spill_scratch(cb, "pq_codebook")
    for _ in range(refine_iters):
        assigned = pq_encode(corpus, cb, m, dim, id_col, vec_col, keep_sub=True)
        means = _component_means(assigned, ["subspace", "code"], "sub")
        cb = cb.join(means, ["subspace", "code"], "left").select(
            "subspace", "code", F.coalesce("newc", "centroid").alias("centroid")
        )
        cb = spill_scratch(cb, "pq_codebook")
    return cb


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_sub: bool = False,
) -> DataFrame:
    """(pq_id, subspace, code): each subvector's L2-nearest codeword —
    argmin ||x−c||² == argmin (c·c − 2·x·c), ties on code, via ONE
    broadcast join (codebooks are m·ksub rows) + hash-agg argmin. Long
    format is the ADC join shape; at rest the codes pack to
    m·log2(ksub) bits per vector (m bytes at ksub=256) — the ~32×
    compression that lets a 100-TB corpus's vectors live in executor
    memory while the float arrays stay on disk."""
    subs = _subvectors(
        corpus.select(F.col(id_col).alias("pq_id"), vec_col), m, dim, "pq_id", vec_col
    )
    scored = subs.join(F.broadcast(codebooks), "subspace").select(
        "pq_id",
        "subspace",
        "sub",
        "code",
        (
            array_dot(F.col("centroid"), F.col("centroid"))
            - F.lit(2.0) * array_dot(F.col("sub"), F.col("centroid"))
        ).alias("d2"),
    )
    # argmin as a hash-agg min(struct) — the n·ksub scored rows
    # partial-aggregate map-side instead of sorting per (id, subspace);
    # (d2 ASC, code ASC) tie-break is the struct's lexicographic order
    best = scored.groupBy("pq_id", "subspace").agg(
        F.min(F.struct("d2", "code", "sub")).alias("b")
    )
    out = best.select(
        "pq_id",
        "subspace",
        F.col("b.code").alias("code"),
        F.col("b.sub").alias("sub"),
    )
    cols = ["pq_id", "subspace", "code"] + (["sub"] if keep_sub else [])
    return out.select(*cols)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame | None = None,
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    overfetch: int = 4,
    n_cells: int | None = None,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    id_hash: str = "xxhash",
    refine_iters: int = 1,
) -> DataFrame:
    """PQ-ADC ANN (the FAISS IndexPQ / IndexIVFPQ analog — the memory
    tier of the reference's retrieval ladder, faiss_indexer.py:72-137):
    corpus vectors are quantized to m codes; each query scores
    candidates through a lookup table of query-subvector × codeword
    inner products (ADC, Jégou et al. 2011) — an equi-join on
    (subspace, code) plus an EXACT DECIMAL sum over the m partial
    dots (order-free, so candidate sets are parallelism-independent).
    The top k·overfetch ADC candidates per query are rescored with
    true cosine (E8 over-fetch + rerank), final top-k by window.

    n_cells adds the IVF coarse layer (IndexIVFPQ): candidate pairs
    must share a probed cell, cutting the ADC scan ~n_cells/nprobe —
    at 100 TB that's the difference between scanning 10⁹ codes and
    10⁷ per query, while the PQ codes keep the per-row payload at m
    bytes instead of 4·dim. As in FAISS IndexIVFPQ, the codebooks
    then quantize x − centroid(x) instead of x — residuals are much
    smaller than raw vectors, so the same code budget loses far less
    signal — and the ADC total
    uses the IP expansion q·x = q·centroid + q·residual: the coarse
    term is exact per (query, cell), only the residual goes through
    the LUT. Everything is equi-join + window: no cartesian product,
    no driver-side index."""
    q = queries if queries is not None else corpus
    qs = q.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    cs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    if n_cells:
        cents = ivf_cells_df(corpus, n_cells, id_col, vec_col, seed, id_hash)
        if refine_iters:
            cents = ivf_refine_centroids(
                corpus, cents, refine_iters, id_col, vec_col
            )
        # n_cells rows, full-corpus Lloyd lineage, 2-4 consumers below
        # (ca, qa, residuals, coarse term) — spill so refinement runs once
        cents = spill_scratch(cents, "pq_cents")
        ca = _assign_cells_join(cs, cents, 1, "neighbor_id", "c_vec").select(
            "neighbor_id", "cell_id"
        )
        qa_full = _assign_cells_join(qs, cents, nprobe, "query_id", "q_vec")
        # both consumed twice (pairs + residual / coarse term): n·1 and
        # |Q|·nprobe rows — cheap spills that stop the broadcast-rank
        # job from running twice
        ca = spill_scratch(ca, "pq_ca")
        qa_full = spill_scratch(qa_full, "pq_qa")
        qa = qa_full.select("query_id", "cell_id")
        # quantize residuals x - centroid(x); one shared codebook
        rcorpus = (
            cs.join(ca, "neighbor_id")
            .join(F.broadcast(cents), "cell_id")
            .select(
                "neighbor_id",
                "cell_id",
                F.zip_with(
                    "c_vec", "centroid", lambda x, c: x.cast("double") - c
                ).alias("rvec"),
            )
        )
        # consumed by codebook training (once per Lloyd pass) AND final
        # encoding — materialize the residuals once, as a production
        # index build would
        rcorpus = spill_scratch(rcorpus, "pq_residuals")
        cb = pq_codebooks(
            rcorpus, m, ksub, dim, "neighbor_id", "rvec", seed, id_hash,
            refine_iters,
        )
        codes = pq_encode(rcorpus, cb, m, dim, "neighbor_id", "rvec")
    else:
        cb = pq_codebooks(
            corpus, m, ksub, dim, id_col, vec_col, seed, id_hash, refine_iters
        )
        codes = pq_encode(corpus, cb, m, dim, id_col, vec_col)
    codes = codes.select(F.col("pq_id").alias("neighbor_id"), "subspace", "code")
    qsubs = _subvectors(qs, m, dim, "query_id", "q_vec")
    # LUT on the RAW query: with the IVF layer, q·x decomposes as
    # q·centroid (exact coarse term) + q·residual (the LUT part)
    lut = qsubs.join(F.broadcast(cb), "subspace").select(
        "query_id",
        "subspace",
        "code",
        qround(array_dot(F.col("sub"), F.col("centroid")), 6)
        .cast("decimal(38,6)")
        .alias("pdot"),
    )
    if n_cells:
        pairs = (
            qa.join(ca, "cell_id")
            .select("query_id", "neighbor_id", "cell_id")
            .dropDuplicates(["query_id", "neighbor_id"])
        )
        qc = qa_full.join(F.broadcast(cents), "cell_id").select(
            "query_id",
            "cell_id",
            qround(array_dot(F.col("q_vec"), F.col("centroid")), 6)
            .cast("decimal(38,6)")
            .alias("coarse"),
        )
        pairs = pairs.join(qc, ["query_id", "cell_id"])
        adc_in = pairs.join(codes, "neighbor_id").join(
            lut, ["query_id", "subspace", "code"]
        )
    else:
        adc_in = codes.join(lut, ["subspace", "code"]).withColumn(
            "coarse", F.lit(0).cast("decimal(38,6)")
        )
    adc = (
        adc_in.where(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg((F.sum("pdot") + F.max("coarse")).alias("adc"))
    )
    wc = W.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    cand = (
        adc.withColumn("crk", F.row_number().over(wc))
        .where(F.col("crk") <= k * overfetch)
        .select("query_id", "neighbor_id")
    )
    scored = (
        cand.join(qs, "query_id")
        .join(
            corpus.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            qround(array_cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine"),
        )
    )
    return _topk_window(scored, k)


def nnd_round(
    edges: DataFrame,
    base: DataFrame,
    k: int,
    sample_k: int,
    cap_hash: Column,
) -> DataFrame:
    """ONE NN-descent round (Dong, Moses & Li, WWW 2011): symmetrize →
    degree-cap (ordered by `cap_hash` — xxhash64 in production,
    `parityhash.md5_pair_hash64` in the SQL-oracle twin) →
    neighbor-of-neighbor candidates through the shared middle node →
    anti-join out known edges → exact-cosine score the fresh pairs →
    merge → per-node top-k. Factored out so the production loop
    (nn_descent_topk) and __spark_entry__'s `ann_nnd_parity` run the
    LITERAL same kernel; the twin's DuckDB oracle restates the round
    value-for-value. edges: (query_id, neighbor_id, cosine);
    base: (nid, vec)."""
    # (1) symmetrized neighborhood, degree-capped for generation
    sym = edges.select("query_id", "neighbor_id").unionByName(
        edges.select(
            F.col("neighbor_id").alias("query_id"),
            F.col("query_id").alias("neighbor_id"),
        )
    ).dropDuplicates(["query_id", "neighbor_id"])
    wcap = W.partitionBy("query_id").orderBy(
        cap_hash.asc(), F.col("neighbor_id").asc()
    )
    capped = (
        sym.withColumn("srk", F.row_number().over(wcap))
        .where(F.col("srk") <= sample_k)
        .select("query_id", "neighbor_id")
    )
    # (2) neighbor-of-neighbor through the shared middle node
    cand = (
        capped.select(F.col("neighbor_id").alias("mid"), F.col("query_id"))
        .join(
            capped.select(
                F.col("query_id").alias("mid"),
                F.col("neighbor_id").alias("cand_id"),
            ),
            "mid",
        )
        .where(F.col("query_id") != F.col("cand_id"))
        .select("query_id", F.col("cand_id").alias("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # (3) score only pairs not already in the graph
    fresh = cand.join(
        edges.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_anti",
    )
    scored_new = (
        fresh.join(base.select(F.col("nid").alias("query_id"),
                               F.col("vec").alias("q_vec")), "query_id")
        .join(base.select(F.col("nid").alias("neighbor_id"),
                          F.col("vec").alias("c_vec")), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            qround(array_cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine"),
        )
    )
    # (4) merge and re-take top-k
    return _topk_window(
        edges.unionByName(scored_new), k
    ).select("query_id", "neighbor_id", "cosine")


def nn_descent_topk(
    corpus: DataFrame,
    k: int = 10,
    iterations: int = 4,
    sample_k: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """E7 graph-based ANN — the role HNSW plays in the reference's
    retrieval ladder (faiss_indexer.py's graph index family), built
    from the public NN-descent algorithm (Dong, Moses & Li, WWW 2011)
    as pure DataFrame rounds. Where HNSW's insertion loop is
    inherently sequential (each insert greedily walks the graph built
    so far — the wrong shape for a 1000-executor cluster), NN-descent
    is embarrassingly parallel: 'a neighbor of a neighbor is likely a
    neighbor' applied as a self-join, round after round.

    Each round: (1) symmetrize the current kNN graph; (2) generate
    candidates by joining neighbor lists through the shared middle
    node (degree capped at sample_k — the paper's rho*k sampling — so
    the join fans out at most sample_k^2 per node); (3) exact-cosine
    score the new pairs only (anti-join against current edges);
    (4) merge + keep per-node top-k by window. Stops early when a
    round changes no edge: its convergence signature — edge count and
    the exact sum of xxhash64(query_id, neighbor_id) — is observed on
    the round's checkpoint write (observed_checkpoint, as in
    connected_components), so convergence costs no extra Spark job.
    Every step shuffles on node id — no
    driver-side graph, no sequential insert, skew bounded by the
    degree cap.

    Init seeds the graph with sign-LSH buckets (good starting recall,
    one pass); NN-descent then repairs what bucketing missed.
    Self-search semantics (query set == corpus), like the reference's
    within-corpus kNN during clustering.

    The per-round graph is checkpointed DURABLY to scratch parquet
    (same policy as connected_components — a lost executor must not
    kill the whole descent)."""
    if sample_k is None:
        sample_k = max(4, k // 2)
    ckpt = make_parquet_checkpointer(name="nnd_iter")
    signature = (
        F.count(F.lit(1)).alias("n"),
        exact_sum(F.xxhash64("query_id", "neighbor_id")).alias("h"),
    )
    base = corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("vec"))
    edges, sig = observed_checkpoint(
        ckpt,
        lsh_topk(corpus, k=k, id_col=id_col, vec_col=vec_col, seed=seed).select(
            "query_id", "neighbor_id", "cosine"
        ),
        *signature,
    )
    cap_hash = F.xxhash64("query_id", "neighbor_id", F.lit(seed))

    for _ in range(iterations):
        # an unchanged edge set keeps its (count, hash sum); a changed
        # one changes it barring a 64-bit hash-sum collision
        edges, new_sig = observed_checkpoint(
            ckpt, nnd_round(edges, base, k, sample_k, cap_hash), *signature
        )
        if new_sig == sig:
            break
        sig = new_sig
    return _topk_window(edges, k)


def recall_vs_exact(approx: DataFrame, exact: DataFrame) -> float:
    """Fraction of exact top-k pairs recovered by the approximate
    search (the reference's recall@k,
    /root/reference/blink/biencoder/eval_cluster_linking.py:488-541)."""
    hit = approx.select("query_id", "neighbor_id").join(
        exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi"
    )
    n_exact = exact.count()
    return (hit.count() / n_exact) if n_exact else 1.0
