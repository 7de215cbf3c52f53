"""The benchmark's workloads: seeded input generators, one closed-loop
pass of work, the correctness checks on each answer, and a traced pass
that calls each layer's public functions one at a time.

``dedup_wide``: ``ERPipeline().run(files)`` over many small clone
families, where per-file work (the s1 kernel) and connected components
dominate. Its traced run also drives the streaming ingest and a slice
of the ``__spark_entry__`` registry.

``link_hot``: ``LinkPipeline().run(mentions, catalogue)`` with one hot
family, where pair scoring, blocking salt and the G4 partition
dominate. Its traced pass materialises the shared stages through a
parquet StageStore, the CLI's write path.

The program only ever sees the generated inputs.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import __spark_entry__ as registry
from blink_spark import streaming as bs
from blink_spark.corpus import FILES_SCHEMA, _family_rows
from blink_spark.eval import linking_accuracy, pairwise_metrics
from blink_spark.functions import text
from blink_spark.io.scratch import spill
from blink_spark.io.tables import StageStore
from blink_spark.linking import LinkPipeline, flag_entity_endpoints
from blink_spark.operators import blocking
from blink_spark.operators.connected_components import (
    CCStats,
    make_parquet_checkpointer,
)
from blink_spark.operators.linking import entity_constrained_partition, g4_route_stats
from blink_spark.pipeline import ERConfig, ERPipeline
from perfbench.harness import Ledger, median
from perfbench.metrics import REGISTRY_SLICE, STAGES
from perfbench.trace import Tracer

KEY = ("repo", "path", "commit")

# ---------------------------------------------------------------- sizes
# Chosen so one untraced run (session, set-up, warm-up pass, one timed
# pass) stays near a minute at local[4]: the whole schedule of runs has
# to fit a fixed time budget, and Spark's per-job cost dominates below
# these sizes anyway.
DEDUP_FILES = 800           # Zipf(2.2) family sizes capped at 12, no hot family
DEDUP_BODIES = 2            # generator bodies per file
STREAM_ROWS = 120           # arriving files
STREAM_FILES = 4            # parquet files in the stream source
STREAM_PER_TRIGGER = 2      # maxFilesPerTrigger -> 2 data-carrying triggers
STATE_PARTITIONS = 8        # state-store partitions, pinned by the benchmark
STREAM_TIMEOUT_S = 120      # a stream that has not drained by then fails its check
STREAM_CFG = ERConfig(bands=16, rows_per_band=4, num_hashes=64, shingle_k=3)
REGISTRY_DOCS = 600         # documents and embeddings rows for the registry slice
REGISTRY_VECS = 600
LINK_MENTIONS = 280         # one hot family of LINK_HOT plus ~80 small ones
LINK_HOT = 120
# pair_budget scaled down with the input (default 100,000 -> 447 rows
# per block) so the hot family's blocks cross the salting budget here
# as hot families do at production size
LINK_CFG = ERConfig(pair_budget=5_000)
F1_FLOOR = 0.99             # BASELINE pairwise-F1 gate

# the parquet inputs are read with their schemas given, so reading them
# starts no schema-inference job
CATALOGUE_SCHEMA = FILES_SCHEMA.rsplit(",", 1)[0]

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ("en", "en", "zh", "es", "de", "fr")


def checksum(rows) -> str:
    """Order-insensitive digest of collected rows."""
    return hashlib.sha1(repr(sorted(tuple(r) for r in rows)).encode()).hexdigest()[:16]


def frame_hash(df: pd.DataFrame) -> str:
    """Digest of a result frame, insensitive to row and column order."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort")
    return hashlib.sha1(df.to_csv(index=False).encode()).hexdigest()[:16]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def write_corpus(
    out: str, n_files: int, seed: int, hot: int = 0, parts: int = 1,
    labels: bool = True, bodies: int = 1,
) -> pd.DataFrame:
    """The rows ``corpus.generate_files`` would produce (same per-family
    generator), built in this process so input generation starts no
    Spark job. Families are drawn until there are ``n_files`` rows (the
    last one cut short), so every seed gives the same amount of input.
    With ``bodies`` > 1 each file's content is followed by ``bodies`` - 1
    copies with the entity's identifiers renamed: files get longer, with
    as many more distinct shingles, while each family keeps its variants.
    Written as ``parts`` parquet files; ``labels=False`` drops the gold
    entity_id and variant columns. Returns the rows written."""
    rows: list[dict] = []
    e = 0
    while len(rows) < n_files:
        for r in _family_rows(e, seed, hot)[: n_files - len(rows)]:
            body = [r["content"]] + [
                r["content"].replace(f"sym{e}_", f"sym{e}x{j}_") for j in range(1, bodies)
            ]
            rows.append({**r, "content": "\n".join(body)})
        e += 1
    df = pd.DataFrame(rows)
    if not labels:
        df = df[[*KEY, "lang", "content"]]
    os.makedirs(out)
    for i, part in enumerate(np.array_split(np.arange(len(df)), parts)):
        pq.write_table(
            pa.Table.from_pandas(df.iloc[part], preserve_index=False),
            f"{out}/part-{i:03d}.parquet",
        )
    return df


def write_registry_tables(out: str, seed: int) -> None:
    """``documents`` and ``embeddings`` in the shape of the registry's
    sf test tables: 30-word vocabulary texts, ~8% near-duplicates of an
    earlier document, and unit vectors around 10 centroids."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(REGISTRY_DOCS):
        if i > 10 and rng.random() < 0.08:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(_VOCAB[k] for k in rng.integers(0, len(_VOCAB), n)))
    docs = pd.DataFrame({
        "doc_id": np.arange(REGISTRY_DOCS, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[k] for k in rng.integers(0, len(_LANGS), REGISTRY_DOCS)],
        "source": [f"src{i % 10}" for i in range(REGISTRY_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), f"{out}/documents.parquet")
    centroids = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, REGISTRY_VECS)
    m = centroids[label] + 0.6 * rng.normal(size=(REGISTRY_VECS, 64))
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(REGISTRY_VECS, dtype=np.int64)),
        "embedding": pa.array(list(m.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    pq.write_table(emb, f"{out}/embeddings.parquet")


class TimedStageStore(StageStore):
    """Parquet StageStore that adds the wall time of its write and
    lineage calls to a shared dict."""

    def __init__(self, spark, base: str, timer: dict[str, float]):
        super().__init__(spark, base)
        self.timer = timer

    def _timed(self, key: str, fn, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.timer[key] = self.timer.get(key, 0.0) + time.perf_counter() - t0

    def sub(self, namespace: str) -> "TimedStageStore":
        return TimedStageStore(self.spark, self.path(namespace), self.timer)

    def write(self, df, name, partition_by=None):
        return self._timed("write_s", super().write, df, name, partition_by)

    def write_lineage(self, df, stage):
        return self._timed("lineage_s", super().write_lineage, df, stage)


class Workload:
    """One workload bound to a session, a seed and a work directory.

    ``make_inputs`` writes the seeded inputs (run several times during
    set-up, each into a fresh directory); ``prepare`` loads them and
    computes expected answers; ``run_pass`` is one timed closed-loop
    pass; ``traced_pass`` does the same work stage by stage under a
    Tracer and returns the per-layer metrics and the traced job's wall
    time. ``traced`` runs also set up what only the traced pass uses."""

    name = ""
    # prefixes of the per-layer metrics of layers this workload does not run
    idle_layers: tuple[str, ...] = ()

    def __init__(self, spark, work: str, seed: int, ledger: Ledger, traced: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.ledger = ledger
        self.expect = ledger.expect
        self.traced = traced
        self.inputs = ""
        self._n = 0
        self.quality: list[float] = []
        # quality score per output checksum: the score is a function of
        # the output, so a repeated output is not scored again
        self._scored: dict[str, float] = {}
        self.stream_out = None

    def score(self, digest: str, fn) -> float:
        if digest not in self._scored:
            self._scored[digest] = fn()
        self.quality.append(self._scored[digest])
        return self._scored[digest]

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        d = os.path.join(self.work, f"{tag}_{self._n}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def timed_make_inputs(self) -> float:
        old = self.inputs
        self.inputs = self.fresh_dir("inputs")
        os.makedirs(self.inputs)
        t0 = time.perf_counter()
        self.make_inputs(self.inputs)
        dt = time.perf_counter() - t0
        if old:
            shutil.rmtree(old, ignore_errors=True)
        return dt

    def _traced_stages(self, tracer: Tracer, pipe: ERPipeline, files, materialise, with_cc):
        """The pipeline's public stage functions one at a time, each
        materialised inside its own span."""
        t: dict = {}

        def stage(name, build):
            with tracer.span(f"pipeline.{name}"):
                t[name] = materialise(build(), name)

        stage("s0_normalized", lambda: pipe.s0_normalize(files))
        stage("s1_signatures", lambda: pipe.s1_signatures(t["s0_normalized"]))
        stage("s1_blocks", lambda: pipe.s1_blocks(t["s1_signatures"]))
        stage("s2_pairs", lambda: pipe.s2_pairs(t["s1_blocks"]))
        stage("s2_scores", lambda: pipe.s2_scores(t["s2_pairs"], t["s1_signatures"]))
        stage("s2_edges", lambda: pipe.s2_edges(t["s2_scores"]))
        if with_cc:
            t["cc_stats"] = CCStats()
            ckpt = make_parquet_checkpointer(self.fresh_dir("cc"))
            stage("s3_clusters", lambda: pipe.s3_clusters(
                t["s2_edges"], t["s0_normalized"], t["cc_stats"], ckpt))
        return t

    def _stage_metrics(self, tracer: Tracer, tables: dict, cfg: ERConfig) -> dict:
        """Per-stage self time, task time, shuffle and spill, plus the
        counts and ratios of the traced stages (counted outside them)."""
        n_files = tables["s0_normalized"].count()
        n_pairs = tables["s2_pairs"].count()
        n_edges = tables["s2_edges"].count()
        # salt_hot_blocks_numeric splits blocks past sqrt(2 * pair_budget) rows
        budget = max(2, int((2 * cfg.pair_budget) ** 0.5))
        band_blocks = tables["s1_signatures"].select(
            "file_id", F.explode("bands").alias("block_key")
        )
        salted = blocking.block_stats(band_blocks).where(F.col("n_rows") > budget).count()
        max_rows = blocking.block_stats(tables["s1_blocks"]).agg(F.max("n_rows")).first()[0]
        tm = tracer.task_metrics()
        m: dict = {}
        for st in STAGES:
            g = tm.get(f"pipeline.{st}", {})
            m[f"pipeline.{st}.s"] = tracer.self_seconds(f"pipeline.{st}")
            m[f"pipeline.{st}.task_s"] = g.get("task_s", 0.0)
            m[f"pipeline.{st}.shuffle_write_mb"] = g.get("shuffle_write_mb", 0.0)
            m[f"pipeline.{st}.spill_mb"] = g.get("spill_mb", 0.0)
        m.update({
            "pipeline.s2_pairs.rows": n_pairs,
            "pipeline.s2.edge_yield": n_edges / n_pairs if n_pairs else 0.0,
            "pipeline.s2_scores.skew": tm.get("pipeline.s2_scores", {}).get("skew", 0.0),
            "minhash.us_per_file": m["pipeline.s1_signatures.task_s"] * 1e6 / n_files,
            "similarity.us_per_pair": (
                m["pipeline.s2_scores.task_s"] * 1e6 / n_pairs if n_pairs else 0.0
            ),
            "blocking.salted_blocks": salted,
            "blocking.max_block_rows": max_rows or 0,
        })
        if "cc_stats" in tables:
            m["cc.s"] = m["pipeline.s3_clusters.s"]
            m["cc.iterations"] = tables["cc_stats"].iterations
        return m


# ================================================================ dedup_wide


class DedupWide(Workload):
    name = "dedup_wide"
    idle_layers = ("link.", "g4.", "store.", "link_accuracy")

    def make_inputs(self, out: str) -> None:
        write_corpus(f"{out}/files", DEDUP_FILES, self.seed, bodies=DEDUP_BODIES)
        if self.traced:
            write_corpus(
                f"{out}/stream", STREAM_ROWS, self.seed + 7919,
                parts=STREAM_FILES, labels=False,
            )
            os.makedirs(f"{out}/registry")
            write_registry_tables(f"{out}/registry", self.seed)

    def prepare(self) -> None:
        raw = self.spark.read.schema(FILES_SCHEMA).parquet(f"{self.inputs}/files")
        self.files = raw.select(*KEY, "lang", "content")
        self.gold = raw.select(text.stable_file_id(*KEY).alias("file_id"), "entity_id")
        self.n_files = DEDUP_FILES
        if self.traced:
            self._prepare_stream()
            self._prepare_registry()

    def _dedup_job(self):
        return ERPipeline().run(self.files).tables["clusters"].collect()

    def _check_dedup(self, rows) -> None:
        digest = checksum(rows)
        self.expect.same("dedup_wide.cluster_checksum", digest)
        f1 = self.score(digest, lambda: pairwise_metrics(
            self.spark.createDataFrame(rows, "file_id long, cluster_id long"), self.gold
        )["f1"])
        self.expect.at_least("dedup_wide.pairwise_f1", f1, F1_FLOOR)

    def run_pass(self) -> dict:
        _, wall = self.ledger.run("dedup_wide.dedup_job", self._dedup_job, self._check_dedup)
        return {"wall": wall, "files_per_s": self.n_files / wall}

    def traced_pass(self, tracer: Tracer) -> tuple[dict, float]:
        led, pipe = self.ledger, ERPipeline()
        d = self.fresh_dir("traced")

        def dedup():
            with tracer.span("dedup_job"):
                return self._traced_stages(
                    tracer, pipe, self.files,
                    lambda df, name: spill(df, f"{d}/{name}"), with_cc=True,
                )

        tables, job_s = led.run(
            "dedup_wide.traced_dedup_job", dedup,
            lambda t: self._check_dedup(t["s3_clusters"].collect()),
        )
        if tables is None:  # the job raised; the ledger has counted it
            return {}, job_s
        m = self._stage_metrics(tracer, tables, pipe.cfg)
        m["pairwise_f1"] = self.quality[-1]
        # The streaming ingest and the rows-only registry queries run
        # twice: the first run warms them up and pins the answers the
        # traced second run must repeat. Oracled queries run once.
        self._stream_op(None)
        for q in REGISTRY_SLICE:
            if q not in self.oracle:
                self._registry_op(q, None)
        self._stream_op(tracer)
        for q in REGISTRY_SLICE:
            self._registry_op(q, tracer)
        m.update(self._stream_metrics())
        for q in REGISTRY_SLICE:
            m[f"registry.{q}.s"] = tracer.seconds(f"registry.{q}")
        m["registry.pass_s"] = sum(m[f"registry.{q}.s"] for q in REGISTRY_SLICE)
        return m, job_s

    # ------------------------------------------------ streaming ingest
    def _prepare_stream(self) -> None:
        src = self.spark.read.parquet(f"{self.inputs}/stream")
        self.stream_schema = src.schema
        row = bs.normalize_stream(src, STREAM_CFG).agg(
            F.count(F.lit(1)).alias("rows"), F.countDistinct("file_id").alias("ids")
        ).first()
        self.stream_rows, self.stream_ids = row["rows"], row["ids"]

    def _stream_job(self):
        spark = self.spark
        ckpt, sink = self.fresh_dir("stream_ckpt"), self.fresh_dir("stream_sink")
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
        try:
            src = (
                spark.readStream.schema(self.stream_schema)
                .option("maxFilesPerTrigger", STREAM_PER_TRIGGER)
                .parquet(f"{self.inputs}/stream")
            )
            sigs = bs.signature_stream(bs.normalize_stream(src, STREAM_CFG), STREAM_CFG)
            q = (
                bs.incremental_assign_stream(sigs).writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        try:
            # a stateful availableNow query keeps running empty state
            # cleanup triggers after the data: stop once every input row
            # has been committed by a data-carrying trigger
            deadline = time.time() + STREAM_TIMEOUT_S
            while not q.awaitTermination(0.05) and time.time() < deadline:
                progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
                if sum(p["numInputRows"] for p in progress) >= self.stream_rows:
                    break
            progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        finally:
            q.stop()
            q.awaitTermination(30)
        return progress, spark.read.parquet(sink)

    def _check_stream(self, out) -> None:
        clusters = bs.resolve_assignments_transitive(out[1]).collect()
        # one row per file the sink assigned
        self.expect.equal("stream_ingest.all_assigned", len(clusters), self.stream_ids)
        self.expect.same("stream_ingest.transitive_checksum", checksum(clusters))

    def _stream_op(self, tracer) -> None:
        def job():
            if tracer is None:
                return self._stream_job()
            with tracer.span("stream_ingest"):
                return self._stream_job()

        out, _ = self.ledger.run("dedup_wide.stream_ingest", job, self._check_stream)
        self.stream_out = out

    def _stream_metrics(self) -> dict:
        """Streaming layer metrics from the query's own progress reports
        of its data-carrying triggers, and from the sink."""
        if self.stream_out is None:
            return {}
        p, sink = self.stream_out
        dur = lambda k: [x["durationMs"].get(k, 0) for x in p]  # noqa: E731
        state = [x["stateOperators"][0] for x in p if x.get("stateOperators")]
        rows = sum(x["numInputRows"] for x in p)
        busy_ms = sum(dur("triggerExecution"))
        overflow = (F.col("rep_id") == F.col("file_id")) & ~F.col("is_new_rep")
        row = sink.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("is_new_rep").cast("long")).alias("new_rep"),
            F.sum(overflow.cast("long")).alias("overflow"),
        ).first()
        n_out = row["n"]
        return {
            "stream.rows_per_s": rows / (busy_ms / 1000.0) if busy_ms else 0.0,
            "stream.batch_s_p50": median([x["batchDuration"] for x in p]) / 1000.0,
            "stream.trigger_ms_p50": median(dur("triggerExecution")),
            "stream.addBatch_ms": median(dur("addBatch")),
            "stream.walCommit_ms": median(dur("walCommit")),
            "stream.commitOffsets_ms": median(dur("commitOffsets")),
            "stream.queryPlanning_ms": median(dur("queryPlanning")),
            "stream.state.allUpdatesTimeMs": sum(s["allUpdatesTimeMs"] for s in state),
            "stream.state.commitTimeMs": sum(s["commitTimeMs"] for s in state),
            "stream.state.numRowsTotal": state[-1]["numRowsTotal"] if state else 0,
            "stream.state.memoryUsedBytes": state[-1]["memoryUsedBytes"] if state else 0,
            "stream.new_rep_share": row["new_rep"] / n_out if n_out else 0.0,
            "stream.overflow_share": row["overflow"] / n_out if n_out else 0.0,
        }

    # ------------------------------------------------- registry slice
    def _prepare_registry(self) -> None:
        """DuckDB answers for the oracled queries of the slice, once."""
        import duckdb

        self.registry_dir = f"{self.inputs}/registry"
        oracle_sql = registry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.registry_dir}/{t}.parquet'")
            self.oracle = {
                q: frame_hash(con.execute(oracle_sql[q]).df())
                for q in REGISTRY_SLICE if q in oracle_sql
            }
        finally:
            con.close()

    def _registry_op(self, q: str, tracer) -> None:
        def job():
            query = registry.queries()[q]
            if tracer is None:
                return frame_hash(query(self.spark, self.registry_dir).toPandas())
            with tracer.span(f"registry.{q}"):
                return frame_hash(query(self.spark, self.registry_dir).toPandas())

        def check(h: str) -> None:
            if q in self.oracle:
                self.expect.equal(f"registry.{q}.oracle_parity", h, self.oracle[q])
            else:
                self.expect.same(f"registry.{q}.result_hash", h)

        self.ledger.run(f"dedup_wide.registry.{q}", job, check)


# ================================================================== link_hot


class LinkHot(Workload):
    name = "link_hot"
    idle_layers = ("cc.", "stream.", "registry.", "pairwise_f1")

    def make_inputs(self, out: str) -> None:
        men = write_corpus(f"{out}/mentions", LINK_MENTIONS, self.seed, hot=LINK_HOT)
        # corpus.synthetic_catalogue, in this process: each entity's
        # first 'base' variant, re-homed into the 'catalog' repo
        cat = (
            men[men["variant"] == "base"].sort_values("commit")
            .groupby("entity_id").head(1).assign(repo="catalog")
        )[[*KEY, "lang", "content", "entity_id"]]
        os.makedirs(f"{out}/catalogue")
        pq.write_table(
            pa.Table.from_pandas(cat, preserve_index=False), f"{out}/catalogue/part-000.parquet"
        )

    def prepare(self) -> None:
        men = self.spark.read.schema(FILES_SCHEMA).parquet(f"{self.inputs}/mentions")
        cat = self.spark.read.schema(CATALOGUE_SCHEMA).parquet(f"{self.inputs}/catalogue")
        self.mentions = men.select(*KEY, "lang", "content")
        self.catalogue = cat.select(*KEY, "lang", "content")
        fid = text.stable_file_id(*KEY)
        self.gold = (
            men.select(fid.alias("file_id"), "entity_id")
            .join(cat.select(fid.alias("cat_fid"), "entity_id"), "entity_id")
            .select("file_id", F.col("cat_fid").alias("entity_id"))
        )
        self.n_files = LINK_MENTIONS
        self.input_bytes = dir_bytes(f"{self.inputs}/mentions") + dir_bytes(
            f"{self.inputs}/catalogue"
        )

    def _link_job(self):
        res = LinkPipeline(LINK_CFG).run(self.mentions, self.catalogue)
        return res.tables["pred"].select("file_id", "pred_entity_id").collect()

    def _check_link(self, rows) -> None:
        digest = checksum(rows)
        acc = self.score(digest, lambda: linking_accuracy(
            self.spark.createDataFrame(rows, "file_id long, pred_entity_id long"), self.gold
        )["accuracy"])
        self.expect.same("link_hot.accuracy", acc)
        self.expect.same("link_hot.pred_checksum", digest)

    def run_pass(self) -> dict:
        _, wall = self.ledger.run("link_hot.link_job", self._link_job, self._check_link)
        return {"wall": wall, "files_per_s": self.n_files / wall}

    def traced_pass(self, tracer: Tracer) -> tuple[dict, float]:
        """LinkPipeline.run one public call at a time, every stage and
        G4 intermediate spilled to scratch inside its span. Then, as a
        separate operation, the materialised shared stages and the
        predictions are written and lineage-logged through a timed
        parquet StageStore, the CLI's write path."""
        cfg = LINK_CFG
        pipe, lp = ERPipeline(cfg), LinkPipeline(cfg)
        d = self.fresh_dir("traced")
        out: dict = {}

        def materialise(df, name):
            return spill(df, f"{d}/{name}")

        def link():
            with tracer.span("link.score_joint"):
                files = self.mentions.unionByName(self.catalogue)
                out["tables"] = self._traced_stages(
                    tracer, pipe, files, materialise, with_cc=False
                )
                with tracer.span("link.flag_entities"):
                    ent_ids = pipe.s0_normalize(self.catalogue).select("file_id").distinct()
                    men_ids = pipe.s0_normalize(self.mentions).select("file_id").distinct()
                    scores = out["tables"]["s2_scores"].select("id_a", "id_b", "score")
                    flagged = materialise(flag_entity_endpoints(scores, ent_ids), "flagged")
            with tracer.span("link.joint_graph"):
                graph = out["graph"] = materialise(lp.joint_graph(flagged), "graph")
            with tracer.span("g4.partition"):
                part = materialise(
                    entity_constrained_partition(
                        graph, max_component_edges=lp.max_component_edges,
                        oversize=lp.oversize,
                    ),
                    "partition",
                )
            with tracer.span("link.pred"):
                linked = part.where(~F.col("is_entity")).select(
                    F.col("node_id").alias("file_id"),
                    F.col("entity_id").alias("pred_entity_id"),
                )
                out["tables"]["link_pred"] = materialise(
                    men_ids.join(linked, "file_id", "left"), "link_pred"
                )
                return out["tables"]["link_pred"].select("file_id", "pred_entity_id").collect()

        rows, job_s = self.ledger.run("link_hot.traced_link_job", link, self._check_link)
        if rows is None:  # the job raised; the ledger has counted it
            return {}, job_s
        m = self._stage_metrics(tracer, out["tables"], cfg)
        m["link.score_joint.s"] = tracer.seconds("link.score_joint")
        m["link.joint_graph.s"] = tracer.seconds("link.joint_graph")
        m["g4.partition.s"] = tracer.seconds("g4.partition")
        # the G4 route split of the joint graph, counted outside the job
        routes = {
            r["route"]: r
            for r in g4_route_stats(out["graph"], lp.max_component_edges).collect()
        }
        for route, name in (("star", "star"), ("greedy", "greedy"), ("over", "oversize")):
            r = routes.get(route)
            m[f"g4.route.{name}.components"] = r["n_components"] if r else 0
            m[f"g4.route.{name}.edges"] = r["n_edges"] if r else 0
        m.update(self._store_op(out["tables"]))
        m["link_accuracy"] = self.quality[-1]
        return m, job_s

    def _store_op(self, tables: dict) -> dict:
        """Write each materialised table, then its lineage, through a
        fresh timed parquet StageStore; check every table reads back
        with its row count."""
        timer: dict[str, float] = {}
        store_dir = self.fresh_dir("store")
        store = TimedStageStore(self.spark, store_dir, timer).sub("link")

        def write_all():
            for name, df in tables.items():
                store.write(df, name)
                store.write_lineage(store.read(name), name)
            return {name: store.read(name).count() for name in tables}

        def check(stored: dict) -> None:
            source = {name: df.count() for name, df in tables.items()}
            self.expect.equal("link_hot.store_roundtrip", stored, source)

        self.ledger.run("link_hot.store_write", write_all, check)
        return {
            "store.write_s": timer.get("write_s", 0.0),
            "store.lineage_s": timer.get("lineage_s", 0.0),
            "store.bytes_per_input_byte": dir_bytes(store_dir) / self.input_bytes,
        }


WORKLOADS = {w.name: w for w in (DedupWide, LinkHot)}
