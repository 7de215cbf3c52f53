"""Lineage cuts: every scratch-parquet write in the library goes
through this module.

The reference memoizes each stage by pickling its output
(eval_cluster_linking.py:411-415); the analog here is a parquet spill,
written and re-read. Measured on this host: ``localCheckpoint`` burns
~100x CPU per row for UDF-derived tables and the columnar cache is
little better for wide string columns, while a parquet round-trip is
fast at every parallelism level — and on a real cluster a durable
scratch table is what a multi-stage plan wants anyway (same mechanism
StageStore uses; ``localCheckpoint`` blocks are executor-resident and
one lost executor kills a whole iterative job).

A cut is worth its write only where a table has two or more consumers
or feeds a loop; a single-consumer table stays lazy. Three shapes:

* ``spill_scratch(df, name)`` — a one-shot cut into a fresh scratch dir.
* ``make_parquet_checkpointer(...)`` — the one per-iteration
  checkpointer of every iterative operator (CC, Borůvka, NN-descent,
  the distributed G4 loops).
* ``observed_checkpoint(fn, df, *exprs)`` — a checkpoint write that
  also returns aggregates observed on the rows it wrote, so a loop's
  convergence signature costs no extra Spark action.

``scratch_dir()`` hands out a session-scoped temp dir and registers
it for cleanup at interpreter exit, so bench loops don't leak disk.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import Column, DataFrame, Observation

_CLEANUP: set[str] = set()


def _cleanup_all() -> None:
    for d in list(_CLEANUP):
        shutil.rmtree(d, ignore_errors=True)
        _CLEANUP.discard(d)


atexit.register(_cleanup_all)


def scratch_dir(prefix: str = "blink_scratch_") -> str:
    """A fresh temp dir, removed at interpreter exit."""
    d = tempfile.mkdtemp(prefix=prefix)
    _CLEANUP.add(d)
    return d


_fresh_dir = scratch_dir  # make_parquet_checkpointer's parameter shadows the name


def spill(df: DataFrame, path: str) -> DataFrame:
    """Materialize df to parquet and return the re-read — a durable
    stage boundary that cuts lineage and stops multi-consumer plans
    from recomputing upstream UDFs. The re-read takes df's schema
    rather than inferring it, which would cost a Spark job."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def spill_scratch(df: DataFrame, name: str) -> DataFrame:
    """spill() into a fresh session scratch dir."""
    return spill(df, os.path.join(scratch_dir(), name))


def make_parquet_checkpointer(
    scratch_dir: str | None = None, keep_last: int = 2, name: str = "cc_iter"
):
    """Per-iteration checkpointer (df -> df) writing under
    ``scratch_dir``, or a fresh session scratch dir when None. It
    EXECUTES its frame, which ``observed_checkpoint`` relies on.

    Only the last ``keep_last`` iteration tables are retained — once
    iteration N is durably written, N - keep_last can no longer be an
    input to anything, so it's deleted. ``name`` namespaces the
    iteration files: loops that interleave two checkpoint streams
    (e.g. Borůvka's component labels + forest) need separate counters
    so one stream's GC never deletes the other's live table."""
    root = scratch_dir if scratch_dir is not None else _fresh_dir()
    counter = {"n": 0}

    def ckpt(df: DataFrame) -> DataFrame:
        counter["n"] += 1
        out = spill(df, f"{root}/{name}_{counter['n']}")
        stale = counter["n"] - keep_last
        if stale >= 1:
            shutil.rmtree(f"{root}/{name}_{stale}", ignore_errors=True)
        return out

    return ckpt


def observed_checkpoint(checkpoint_fn, df: DataFrame, *exprs: Column) -> tuple[DataFrame, dict]:
    """``checkpoint_fn(df)`` plus the aggregates ``exprs``, keyed by
    alias, over the rows its write saw — a convergence signature at no
    extra Spark action. ``checkpoint_fn`` must execute the frame."""
    obs = Observation()
    out = checkpoint_fn(df.observe(obs, *exprs))
    return out, obs.get
