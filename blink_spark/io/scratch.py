"""Scratch-parquet spill helpers.

Measured on this host: ``localCheckpoint`` burns ~100x CPU per row
for UDF-derived tables and the columnar cache is little better for
wide string columns, while a parquet round-trip is fast at every
parallelism level — and on a real cluster a durable scratch table is
what a multi-stage plan wants anyway (same mechanism StageStore uses).

``scratch_dir()`` hands out a session-scoped temp dir and registers
it for cleanup at interpreter exit, so bench loops don't leak disk
(each run previously left its mkdtemp behind).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame

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


def release(path: str) -> None:
    """Delete a scratch dir now instead of at exit."""
    shutil.rmtree(path, ignore_errors=True)
    _CLEANUP.discard(path)


def spill(df: DataFrame, path: str) -> DataFrame:
    """Materialize df to parquet and return the re-read — a durable
    stage boundary that cuts lineage and stops multi-consumer plans
    from recomputing upstream UDFs. The re-read takes df's schema
    rather than inferring it, which would cost a Spark job."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def spill_scratch(df: DataFrame, name: str = "t") -> tuple[DataFrame, str]:
    """spill() into a fresh scratch dir; returns (df, dir)."""
    d = scratch_dir()
    return spill(df, os.path.join(d, name)), d
