import pytest

from blink_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("blink_spark-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus(spark):
    """Small deterministic clone-family corpus, cached for the session."""
    from blink_spark.corpus import generate_files

    df = generate_files(spark, n_entities=80, seed=42, hot_family_size=30).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def gold(corpus):
    from blink_spark.functions import text

    return corpus.select(
        text.stable_file_id("repo", "path", "commit").alias("file_id"), "entity_id"
    )


@pytest.fixture
def spill_paths(monkeypatch):
    """Paths written by blink_spark.io.scratch.spill while the test runs
    — every parquet lineage cut in the library goes through it."""
    from blink_spark.io import scratch

    paths = []
    real = scratch.spill

    def counting(df, path):
        paths.append(path)
        return real(df, path)

    monkeypatch.setattr(scratch, "spill", counting)
    return paths
