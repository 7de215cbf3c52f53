"""LSH banding and the empty-doc sentinel, checked on the ``bands``
output of the fused stage-1 kernel (its agreement with the
pure-Python oracles and its determinism across partitionings are in
test_signature_features.py)."""

from blink_spark.functions.minhash import content_signature_features_udf


def _features(spark, docs, n_hashes, bands, rows_per_band):
    df = spark.createDataFrame(
        [(i, s, "l") for i, s in docs], "id int, s string, lang string"
    )
    udf = content_signature_features_udf(
        n_hashes, 42, shingle_k=3, bands=bands, rows_per_band=rows_per_band
    )
    return {
        r["id"]: r["ft"] for r in df.select("id", udf("s", "lang").alias("ft")).collect()
    }


def test_similar_docs_share_bands(spark):
    base = " ".join(f"w{i}" for i in range(200))
    near = base.replace("w100", "x100")  # tiny edit
    far = " ".join(f"z{i}" for i in range(200))
    got = _features(spark, [(0, base), (1, near), (2, far)], 32, 8, 4)
    bands = {i: ft["bands"] for i, ft in got.items()}
    assert all(len(b) == 8 for b in bands.values())
    shared_near = sum(1 for x, y in zip(bands[0], bands[1]) if x == y)
    shared_far = sum(1 for x, y in zip(bands[0], bands[2]) if x == y)
    assert shared_near >= 1
    assert shared_far == 0


def test_empty_doc_sentinel_signature(spark):
    got = _features(spark, [(0, ""), (1, ""), (2, "some real tokens here")], 8, 2, 4)
    # the sentinel signature bands like any other: empty docs collide,
    # and share no band with a non-empty doc
    assert got[0]["bands"] == got[1]["bands"]
    assert not set(got[0]["bands"]) & set(got[2]["bands"])
