"""Fused stage-1 kernel: consistency with the pure-Python oracles and
determinism across parallelism."""

import math
import random
from collections import Counter

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from blink_spark.functions import minhash as mh


def _docs(n=30, seed=21):
    rng = random.Random(seed)
    vocab = [f"tok{i}" for i in range(60)]
    docs = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 50))) for _ in range(n)
    ]
    docs += ["", "one", "Tab\tand, punct!"]
    return docs


def test_features_match_python_oracle(spark):
    docs = _docs()
    df = spark.createDataFrame(
        [(i, d, "py") for i, d in enumerate(docs)], "id long, content string, lang string"
    )
    udf = mh.content_signature_features_udf(32, seed=42, shingle_k=3, bands=4, rows_per_band=8)
    rows = {r["id"]: r["ft"] for r in df.select("id", udf("content", "lang").alias("ft")).collect()}
    g = int(pd.util.hash_array(np.asarray(["py"], dtype=object))[0])
    for i, doc in enumerate(docs):
        toks = mh.tokenize_py(doc)
        ft = rows[i]
        assert list(ft.asDict()) == ["bands", "tu", "tc", "tnorm"]
        if not toks:
            assert ft["tu"] == [] and ft["tc"] == [] and ft["tnorm"] == 0.0
            continue
        hs = pd.util.hash_array(np.asarray(toks, dtype=object)).view(np.int64)
        cnt = Counter(hs.tolist())
        exp_tu = sorted(cnt)
        assert ft["tu"] == exp_tu
        assert ft["tc"] == [cnt[t] for t in exp_tu]
        assert ft["tnorm"] == pytest.approx(
            math.sqrt(sum(v * v for v in cnt.values())), abs=1e-12
        )
        # band keys: band_keys_py over the pre-shift signature of the
        # same shingles, which the standalone oracle minhash_py (it
        # returns the signature shifted right by one) must agree with
        exp_sig = mh.minhash_py(hs.tolist(), 32, 42, shingle_k=3)
        a, b = mh.perm_params(32, 42)
        sh = np.asarray(mh.shingle_hashes_py(hs.tolist(), 3), dtype=np.uint64)
        v = (sh[:, None] * a[None, :] + b[None, :]) & np.uint64(0xFFFFFFFFFFFFFFFF)
        raw_sig = v.min(axis=0)
        assert (raw_sig >> np.uint64(1)).astype(np.int64).tolist() == exp_sig
        exp_bands = mh.band_keys_py(raw_sig, g, 4, 8).tolist()
        assert ft["bands"] == exp_bands


def test_shingle_hashes_py_edge_cases():
    assert mh.shingle_hashes_py([], 3) == []
    one = mh.shingle_hashes_py([5], 3)
    assert len(one) == 1
    assert mh.shingle_hashes_py([1, 2, 3, 4], 2) == [
        mh.shingle_hashes_py([1, 2], 2)[0],
        mh.shingle_hashes_py([2, 3], 2)[0],
        mh.shingle_hashes_py([3, 4], 2)[0],
    ]


def test_udf_deterministic_across_partitioning(spark):
    docs = _docs(50, seed=4)
    df = spark.createDataFrame(
        [(i, d, "l") for i, d in enumerate(docs)], "id long, content string, lang string"
    )
    udf = mh.content_signature_features_udf(16, 7, 2, bands=4, rows_per_band=4)
    def feats(n_parts):
        return {r["id"]: (r["ft"]["bands"], r["ft"]["tu"], r["ft"]["tc"])
                for r in df.repartition(n_parts).select("id", udf("content", "lang").alias("ft")).collect()}

    a, b = feats(2), feats(9)
    assert a == b


def test_short_doc_shingle_raises_no_overflow_warning():
    """A doc of at most shingle_k tokens is one whole-doc shingle; its
    Horner combine wraps mod 2^64 without a numpy overflow warning."""
    import warnings

    udf = mh.content_signature_features_udf(8, 42, shingle_k=3, bands=2, rows_per_band=4)
    batch = (pd.Series(["alpha beta"]), pd.Series(["py"]))
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        (out,) = list(udf.func(iter([batch])))
    hs = pd.util.hash_array(np.asarray(["alpha", "beta"], dtype=object)).view(np.int64)
    a, b = mh.perm_params(8, 42)
    sh = np.asarray(mh.shingle_hashes_py(hs.tolist(), 3), dtype=np.uint64)
    raw_sig = ((sh[:, None] * a[None, :] + b[None, :]) & np.uint64(0xFFFFFFFFFFFFFFFF)).min(axis=0)
    g = int(pd.util.hash_array(np.asarray(["py"], dtype=object))[0])
    assert out["bands"][0] == mh.band_keys_py(raw_sig, g, 2, 4).tolist()
