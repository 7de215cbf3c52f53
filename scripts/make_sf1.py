"""Deterministic sf1.0 generator: a 10x scale-up of the driver's sf0.1
tables, derived ONLY from the sf0.1 parquet bytes plus a fixed seed (no
external data — round-4 VERDICT item 2 asks for a 10x headline bench).

Design goal: the scaled tables must preserve the PER-ROW work profile
of sf0.1 so that wall(sf1.0)/wall(sf0.1) reads as per-row cost, not as
a density artifact:

* ``documents`` — each replica r>0 maps every token through the
  bijection tok -> f"{tok}z{r}" (alnum suffix, survives the engine's
  [^a-z0-9_]+ tokenizer as one token): replica vocabularies are
  DISJOINT. A token bijection preserves every within-replica
  similarity EXACTLY (unigram and shingle Jaccard, minhash collision
  structure, simhash feature sets, exact-dup groups — all functions
  of token identity only), so per-row candidate density is
  similarity-faithful to sf0.1; across replicas token sets share
  nothing, so the scale-up cannot quadratically inflate candidates.
  Density is not bit-faithful: hash-valued kernels (md5 simhash bits,
  MinHash values) see new token strings, so pair counts near a
  threshold drift (SF1BENCH.json: dedup_simhash_pairs 9.02 -> 14.85
  pairs/row). scale_documents checks the disjointness after scaling
  and fails if a token is shared by two replicas. Two rejected
  designs, for the record: substituting 1/3 of token INSTANCES left
  cross-replica distinct-token Jaccard at ~0.6 (unigram-minhash
  queries went x28.9 at 10x), and a random vocabulary PERMUTATION
  cannot help either — the corpus vocabulary is only 31 words and
  each doc covers ~80% of it, so any two large subsets of a
  31-element universe intersect at J~0.65 no matter the mapping.
  doc_id stays a contiguous 0..10N-1 domain (the groups-of-4
  fixtures derive ranks arithmetically).
* ``embeddings`` — replicas are FRESH unit vectors sampled to match
  the measured sf0.1 geometry (isotropic Gaussian + a label-centroid
  pull sized for the observed intra-label cos≈0.07); no planted
  near-dups, matching sf0.1 (its own max off-diagonal cos < 0.8).
* TPC-H tables — replicated with per-table key strides so referential
  integrity holds within each replica (lineitem->orders/part/supplier,
  orders->customer); region/nation stay fixed (dimension tables).
* ``events`` — event_id/user_id strided, timestamps kept (same
  time-window density per user).

Usage: python scripts/make_sf1.py [--src /root/testdata/sf0.1]
                                  [--dst _sfbench/sf1.0] [--factor 10]
"""

from __future__ import annotations

import argparse
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 20260818


def scale_documents(src: str, dst: str, factor: int) -> int:
    t = pq.read_table(f"{src}/documents.parquet")
    doc_id = t.column("doc_id").to_numpy()
    text = t.column("text").to_pylist()
    lang = t.column("lang").to_pylist()
    source = t.column("source").to_pylist()
    n = len(doc_id)
    stride = int(doc_id.max()) + 1

    ids, txts, langs, srcs, nchars = [], [], [], [], []
    for r in range(factor):
        for i in range(n):
            s = text[i] if r == 0 else " ".join(
                f"{tok}z{r}" for tok in text[i].split(" ")
            )
            ids.append(r * stride + int(doc_id[i]))
            txts.append(s)
            langs.append(lang[i])
            srcs.append(source[i])
            nchars.append(len(s))
    check_disjoint_vocabularies(txts, n, factor)
    out = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(txts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(srcs, pa.string()),
            "n_chars": pa.array(nchars, pa.int64()),
        }
    )
    pq.write_table(out, f"{dst}/documents.parquet")
    return out.num_rows


def check_disjoint_vocabularies(texts: list[str], n: int, factor: int) -> None:
    """Exit with an error unless the replicas' token vocabularies are
    pairwise disjoint, tokenized as the engine does (lowercase, split
    on functions.text.TOKEN_SPLIT_RE). A source token such as "az1"
    would collide with replica 1's copy of the token "a"."""
    split = re.compile(r"[^a-z0-9_]+")
    owner: dict[str, int] = {}
    for r in range(factor):
        for s in texts[r * n : (r + 1) * n]:
            for tok in split.split(s.lower()):
                if tok and owner.setdefault(tok, r) != r:
                    raise SystemExit(
                        f"make_sf1: token {tok!r} occurs in replicas "
                        f"{owner[tok]} and {r}; replica vocabularies must be "
                        "disjoint"
                    )


def scale_embeddings(src: str, dst: str, factor: int) -> int:
    t = pq.read_table(f"{src}/embeddings.parquet")
    vec_id = t.column("vec_id").to_numpy()
    emb = np.vstack(t.column("embedding").to_pylist()).astype(np.float64)
    label = t.column("label").to_numpy()
    n, d = emb.shape
    stride = int(vec_id.max()) + 1
    cents = {}
    for l in np.unique(label):
        m = emb[label == l].mean(0)
        cents[int(l)] = m / np.linalg.norm(m)

    ids = [vec_id]
    vecs = [emb.astype(np.float32)]
    labs = [label]
    for r in range(1, factor):
        rng = np.random.default_rng(SEED + r)
        g = rng.standard_normal((n, d))
        pull = np.vstack([cents[int(l)] for l in label])
        # |g|~sqrt(d)=8; t=0.56 gives cos-to-centroid ~= t/|g| ~= 0.07,
        # the measured sf0.1 intra-label signal
        v = g + 0.56 * pull
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        ids.append(vec_id + r * stride)
        vecs.append(v.astype(np.float32))
        labs.append(label)
    out = pa.table(
        {
            "vec_id": pa.array(np.concatenate(ids), pa.int64()),
            "embedding": pa.array(
                [list(map(float, row)) for row in np.vstack(vecs)],
                pa.list_(pa.float32()),
            ),
            "label": pa.array(np.concatenate(labs), pa.int32()),
        }
    )
    pq.write_table(out, f"{dst}/embeddings.parquet")
    return out.num_rows


# (table, [(key_col, stride_source_table)]) — stride = max(key)+1 of the
# REFERENCED table so every replica's FKs land inside that replica.
REL = {
    "customer": [("c_custkey", "customer")],
    "supplier": [("s_suppkey", "supplier")],
    "part": [("p_partkey", "part")],
    "orders": [("o_orderkey", "orders"), ("o_custkey", "customer")],
    "lineitem": [
        ("l_orderkey", "orders"),
        ("l_partkey", "part"),
        ("l_suppkey", "supplier"),
    ],
    "events": [("event_id", "events"), ("user_id", None)],
}


def scale_relational(src: str, dst: str, factor: int) -> dict[str, int]:
    import duckdb

    con = duckdb.connect()
    strides = {
        name: con.sql(
            f"select max({key}) + 1 from '{src}/{name}.parquet'"
        ).fetchone()[0]
        for name, key in [
            ("customer", "c_custkey"),
            ("supplier", "s_suppkey"),
            ("part", "p_partkey"),
            ("orders", "o_orderkey"),
            ("events", "event_id"),
        ]
    }
    strides[None] = con.sql(
        f"select max(user_id) + 1 from '{src}/events.parquet'"
    ).fetchone()[0]

    counts = {}
    for name in ("region", "nation"):
        con.sql(
            f"copy (select * from '{src}/{name}.parquet') to"
            f" '{dst}/{name}.parquet' (format parquet)"
        )
        counts[name] = con.sql(f"select count(*) from '{dst}/{name}.parquet'").fetchone()[0]

    for name, keys in REL.items():
        cols = [
            r[0]
            for r in con.sql(f"describe select * from '{src}/{name}.parquet'").fetchall()
        ]
        offset = {k: strides[ref] for k, ref in keys}
        sel = ", ".join(
            f"{c} + r.r * {offset[c]} as {c}" if c in offset else c for c in cols
        )
        con.sql(
            f"copy (select {sel} from '{src}/{name}.parquet',"
            f" (select unnest(range({factor})) as r) r order by r.r)"
            f" to '{dst}/{name}.parquet' (format parquet)"
        )
        counts[name] = con.sql(f"select count(*) from '{dst}/{name}.parquet'").fetchone()[0]
    return counts


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--dst", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "_sfbench", "sf1.0"))
    ap.add_argument("--factor", type=int, default=10)
    args = ap.parse_args()
    os.makedirs(args.dst, exist_ok=True)

    counts = scale_relational(args.src, args.dst, args.factor)
    counts["documents"] = scale_documents(args.src, args.dst, args.factor)
    counts["embeddings"] = scale_embeddings(args.src, args.dst, args.factor)
    for k, v in sorted(counts.items()):
        print(f"{k:12s} {v}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
