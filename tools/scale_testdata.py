"""Build a LOCAL approximation of the driver's sf1.0 inputs for measurement.

The driver generates its own sf1.0 (BENCH_r06.json: "sf": 1.0); only
sf{0.001,0.01,0.1} exist under /root/testdata and are read-only. Row counts,
key cardinalities and time ranges all scale linearly with sf while the event
time window stays fixed at 30 days (verified across the three shipped tiers),
so a x10 scale-up of sf0.1 with per-copy key offsets reproduces the sf1.0
workload shape: 15k users over the same window (same per-user density, so the
cross-user session-pair population grows quadratically exactly as the
driver's 109 s session_overlap measurement implies), 6M lineitem, 1.5M
orders, 50k docs, 20k embeddings.

Tables that carry payload identity get fresh content per copy instead of
byte-copies, so dedup/ANN workloads are not distorted by planted x10 clones:

- documents: new word-soup texts drawn from the SAME empirical vocabulary and
  per-doc word-count distribution as sf0.1 (the shipped docs are uniform
  draws from a 31-word vocab; exact-dup collision rates then scale naturally).
- embeddings: per-copy random rotation-free perturbation v' = norm(v + 0.3 g)
  with g ~ N(0, I) seeded by (vec_id, copy) — preserves the label/cluster
  geometry without exact clones.

Everything is deterministic (seeded by copy index). Output is ONLY used for
local measurement (``SPARK_GRAFT_SF_DIR=<out> python bench.py``); correctness
gates keep running against the shipped read-only tiers.

Usage: python tools/scale_testdata.py [--out /root/sf1.0] [--factor 10]
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"

# key strides = exact cardinality of each dense 0-based key at sf0.1
STRIDES = {
    "c_custkey": 15000,
    "o_orderkey": 150000,
    "o_custkey": 15000,
    "l_orderkey": 150000,
    "l_partkey": 20000,
    "l_suppkey": 1000,
    "p_partkey": 20000,
    "s_suppkey": 1000,
    "user_id": 1500,
    "event_id": 100000,
    "doc_id": 5000,
    "vec_id": 2000,
}


def _offset_copy(t: pa.Table, k: int) -> pa.Table:
    cols = []
    for name in t.column_names:
        col = t[name]
        if k and name in STRIDES:
            col = pc.add(col, pa.scalar(k * STRIDES[name], type=col.type))
        cols.append(col)
    return pa.table(cols, names=t.column_names)


def scale_simple(name: str, out_dir: str, factor: int) -> None:
    t = pq.read_table(f"{SRC}/{name}.parquet")
    parts = [_offset_copy(t, k) for k in range(factor)]
    pq.write_table(pa.concat_tables(parts), f"{out_dir}/{name}.parquet")


def scale_documents(out_dir: str, factor: int, seed: int = 7) -> None:
    t = pq.read_table(f"{SRC}/documents.parquet")
    texts = t["text"].to_pylist()
    vocab = sorted({w for s in texts for w in s.split()})
    wc = np.array([len(s.split()) for s in texts])
    langs = t["lang"].to_pylist()
    sources = t["source"].to_pylist()
    n = t.num_rows
    parts = [t]
    for k in range(1, factor):
        rng = np.random.default_rng([seed, k])
        counts = rng.choice(wc, size=n)
        new_texts = [
            " ".join(rng.choice(vocab, size=c)) for c in counts
        ]
        parts.append(
            pa.table(
                {
                    "doc_id": pa.array(
                        np.arange(n, dtype=np.int64) + k * STRIDES["doc_id"]
                    ),
                    "text": pa.array(new_texts),
                    "lang": pa.array(rng.permutation(langs).tolist()),
                    "source": pa.array(rng.permutation(sources).tolist()),
                    "n_chars": pa.array(
                        np.array([len(s) for s in new_texts], dtype=np.int64)
                    ),
                }
            )
        )
    pq.write_table(pa.concat_tables(parts), f"{out_dir}/documents.parquet")


def scale_embeddings(out_dir: str, factor: int, seed: int = 11) -> None:
    t = pq.read_table(f"{SRC}/embeddings.parquet")
    v = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    labels = t["label"].to_pylist()
    n = t.num_rows
    parts = [t]
    for k in range(1, factor):
        rng = np.random.default_rng([seed, k])
        nv = v + 0.3 * rng.standard_normal(v.shape)
        nv = nv / np.linalg.norm(nv, axis=1, keepdims=True)
        parts.append(
            pa.table(
                {
                    "vec_id": pa.array(
                        np.arange(n, dtype=np.int64) + k * STRIDES["vec_id"]
                    ),
                    "embedding": pa.array(
                        [row.astype(np.float32) for row in nv],
                        type=pa.list_(pa.float32()),
                    ),
                    "label": pa.array(labels, type=pa.int32()),
                }
            )
        )
    pq.write_table(pa.concat_tables(parts), f"{out_dir}/embeddings.parquet")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/root/sf1.0")
    ap.add_argument("--factor", type=int, default=10)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    for name in ("region", "nation"):
        pq.write_table(
            pq.read_table(f"{SRC}/{name}.parquet"), f"{args.out}/{name}.parquet"
        )
    for name in ("customer", "supplier", "part", "orders", "lineitem", "events"):
        scale_simple(name, args.out, args.factor)
    scale_documents(args.out, args.factor)
    scale_embeddings(args.out, args.factor)
    open(f"{args.out}/_DONE", "w").close()
    print("wrote", args.out)


if __name__ == "__main__":
    main()
