"""Seeded, vectorized input generators for the benchmark.

Two input families, both pure functions of ``seed``:

- ``sequences`` / ``reference_events`` (FIXTURES.md §1-2) for ``pit_tokens``
  and ``checkpoint_resume``. The distributions follow
  ``audio_feature_extraction_spark.datagen.doc_rows`` / ``ref_rows``: 3-12
  rows per doc, log-normal token counts clipped to 16-256, ~60% of docs on
  the ``web`` source, ~15% NULL values, ~5% timestamp ties, 25% session
  gaps, ~30% of docs with no reference rows. The rows are not bit-equal to
  ``datagen`` (that generator draws one RNG stream per doc, which costs
  minutes at benchmark size); one stream per table is drawn here instead.
- ``documents`` / ``events`` in the shape of the shipped sf0.01 tables
  (README.md, "Registry inputs against sf0.01"): 10-99 words per doc drawn
  uniformly from a 30-word vocabulary, ~5% near-duplicate docs (a copy of
  another doc plus " dup"), 40% ``en`` and 15% each of four other
  languages, 20 sources; uniform users and event types over 30 days with
  exponential values, for ``registry_mix``, each written as one row group
  like the shipped files.

Each writer returns a fingerprint (seed, row and token counts, and a content
digest) so two runs can show they measured the same input.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
SOURCES = np.array(
    ["teacher", "student01", "student02", "student03", "student04", "books", "web"]
)
REF_VEC_DIM = 13
SEQ_TABLES = ("sequences", "reference_events")
REG_TABLES = ("documents", "events")
SEQ_ROW_GROUPS = 16  # scan splits follow row groups; keep every core busy


def _digest(*arrays: np.ndarray) -> str:
    h = hashlib.sha256()
    for a in arrays:
        h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()[:16]


def _write(table: pa.Table, path: str, row_groups: int = 1) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        table, path, row_group_size=max(1, -(-table.num_rows // row_groups))
    )
    return os.path.getsize(path)


def _ts_array(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def sequences(seed: int, n_docs: int) -> tuple[pa.Table, pa.Table]:
    """(sequences, reference_events) as Arrow tables."""
    rng = np.random.default_rng([seed, 1])
    doc = np.arange(n_docs, dtype=np.int64)
    doc_ids = np.char.add("doc", np.char.zfill(doc.astype(str), 8))
    src = np.where(
        rng.random(n_docs) < 0.60, 6, rng.integers(0, 6, n_docs)
    )

    n_rows = rng.integers(3, 13, n_docs)
    row_doc = np.repeat(doc, n_rows)
    starts = np.cumsum(n_rows) - n_rows
    seq = np.arange(len(row_doc)) - np.repeat(starts, n_rows)
    n = len(row_doc)

    steps = np.where(
        rng.random(n) < 0.25,
        rng.integers(40_000_000, 120_000_000, n),
        rng.integers(1_000_000, 10_000_000, n),
    )
    steps = np.where(rng.random(n) < 0.05, 0, steps)
    steps[starts] = 0
    csum = np.cumsum(steps)
    ts_us = (
        EPOCH_US + row_doc * 997_000_000 + csum - np.repeat(csum[starts], n_rows)
    )

    value = rng.normal(0.0, 1.0, n)
    valid = rng.random(n) >= 0.15

    n_tok = np.clip(
        np.exp(rng.normal(np.log(32), 0.9, n)).astype(np.int64), 16, 256
    )
    offsets = np.concatenate([[0], np.cumsum(n_tok)]).astype(np.int32)
    tokens = rng.integers(
        -(2**31), 2**31 - 1, int(offsets[-1]), dtype=np.int64
    ).astype(np.int32)

    seq_t = pa.table(
        {
            "doc_id": pa.array(doc_ids[row_doc]),
            "seq": pa.array(seq.astype(np.int32)),
            "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(tokens)),
            "n_tok": pa.array(n_tok.astype(np.int32)),
            "source": pa.array(SOURCES[src][row_doc]),
            "ts": _ts_array(ts_us),
            "value": pa.array(value, mask=~valid),
        }
    )

    has_ref = rng.random(n_docs) < 0.70
    ref_doc = np.repeat(doc[has_ref], rng.integers(2, 8, int(has_ref.sum())))
    ref_ts = (
        EPOCH_US
        + ref_doc * 997_000_000
        + rng.integers(-30_000_000, 90_000_000, len(ref_doc))
    )
    order = np.lexsort((ref_ts, ref_doc))
    ref_doc, ref_ts = ref_doc[order], ref_ts[order]
    keep = np.concatenate(
        [[True], (ref_doc[1:] != ref_doc[:-1]) | (ref_ts[1:] != ref_ts[:-1])]
    )  # one reference row per (key, ts)
    ref_doc, ref_ts = ref_doc[keep], ref_ts[keep]
    vec = rng.normal(0.0, 1.0, (len(ref_doc), REF_VEC_DIM))
    ref_t = pa.table(
        {
            "source": pa.array(SOURCES[src][ref_doc]),
            "doc_id": pa.array(doc_ids[ref_doc]),
            "ts": _ts_array(ref_ts),
            "ref_vec": pa.FixedSizeListArray.from_arrays(
                pa.array(vec.ravel()), REF_VEC_DIM
            ).cast(pa.list_(pa.float64())),
        }
    )
    return seq_t, ref_t


def write_sequences(seed: int, n_docs: int, out_dir: str) -> dict:
    seq_t, ref_t = sequences(seed, n_docs)
    tokens = seq_t.column("tokens").combine_chunks()
    size = _write(seq_t, os.path.join(out_dir, "sequences.parquet"), SEQ_ROW_GROUPS)
    size += _write(
        ref_t, os.path.join(out_dir, "reference_events.parquet"), SEQ_ROW_GROUPS
    )
    return {
        "seed": seed,
        "docs": n_docs,
        "rows": seq_t.num_rows,
        "tokens": len(tokens.values),
        "ref_rows": ref_t.num_rows,
        "parquet_bytes": size,
        "digest": _digest(
            tokens.values.to_numpy(),
            seq_t.column("ts").combine_chunks().cast(pa.int64()).to_numpy(),
            ref_t.column("ts").combine_chunks().cast(pa.int64()).to_numpy(),
        ),
    }


VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split()
)
LANGS = np.array(["en", "de", "es", "fr", "zh"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


def registry_tables(seed: int, n_docs: int, n_events: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 2])

    n_words = rng.integers(10, 100, n_docs)
    words = VOCAB[rng.integers(0, len(VOCAB), int(n_words.sum()))]
    bounds = np.cumsum(n_words)[:-1]
    texts = np.array([" ".join(w) for w in np.split(words, bounds)], dtype=object)
    dup = np.flatnonzero(rng.random(n_docs) < 0.05)
    texts[dup] = [t + " dup" for t in texts[rng.integers(0, n_docs, len(dup))]]
    lang = rng.choice(LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(lang),
            "source": pa.array(
                np.char.add("src", (np.arange(n_docs) % 20).astype(str))
            ),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )

    n_users = max(2, n_events * 15 // 1000)
    span_us = 30 * 86_400_000_000
    ts = np.unique(EPOCH_US + rng.integers(0, span_us, n_events))
    n_ev = len(ts)
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts_array(ts),
            "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n_ev)]),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array(
                np.char.add(
                    np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)),
                    "}",
                )
            ),
        }
    )
    return {"documents": documents, "events": events}


def write_registry(seed: int, n_docs: int, n_events: int, out_dir: str) -> dict:
    tables = registry_tables(seed, n_docs, n_events)
    size = sum(
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        for name, t in tables.items()
    )
    docs, ev = tables["documents"], tables["events"]
    return {
        "seed": seed,
        "rows": {k: t.num_rows for k, t in tables.items()},
        "parquet_bytes": size,
        "digest": _digest(
            np.frombuffer("\n".join(docs.column("text").to_pylist()).encode(), np.uint8),
            ev.column("ts").combine_chunks().cast(pa.int64()).to_numpy(),
        ),
    }
