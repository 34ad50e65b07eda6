"""Seeded benchmark inputs.

Every table is built in two steps. A *base* table comes from a fixed
generator whose statistics follow the sf0.1 fixtures (events: 5 event
types, ~67 events per user, a 30-day window; documents: a 30-word
vocabulary, 5% "<base> dup" near-duplicates, source = doc_id % 20;
embeddings: unit vectors in 64 dims with 10 labels). The run's
``--seed`` then only moves rows around: an event-id offset for events
(and so for the transcripts derived from them), a vocabulary
permutation and a row shuffle for documents, a signed coordinate
permutation for embeddings. Row counts,
key multiplicities and the duplicate structure are therefore identical
for every seed; only which row lands where changes.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tools.make_replica import _permute_text, _vocab_permutation

BASE_SEED = 20240101
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMB_DIMS = 64
EMB_LABELS = 10
TS_BASE_US = 1704067200_000000  # 2024-01-01T00:00:00Z
TS_SPAN_US = 30 * 86400 * 1_000_000


def seed_rng(seed: int, stream: int) -> np.random.Generator:
    """Independent generator per (seed, purpose)."""
    return np.random.default_rng([seed, stream])


# ---------------------------------------------------------------- events

def events_table(n: int, seed: int) -> pa.Table:
    """``n`` events over ``n // 66`` users (sf0.1 has 100k over 1500)."""
    base = np.random.default_rng(BASE_SEED)
    users = max(n // 66, 4)
    ts = np.sort(base.integers(0, TS_SPAN_US, n)) + TS_BASE_US
    uid = base.integers(0, users, n)
    etype = base.integers(0, len(EVENT_TYPES), n)
    value = np.round(base.exponential(50.0, n), 2)
    props = base.integers(0, 100, n)
    # seed: event ids shift by a multiple of 1000, which moves every
    # row to another payload class, severity, app and source (the
    # transcript derivation selects them by eid modulo 19, 8, 4, 7 and
    # 97) while each class keeps its share, and keeps eid % 10 and
    # eid % 1000, so conversation sizes and the hot keyset are the same
    # for every seed
    offset = int(seed_rng(seed, 1).integers(0, 1_000_000)) * 1000
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64) + offset),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(uid.astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in etype]),
        "value": pa.array(value),
        "props": pa.array([json.dumps({"k": int(k)}) for k in props]),
    })


# ------------------------------------------------------------- documents

def _base_documents(n: int) -> pa.Table:
    base = np.random.default_rng(BASE_SEED + 1)
    texts: list[str] = []
    n_dup = n // 20
    n_orig = n - n_dup
    for _ in range(n_orig):
        words = base.integers(0, len(VOCAB), int(base.integers(8, 100)))
        texts.append(" ".join(VOCAB[w] for w in words))
    for _ in range(n_dup):
        texts.append(texts[int(base.integers(0, n_orig))] + " dup")
    order = base.permutation(n)
    texts = [texts[i] for i in order]
    lang = base.choice(len(LANGS), n, p=LANG_P)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in lang]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


# ------------------------------------------------------------ embeddings

def _base_embeddings(n: int) -> tuple[np.ndarray, np.ndarray]:
    base = np.random.default_rng(BASE_SEED + 2)
    v = base.standard_normal((n, EMB_DIMS)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v, base.integers(0, EMB_LABELS, n).astype(np.int32)


# --------------------------------------------------------------- replica

def write_corpus_replica(
    out_dir: str, docs: int, vecs: int, events: int, k: int, seed: int
) -> None:
    """K-fold decorrelated replica of a base corpus, in the manner of
    ``tools/make_replica.py`` (whose vocabulary permutation it reuses):
    copy ``c`` gets its own vocabulary permutation and an
    ``np.roll(vecs, c)`` rotation of the embedding coordinates, with id
    offsets per copy.

    Rolling by ``c`` is a decorrelation only while ``c < dims``: at
    ``c == dims`` the copy is bit-identical to copy 0 and every vector
    gains an exact near-duplicate, fabricating pairs. So ``k`` must be
    below the embedding dimension.
    """
    if not 1 <= k < EMB_DIMS:
        raise ValueError(
            f"replica factor k={k} must satisfy 1 <= k < dims={EMB_DIMS}: "
            "np.roll decorrelation repeats a copy at k >= dims"
        )
    os.makedirs(out_dir, exist_ok=True)
    rng = seed_rng(seed, 2)

    d = _base_documents(docs)
    texts = d.column("text").to_pylist()
    span = docs
    parts = []
    for c in range(k):
        mapping = _vocab_permutation(texts, int(rng.integers(0, 2**31)))
        order = rng.permutation(docs)
        t_c = [_permute_text(t, mapping) for t in texts]
        parts.append(pa.table({
            "doc_id": pa.array(np.arange(docs, dtype=np.int64)[order] + c * span),
            "text": pa.array([t_c[i] for i in order]),
            "lang": d.column("lang").take(order),
            "source": d.column("source").take(order),
            "n_chars": d.column("n_chars").take(order),
        }))
    pq.write_table(pa.concat_tables(parts), f"{out_dir}/documents.parquet")

    v, label = _base_embeddings(vecs)
    # seed: one signed coordinate permutation for the whole table keeps
    # every pairwise angle (so the near-duplicate structure) exact
    signs = np.where(rng.integers(0, 2, EMB_DIMS) == 1, 1.0, -1.0)
    v = (v[:, rng.permutation(EMB_DIMS)] * signs).astype(np.float32)
    etype = pa.list_(pa.float32())
    parts = []
    for c in range(k):
        parts.append(pa.table({
            "vec_id": pa.array(np.arange(vecs, dtype=np.int64) + c * vecs),
            "embedding": pa.array(list(np.roll(v, c, axis=1)), etype),
            "label": pa.array(label),
        }))
    pq.write_table(pa.concat_tables(parts), f"{out_dir}/embeddings.parquet")

    ev = events_table(events, seed)
    eid = ev.column("event_id").to_numpy()
    uid = ev.column("user_id").to_numpy()
    eid_span, uid_span = int(eid.max()) + 1, int(uid.max()) + 1
    parts = []
    for c in range(k):
        parts.append(ev.set_column(0, "event_id", pa.array(eid + c * eid_span))
                     .set_column(2, "user_id", pa.array(uid + c * uid_span)))
    pq.write_table(pa.concat_tables(parts), f"{out_dir}/events.parquet")
