"""Seeded input generation for the benchmark workloads.

Everything the engine reads is made here from ``--seed``: the same seed
gives byte-identical inputs, and sizes never depend on the seed, only
contents do. Tables are written with pyarrow (no Spark job), with the
schemas of the engine's ``events`` / ``documents`` / ``embeddings``
inputs.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
N_USERS = 1500  # user_id % 10 == 0 folds into one giant conversation
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
# held-out (benchmark) docs share no token with the corpus vocabulary
HELDOUT_VOCAB = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor "
    "whiskey xray yankee zulu amber cobalt indigo maroon"
).split()
LANGS, LANG_P = ["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
EMB_DIM = 64
EMB_LABELS = 10


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named stream, so adding a stream never
    shifts the values of another."""
    h = hashlib.md5(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def events(seed: int, n: int, path: str) -> str:
    """``events`` table: (event_id, ts, user_id, event_type, value, props),
    ~26 s mean inter-arrival from 2024-01-01, uniform users."""
    r = rng_for(seed, "events")
    gaps_us = np.maximum(r.exponential(26e6, n).astype(np.int64), 1)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype("timedelta64[us]")
    value = np.round(r.exponential(50.0, n), 2)
    k = r.integers(0, 100, n)
    return _write(
        pa.table({
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, N_USERS, n).astype(np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, n)]),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {int(x)}}}' for x in k]),
        }),
        path,
    )


def _pii_token(r: np.random.Generator) -> str:
    kind = int(r.integers(0, 4))
    n = int(r.integers(0, 10_000))
    if kind == 0:
        return f"user{n}@example.com"
    if kind == 1:
        return f"10.{n % 256}.{n // 256 % 256}.{n % 97}"
    if kind == 2:
        return f"https://example.org/p/{n}"
    return str(10_000_000 + n * 7919)


def _docs(r: np.random.Generator, n: int, vocab: list[str], id0: int) -> dict:
    words = np.array(vocab)
    texts = []
    for i in range(n):
        if texts and r.random() < 0.05:  # near-dup of an earlier doc
            texts.append(texts[int(r.integers(0, len(texts)))] + " dup")
        elif texts and r.random() < 0.002:  # exact dup
            texts.append(texts[int(r.integers(0, len(texts)))])
        else:
            toks = list(words[r.integers(0, len(words), int(r.integers(10, 101)))])
            if r.random() < 0.1:
                toks.insert(int(r.integers(0, len(toks))), _pii_token(r))
            texts.append(" ".join(toks))
    return {
        "doc_id": np.arange(id0, id0 + n, dtype=np.int64),
        "text": texts,
        "lang": list(np.array(LANGS)[r.choice(len(LANGS), n, p=LANG_P)]),
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def documents(seed: int, n_base: int, replicas: int, path: str, n_files: int) -> str:
    """``documents``: ``n_base`` base docs, each repeated ``replicas``
    times with a seed-salted marker token, so replicas are near- but
    never exact duplicates of each other. Written as a directory of
    ``n_files`` parquet files, so a scan gets one split per core."""
    r = rng_for(seed, "documents")
    base = _docs(r, n_base, VOCAB, 0)
    salts = rng_for(seed, "salts").integers(0, 1 << 30, replicas)
    cols = {k: [] for k in base}
    for rep, salt in enumerate(salts):
        cols["doc_id"].append(base["doc_id"] + rep * n_base)
        texts = [f"{t} r{int(salt)}" for t in base["text"]]
        cols["text"].append(np.array(texts, dtype=object))
        cols["lang"].append(np.array(base["lang"], dtype=object))
        cols["source"].append(np.array(base["source"], dtype=object))
        cols["n_chars"].append(np.array([len(t) for t in texts], dtype=np.int64))
    table = pa.table({k: np.concatenate(v) for k, v in cols.items()})
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        _write(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))
    return path


def heldout(seed: int, n: int, path: str) -> str:
    """Held-out (decontamination benchmark) docs over a disjoint vocabulary."""
    return _write(pa.table(_docs(rng_for(seed, "heldout"), n, HELDOUT_VOCAB, 10**9)), path)


def embedding_batches(seed: int, n: int, n_batches: int, out_dir: str) -> list[str]:
    """Unit embeddings in ``n_batches`` parquet files (one micro-batch
    each, delivered in file-name order). A fifth are jittered copies of
    an earlier vector, so near-duplicate pairs cross batch boundaries."""
    r = rng_for(seed, "embeddings")
    x = r.standard_normal((n, EMB_DIM))
    for i in range(n // 5, n):
        if r.random() < 0.25:
            j = int(r.integers(0, i))
            x[i] = x[j] + r.normal(0.0, 0.05, EMB_DIM)
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    labels = r.integers(0, EMB_LABELS, n).astype(np.int32)
    ids = np.arange(n, dtype=np.int64)
    paths = []
    for b, idx in enumerate(np.array_split(np.arange(n), n_batches)):
        t = pa.table({
            "vec_id": pa.array(ids[idx]),
            "embedding": pa.array(list(x[idx]), type=pa.list_(pa.float32())),
            "label": pa.array(labels[idx]),
        })
        paths.append(_write(t, os.path.join(out_dir, f"part-{b:05d}.parquet")))
    stamp_order(paths)
    return paths


def stamp_order(paths: list[str]) -> None:
    """Strictly increasing mtimes in list order: the file source orders
    micro-batches by modification time."""
    import time

    base = int(time.time()) - len(paths) - 2
    for i, p in enumerate(paths):
        os.utime(p, (base + i, base + i))
