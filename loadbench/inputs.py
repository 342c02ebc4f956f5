"""Seeded inputs for the workloads, and independent twins of the program's
own seeded generators.

Writes ``documents.parquet`` and ``embeddings.parquet`` with the schemas and
distributions of the catalog's testdata (sf0.1: 5000 documents, 2000
64-dim embeddings), so the same seed always yields byte-identical tables:

- documents: 10-100 words drawn from a 30-word vocabulary, 5 languages
  (en ~41%), 20 sources; 5% of documents are an earlier document plus the
  token ``dup`` -- the near-duplicate pairs the dedup operators exist for;
- embeddings: unit vectors scattered around 10 label centroids, so cosine
  neighbourhoods and sign-LSH buckets have structure.
"""

from __future__ import annotations

import hashlib
import os
from datetime import timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
DUP_SHARE = 0.05
DIM = 64
N_LABELS = 10


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, size=n)
    texts: list[str] = []
    for i, n_words in enumerate(lengths):
        if i > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_words)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centroids = rng.normal(size=(N_LABELS, DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, size=n).astype(np.int32)
    vecs = 0.25 * centroids[labels] + rng.normal(scale=1 / np.sqrt(DIM), size=(n, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32)),
        pa.array(vecs.reshape(-1), pa.float32()),
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(labels),
        }
    )


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> dict[str, int]:
    """Write both tables under ``out_dir``; returns table -> row count."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {"documents": documents(rng, n_docs), "embeddings": embeddings(rng, n_vecs)}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}


def _hash_int(text: str, lo: int, hi: int) -> int:
    return int(hashlib.sha256(text.encode()).hexdigest()[lo:hi], 16)


def distributed_txns(run_id: str, n: int) -> list[dict]:
    """Independent Python twin of ``datagen.transactions_df_distributed``:
    the rows that generator must produce for ``run_id``, rebuilt from its
    documented per-row sha2 derivation."""
    from postgres_etl_pipeline_spark.datagen import EPOCH, PRICES_CENTS, SKUS, STORES, TENDERS

    def pick(options: tuple, i: int, salt: str):
        return options[_hash_int(f"{run_id}:{i}:{salt}", 0, 8) % len(options)]

    rows = []
    for i in range(n):
        h = hashlib.sha256(f"{run_id}:{i}".encode()).hexdigest()
        ts = EPOCH + timedelta(seconds=int(h[24:32], 16) % (86_400 * 30))
        rows.append({
            "run_id": run_id,
            "ok": True,
            "event_time": ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
            "txn_id": h[32:48],
            "store_id": pick(STORES, i, "store"),
            "sku": pick(SKUS, i, "sku"),
            "quantity": int(h[8:16], 16) % 5 + 1,
            "unit_price_cents": pick(PRICES_CENTS, i, "price"),
            "tender_type": pick(TENDERS, i, "tender"),
            "customer_id": f"cust-{h[48:60]}" if int(h[16:24], 16) % 10 < 6 else None,
        })
    return rows
