"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed (and sizes): the same seed
gives byte-identical inputs, and the program under test receives only what
these functions return. Nothing here imports Spark.
"""

from __future__ import annotations

import os

import numpy as np

#: 2023-01-01T00:00:00 in epoch milliseconds, the reference fixture's first day
EPOCH_MS = 1672531200000
YEAR_MS = 365 * 86_400_000
CHUNK_ROWS = 65536
COLLECTIONS = [f"collection_{chr(97 + i)}" for i in range(12)]


def _bbox_pool(rng: np.random.Generator, size: int = 4096) -> list[str]:
    """WKT polygons shaped like the reference's ``shapely.box`` output."""
    x0 = np.round(rng.uniform(-180, 170, size), 4)
    y0 = np.round(rng.uniform(-90, 80, size), 4)
    w = np.round(rng.uniform(0.01, 10, size), 4)
    h = np.round(rng.uniform(0.01, 10, size), 4)
    out = []
    for a, b, c, d in zip(x0.tolist(), y0.tolist(), (x0 + w).tolist(), (y0 + h).tolist()):
        c, d = round(c, 4), round(d, 4)
        out.append(f"POLYGON (({c} {b}, {c} {d}, {a} {d}, {a} {b}, {c} {b}))")
    return out


def reference_columns(seed: int, n_rows: int) -> dict:
    """The reference store's three columns: ``date`` (datetime64[ms]) and
    ``collection`` / ``bbox`` strings."""
    rng = np.random.default_rng(seed)
    ms = rng.integers(0, YEAR_MS, n_rows)
    date = (EPOCH_MS + ms).astype("datetime64[ms]")
    coll_idx = rng.integers(0, len(COLLECTIONS), n_rows)
    pool = _bbox_pool(rng)
    box_idx = rng.integers(0, len(pool), n_rows)
    return {
        "date": date,
        "collection": [COLLECTIONS[i] for i in coll_idx.tolist()],
        "bbox": [pool[i] for i in box_idx.tolist()],
    }


# ---------------------------------------------------------------------------
# pipeline tables (the registry's documents / embeddings / customer schemas)
# ---------------------------------------------------------------------------

_VOCAB = (
    "a the data query scan filter join sort hash group agg window row column "
    "table spark stream batch key value fast slow big small order customer "
    "line part merge vector"
).split()
_LANGS = ("en", "en", "zh", "es", "fr", "de")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


def pipeline_tables(seed: int, n_docs: int, n_emb: int, n_cust: int) -> dict:
    """pyarrow tables shaped like the registry's synthetic parquet.

    The last fifth of the documents are copies of distinct earlier
    documents with two words replaced, so the near-duplicate operators find
    about one pair per copy whatever the seed; embeddings cluster around ten
    label centroids, so top-k neighbours are mostly same-label."""
    import pyarrow as pa

    rng = np.random.default_rng(seed + 7)
    n_copies = n_docs // 5
    n_orig = n_docs - n_copies
    texts = [" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), int(rng.integers(30, 90))))
             for _ in range(n_orig)]
    for src in rng.choice(n_orig, n_copies, replace=False):
        words = texts[src].split()
        for pos in rng.choice(len(words), 2, replace=False):
            words[pos] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        texts.append(" ".join(words))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([_LANGS[j] for j in rng.integers(0, len(_LANGS), n_docs)]),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    dim = 64
    centroids = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n_emb)
    vecs = centroids[labels] + 0.6 * rng.normal(size=(n_emb, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    keys = np.arange(1, n_cust + 1, dtype=np.int64)
    cust = pa.table(
        {
            "c_custkey": pa.array(keys),
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys.tolist()]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
            "c_mktsegment": pa.array([_SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]),
        }
    )
    return {"documents": docs, "embeddings": emb, "customer": cust}


def write_parquet_dir(tables: dict, out_dir: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
