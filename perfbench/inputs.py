"""Seeded inputs: the engine sees only what this module writes.

`documents` mirrors the sf0.1 corpus the engine's registry is written
against: the same schema and physical types, the same row count in one
Parquet file of one row group, so every footer-stat size gate
(`catalog.table_num_rows`, `table_num_row_groups`) takes the same branch
on every seed. Texts are 10-100 words from a 30-word vocabulary, and
5% of the documents copy another document's text plus " dup", the
near-duplicates the dedup ops must find. Row order is a seeded
permutation.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOCUMENTS = 5_000  # sf0.1 row count
NEAR_DUPS = 250
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = (["en", "de", "es", "fr", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15])


def documents_table(rng: np.random.Generator, n: int = DOCUMENTS) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]) for _ in range(n)]
    for target in rng.choice(n, NEAR_DUPS, replace=False):
        src = int(rng.integers(0, n - 1))
        texts[target] = texts[src + (src >= target)] + " dup"
    langs = np.asarray(LANGS[0], dtype=object)[rng.choice(len(LANGS[0]), n, p=LANGS[1])]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{k % 20}" for k in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


TABLES = {"documents": documents_table}


def write_tables(out_dir: str, seed: int, names: tuple[str, ...]) -> dict[str, int]:
    """Write each named table as `<out_dir>/<name>.parquet` (one file,
    one row group, rows in seeded order); returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in names:
        table = TABLES[name](rng)
        table = table.take(rng.permutation(table.num_rows))
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=table.num_rows,
            compression="snappy",
        )
        rows[name] = table.num_rows
    return rows


def drop_plan(seed: int, n_docs: int, n_drops: int, overlap: float = 0.1) -> list[np.ndarray]:
    """Seeded producer drops over `documents` row indices: every document
    lands in exactly one drop, and each drop after the first re-offers a
    seeded `overlap` slice of the previous drop (rows the ingest must
    reject as already seen)."""
    rng = np.random.default_rng([seed, 1])
    fresh = np.array_split(rng.permutation(n_docs), n_drops)
    drops = [fresh[0]]
    for i in range(1, n_drops):
        prev = fresh[i - 1]
        again = rng.choice(prev, max(1, int(len(prev) * overlap)), replace=False)
        drops.append(np.concatenate([fresh[i], again]))
    return drops
