"""Seeded inputs. Every row the engine sees is a row of the sf0.1 test
tables copied verbatim into ``perfbench/data/`` (``orders``,
``documents``, ``embeddings``); the seed picks which rows, and which
duplicates are injected.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def table(name: str) -> pa.Table:
    return pq.read_table(os.path.join(DATA, f"{name}.parquet"))


def write_parquet(tbl: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path)
    return path


def near_copy(rng: np.random.Generator, vocab: np.ndarray, text: str,
              n_edits: int) -> str:
    """Replace `n_edits` words at random positions with corpus words."""
    words = text.split(" ")
    for p in rng.choice(len(words), size=min(n_edits, len(words)), replace=False):
        words[p] = vocab[rng.integers(0, len(vocab))]
    return " ".join(words)


def shingle_set(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams, the same definition ops.dedup uses."""
    w = text.strip().split()
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if (a or b) else 0.0
