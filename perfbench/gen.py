"""Seeded input generation for the three benchmark subsystems.

Every generator takes a ``numpy.random.Generator`` and returns plain
Python / NumPy / Arrow data, written to parquet by the caller. The
program under test only ever sees the written files, and the checks in
``oracle.py`` read the same files, so both sides work from identical
inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def write_parquet(table: pa.Table, directory: str, parts: int) -> None:
    """Write ``table`` as ``parts`` files under ``directory`` so a
    Spark scan splits it into ``parts`` tasks."""
    os.makedirs(directory, exist_ok=True)
    n = table.num_rows
    step = -(-n // parts)
    for i in range(parts):
        chunk = table.slice(i * step, step)
        if chunk.num_rows:
            pq.write_table(chunk, os.path.join(directory, f"part-{i:03d}.parquet"))


# -- hierarchy ---------------------------------------------------------------

LEVEL_NAMES = ("Total", "Division", "Department", "Class", "Subclass", "Style")


@dataclass
class Hierarchy:
    """Adjacency list: parallel lists indexed by position; natural key
    ``nk[i]`` has parent ``parent[i]`` (None for the root)."""
    nk: list
    parent: list
    depth: list

    def table(self) -> pa.Table:
        return pa.table({
            "nk": pa.array(self.nk, pa.int64()),
            "name": pa.array([f"node {k}" for k in self.nk]),
            "level_name": pa.array([LEVEL_NAMES[d - 1] for d in self.depth]),
            "parent_nk": pa.array(self.parent, pa.int64()),
        })

    def leaves(self) -> list:
        has_child = set(p for p in self.parent if p is not None)
        return [k for k in self.nk if k not in has_child]


def hierarchy(rng: np.random.Generator, level_sizes: tuple, parent_share: float) -> Hierarchy:
    """A ragged tree with exactly ``level_sizes[d]`` nodes at depth d+1.
    Below the root, only a random ``parent_share`` of each level's nodes
    get children (each at least one), so the rest are leaves and leaves
    sit at every depth from 3 down; the node count does not depend on
    the seed."""
    nk, parent, depth = [1], [None], [1]
    level = [1]
    for d, size in enumerate(level_sizes[1:], start=2):
        n_par = len(level) if d == 2 else max(1, round(len(level) * parent_share))
        parents = rng.permutation(level)[:n_par]
        picks = np.concatenate([parents, rng.choice(parents, size - n_par)])
        keys = list(range(len(nk) + 1, len(nk) + 1 + size))
        nk += keys
        parent += [int(p) for p in rng.permutation(picks)]
        depth += [d] * size
        level = keys
    return Hierarchy(nk, parent, depth)


def reparented(h: Hierarchy, rng: np.random.Generator) -> Hierarchy:
    """Version B of the adjacency: one level-3 subtree moves under a
    different level-2 parent (same level, so every depth is kept)."""
    level3 = [i for i, d in enumerate(h.depth) if d == 3]
    level2 = [k for k, d in zip(h.nk, h.depth) if d == 2]
    # pick the level-3 node with most children so the refresh moves rows
    child_count = {}
    for p in h.parent:
        if p is not None:
            child_count[p] = child_count.get(p, 0) + 1
    i = max(level3, key=lambda j: (child_count.get(h.nk[j], 0), -h.nk[j]))
    old = h.parent[i]
    choices = [k for k in level2 if k != old]
    new_parent = int(choices[int(rng.integers(len(choices)))])
    parent = list(h.parent)
    parent[i] = new_parent
    return Hierarchy(list(h.nk), parent, list(h.depth))


def facts(rng: np.random.Generator, leaves: list, rows: int, customers: int) -> pa.Table:
    """Sales facts on leaf products. Amounts are integer cents so every
    engine's sums are exact; customers are Zipf-skewed so the distinct
    count is not just the row count."""
    leaf_arr = np.asarray(leaves, dtype=np.int64)
    product = leaf_arr[rng.integers(0, len(leaf_arr), rows)]
    cust = (rng.zipf(1.3, rows) % customers).astype(np.int64) + 1
    return pa.table({
        "product_nk": product,
        "customer_id": cust,
        "sales_cents": rng.integers(100, 50_000, rows).astype(np.int64),
        "units": rng.integers(1, 20, rows).astype(np.int64),
    })


# -- Z-ordered table ---------------------------------------------------------

TS_SPAN = 1 << 20    # layout bound of the time dimension
X_SPAN = 1 << 10     # layout bound of the space dimension


def lake_rows(rng: np.random.Generator, keys: np.ndarray, ts_lo: int, ts_hi: int) -> dict:
    n = len(keys)
    return {
        "key": keys.astype(np.int64),
        "ts": rng.integers(ts_lo, ts_hi, n).astype(np.int64),
        "x": rng.integers(0, X_SPAN, n).astype(np.int64),
        "val": rng.integers(0, 1 << 30, n).astype(np.int64),
        "tag": np.char.add("t", rng.integers(0, 1 << 20, n).astype(str)).astype(object),
    }


def lake_table(cols: dict) -> pa.Table:
    return pa.table({
        "key": pa.array(cols["key"], pa.int64()),
        "ts": pa.array(cols["ts"], pa.int64()),
        "x": pa.array(cols["x"], pa.int64()),
        "val": pa.array(cols["val"], pa.int64()),
        "tag": pa.array(list(cols["tag"]), pa.string()),
    })


# -- corpus ------------------------------------------------------------------

VOCAB = 4000
DIM = 64


def _words(rng: np.random.Generator, n: int) -> list:
    ranks = np.minimum(rng.zipf(1.15, n), VOCAB) - 1
    return [f"w{r}" for r in ranks]


def documents(rng: np.random.Generator, n: int) -> list:
    return [" ".join(_words(rng, int(rng.integers(40, 80)))) for _ in range(n)]


def near_copy(rng: np.random.Generator, text: str) -> str:
    """Replace one token with a word outside the vocabulary's head: 3-word
    shingle Jaccard with the source stays near 0.9."""
    toks = text.split()
    i = int(rng.integers(len(toks)))
    toks[i] = f"z{int(rng.integers(1 << 30))}"
    return " ".join(toks)


def embeddings(rng: np.random.Generator, n: int, centers: np.ndarray) -> np.ndarray:
    c = centers[rng.integers(0, len(centers), n)]
    v = c + 0.35 * rng.standard_normal((n, DIM))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def queries(rng: np.random.Generator, near: np.ndarray, noise: float = 0.05) -> np.ndarray:
    """Unit query vectors close to the given corpus vectors (cosine about
    0.9 with them), so each has a well-defined neighbourhood."""
    v = near + noise * rng.standard_normal(near.shape)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def pq_codebooks(rng: np.random.Generator, vecs: np.ndarray, subspaces: int = 8,
                 k: int = 16, iters: int = 10) -> list:
    """Product-quantization codebooks trained here with Lloyd's k-means
    per subspace, as (subspace, centroid_id, centroid) rows: the trained
    artifact the program's PQ index is written with."""
    sub = vecs.shape[1] // subspaces
    rows = []
    for j in range(subspaces):
        x = vecs[:, j * sub:(j + 1) * sub]
        c = x[rng.choice(len(x), k, replace=False)]
        for _ in range(iters):
            label = ((x[:, None, :] - c[None]) ** 2).sum(-1).argmin(1)
            for i in range(k):
                if (label == i).any():
                    c[i] = x[label == i].mean(0)
        rows += [(j, i, [float(v) for v in c[i]]) for i in range(k)]
    return rows


def corpus_table(ids: np.ndarray, texts: list, vecs: np.ndarray) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "embedding": pa.array(list(vecs.astype(np.float64)), pa.list_(pa.float64())),
    })
