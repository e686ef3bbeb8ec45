"""Seeded benchmark inputs.

The base tables under ``perfbench/data/sf<sf>/`` are byte copies of the
synthetic test tables described in TESTDATA.md, at that scale factor, so
the benchmark reads nothing outside its checkout. ``generate`` turns a seed
into one dataset directory:

* seed 0 copies every base file byte for byte, so its numbers stay
  comparable with runs on the testdata itself;
* any other seed drops a seeded ~10% of ``orders`` (and the ``lineitem``
  rows of those orders) and of ``documents`` and ``embeddings``, choosing
  rows by a hash of the primary key; the other tables are copied.

Each dataset gets a seed-unique directory basename, because the engine
caches derived lakes under ``.derived/<basename>`` and a shared basename
would serve one seed's lake to another.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# table -> primary-key column whose hash decides whether a row is dropped
_DROPPED_BY_KEY = {"orders": "o_orderkey", "documents": "doc_id", "embeddings": "vec_id"}
DROP_ONE_IN = 10


def _splitmix64(keys: np.ndarray, seed: int) -> np.ndarray:
    """Deterministic 64-bit mix of (key, seed); numpy uint64 wraps mod 2**64."""
    with np.errstate(over="ignore"):
        z = keys.astype(np.uint64) + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _kept(keys: np.ndarray, seed: int) -> np.ndarray:
    return _splitmix64(keys, seed) % np.uint64(DROP_ONE_IN) != 0


def _drop_rows(path: str, key: str, seed: int) -> np.ndarray:
    """Rewrite the table at ``path`` minus the seeded drop; return the dropped keys."""
    table = pq.read_table(path)
    keys = table.column(key).to_numpy()
    keep = _kept(keys, seed)
    pq.write_table(table.filter(keep), path)
    return keys[~keep]


def generate(sf: str, seed: int, out_root: str) -> str:
    """Materialize the dataset for ``seed`` under ``out_root``; return its path."""
    base = os.path.join(DATA_DIR, f"sf{sf}")
    if not os.path.isdir(base):
        raise FileNotFoundError(f"no base tables for sf{sf} under {DATA_DIR}")
    out = os.path.join(out_root, f"sf{sf}-seed{seed}")
    shutil.copytree(base, out)
    if seed != 0:
        dropped = {t: _drop_rows(os.path.join(out, f"{t}.parquet"), key, seed) for t, key in _DROPPED_BY_KEY.items()}
        path = os.path.join(out, "lineitem.parquet")
        lineitem = pq.read_table(path)
        orphan = pc.is_in(lineitem.column("l_orderkey"), value_set=pa.array(dropped["orders"], pa.int64()))
        pq.write_table(lineitem.filter(pc.invert(orphan)), path)
    return out
