"""Seeded benchmark inputs, written as parquet under the checkout's cache.

Every generator is a pure function of its arguments: the same seed gives
byte-identical tables. The engine only ever sees these files.

- ``copurchase``: TPC-H-shaped ``lineitem`` and ``part`` tables from a
  fixed base draw, then a seed-chosen bijection on part keys that
  preserves ``key mod 4``, applied to both. Each part keeps its brand, so
  the labelled graph of every seed is isomorphic to the base draw's:
  every count, label table and MNI support, and the mod-4 subgraph the
  group counter uses, is the same for every seed; only vertex ids (and so
  partitioning and per-vertex degrees) move.
- ``catalog``: the engine's own ``sources.synth`` repo catalog; the seed is
  the synth seed. Written once per (files, seed).
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20261017  # fixed draw shared by every seed of a workload


def _write(df: pd.DataFrame, path: Path) -> None:
    tmp = path.with_suffix(".tmp")
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), tmp)
    os.replace(tmp, path)


def _done(d: Path) -> dict | None:
    """The generation record of a finished input directory, if any."""
    f = d / "_done.json"
    return {**json.loads(f.read_text()), "dir": str(d)} if f.exists() else None


def _finish(d: Path, t0: float) -> dict:
    info = {"gen_s": time.perf_counter() - t0}
    (d / "_done.json").write_text(json.dumps(info))
    return {**info, "dir": str(d)}


# ---------------------------------------------------------- co-purchase --
def mod4_bijection(n_keys: int, seed: int) -> np.ndarray:
    """perm[k] = new key for k; perm[k] % 4 == k % 4 for every k."""
    rng = np.random.default_rng(seed)
    perm = np.empty(n_keys, dtype=np.int64)
    for r in range(4):
        keys = np.arange(r, n_keys, 4, dtype=np.int64)
        perm[keys] = rng.permutation(keys)
    return perm


def copurchase_lineitem(n_orders: int, n_parts: int, seed: int) -> pd.DataFrame:
    """1-7 parts per order, uniform part keys (near-uniform degrees)."""
    rng = np.random.default_rng(BASE_SEED)
    per_order = rng.integers(1, 8, size=n_orders)
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), per_order)
    partkey = rng.integers(0, n_parts, size=len(orderkey)).astype(np.int64)
    perm = mod4_bijection(n_parts, seed)
    return pd.DataFrame({"l_orderkey": orderkey, "l_partkey": perm[partkey]})


def copurchase_part(n_parts: int, seed: int) -> pd.DataFrame:
    """One row per part: ``Brand#1`` .. ``Brand#25``, drawn per base key."""
    rng = np.random.default_rng(BASE_SEED + 1)
    brand = rng.integers(1, 26, size=n_parts)
    perm = mod4_bijection(n_parts, seed)
    return pd.DataFrame({
        "p_partkey": perm,
        "p_brand": [f"Brand#{b}" for b in brand],
    }).sort_values("p_partkey", ignore_index=True)


def make_copurchase(cache: Path, seed: int, n_orders: int, n_parts: int) -> dict:
    d = cache / "inputs" / f"copurchase_o{n_orders}_p{n_parts}_s{seed}"
    if done := _done(d):
        return done
    d.mkdir(parents=True, exist_ok=True)
    t0 = time.perf_counter()
    _write(copurchase_lineitem(n_orders, n_parts, seed), d / "lineitem.parquet")
    _write(copurchase_part(n_parts, seed), d / "part.parquet")
    return _finish(d, t0)


# ------------------------------------------------------------- catalog --
def make_catalog(cache: Path, seed: int, n_files: int) -> dict:
    """The synth repo catalog plus its ground-truth reference pairs."""
    from peregrine_spark.sources.synth import synth_repo_files, synth_truth_pairs

    d = cache / "inputs" / f"catalog_f{n_files}_s{seed}"
    if done := _done(d):
        return done
    d.mkdir(parents=True, exist_ok=True)
    t0 = time.perf_counter()
    pdf = synth_repo_files(n_files, seed=seed)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(
        table, d / "repo_files.parquet", row_group_size=max(1024, n_files // 32)
    )
    np.save(d / "truth_pairs.npy", synth_truth_pairs(n_files, seed=seed))
    return _finish(d, t0)
