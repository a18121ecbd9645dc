"""Expected outputs, from references that never run the engine.

- Graph counts and vertex maps: ``peregrine_spark.reference`` (NumPy), on
  the generator's own ground truth.
- Pattern counts: the DuckDB SQL in ``peregrine_spark.plans.oracles`` over
  the same parquet files the engine reads.

Expected values are cached per input directory, together with the wall
time the reference took (the single-threaded baseline).
"""

from __future__ import annotations

import json
import time
from pathlib import Path

import pandas as pd


def cached(path: Path, compute) -> tuple[dict, float, bool]:
    """(expected, reference wall seconds, was_cached)."""
    if path.exists():
        blob = json.loads(path.read_text())
        return blob["expected"], blob["ref_s"], True
    t0 = time.perf_counter()
    blob = json.dumps({"expected": compute(), "ref_s": time.perf_counter() - t0})
    tmp = path.with_suffix(".tmp")
    tmp.write_text(blob)
    tmp.replace(path)
    blob = json.loads(blob)  # cached and fresh values compare the same way
    return blob["expected"], blob["ref_s"], False


def duckdb_views(input_dir: str, tables: list[str]):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
    return con


def frame_map(df: pd.DataFrame, key: str, value: str) -> dict:
    """{vertex id as a string: value}, the JSON form expected maps take."""
    return {str(int(k)): int(v) for k, v in zip(df[key], df[value])}
