"""Exact comparison of the engine's outputs with their DuckDB oracle twins.

Runs in the orchestrating process after the Spark process has exited, so
neither DuckDB's time nor its memory lands in a measurement.  Oracle results
are cached per (input tables, query, oracle SQL): the same seed gives the
same tables, so a repeated seed skips DuckDB.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pandas as pd

from osm_processing_pipeline_spark import registry
from tests.util import assert_frames_exact


def inputs_digest(sf_dir: str) -> str:
    h = hashlib.sha256()
    for f in sorted(os.listdir(sf_dir)):
        with open(os.path.join(sf_dir, f), "rb") as fh:
            h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def oracle_frame(name: str, sf_dir: str, cache_dir: str) -> pd.DataFrame:
    sql = registry.ORACLES[name]
    key = hashlib.sha256(f"{inputs_digest(sf_dir)}\n{name}\n{sql}".encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, f"{name}-{key}.parquet")
    if not os.path.exists(path):
        con = duckdb.connect(config={"temp_directory": os.path.join(cache_dir, "duckdb-tmp")})
        try:
            for f in sorted(os.listdir(sf_dir)):
                con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(sf_dir, f)}')")
            df = con.execute(sql).df()
        finally:
            con.close()
        os.makedirs(cache_dir, exist_ok=True)
        df.to_parquet(path + ".tmp")
        os.replace(path + ".tmp", path)
    return pd.read_parquet(path)


def verify(outputs: dict[str, str], sf_dir: str, cache_dir: str) -> list[str]:
    """Compare each collected output (query name -> parquet file) with its
    oracle exactly; return one message per mismatch."""
    failures = []
    for name, path in sorted(outputs.items()):
        try:
            assert_frames_exact(pd.read_parquet(path), oracle_frame(name, sf_dir, cache_dir), name)
        except AssertionError as e:
            failures.append(f"{name}: {e}")
    return failures
