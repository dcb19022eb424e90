"""Seeded input tables for the benchmark.

The engine derives its whole spatial world from key columns only
(``lineitem`` (l_orderkey, l_linenumber) pairs, ``part`` keys, ``nation``
keys, ``customer`` keys) plus the ``events`` stream table and the
``embeddings`` vectors q21 ranks, so these are the only tables the benchmark
writes.  Row counts and shapes follow the
TPC-H-ish test tables of TESTDATA.md at the same scale factor:

* lineitem draws ``6e6 * sf`` (orderkey, linenumber) pairs with orderkey
  uniform over ``1.5e6 * sf`` orders and linenumber uniform in 1..7, so the
  DISTINCT pair count (the road count) and its duplicate rate match the test
  data (4,599 roads at sf0.001, 45,832 at sf0.01);
* customer/part/nation are contiguous key runs (the kNN query points are the
  keys divisible by 10, so their count is unchanged by the seed offset);
* events span the same 30 days with five event types and ``15000 * sf`` users;
* embeddings are 64-dim unit float32 vectors around ten cluster centres,
  ``max(500, 20000 * sf)`` of them (500 at sf0.001 and sf0.01, 2,000 at sf0.1).

The seed moves the key offsets and drives one PCG64 stream, so the same seed
gives byte-identical tables and different seeds give different worlds of the
same size.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EVENT_SPAN_US = 30 * 86_400 * 1_000_000
EVENT_T0_US = 1_704_067_200 * 1_000_000      # 2024-01-01T00:00:00Z
EMB_DIM, EMB_CLUSTERS = 64, 10


def road_docs(sf_dir: str) -> int:
    """Distinct (l_orderkey, l_linenumber) pairs = road documents in the world."""
    t = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"))
    keys = t.column("l_orderkey").to_numpy() * 8 + t.column("l_linenumber").to_numpy()
    return int(np.unique(keys).size)


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the seeded tables under ``out_dir``; return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    n_orders = int(1_500_000 * sf)
    n_lines = int(6_000_000 * sf)
    n_part = int(200_000 * sf)
    n_cust = int(150_000 * sf)
    n_events = int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))
    # key offsets keep every key product inside int64 in both engines
    # (p_partkey * 2654435761 < 2^63 needs p_partkey < ~3.4e9)
    off_o = (seed * 1_000_003) % 10_000_000
    off_p = (seed * 7_777_777) % 100_000_000
    off_c = 10 * ((seed * 104_729) % 1_000_000)

    lineitem = pa.table({
        "l_orderkey": pa.array(off_o + rng.integers(0, n_orders, n_lines), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines), pa.int32()),
    })
    part = pa.table({"p_partkey": pa.array(np.arange(off_p, off_p + n_part), pa.int64())})
    nation = pa.table({"n_nationkey": pa.array(np.arange(25), pa.int32())})
    customer = pa.table({"c_custkey": pa.array(np.arange(off_c, off_c + n_cust), pa.int64())})

    ts = np.sort(EVENT_T0_US + rng.integers(0, EVENT_SPAN_US, n_events))
    events = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_events)]),
        "value": pa.array(np.round(rng.uniform(0.0, 500.0, n_events), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    n_vecs = max(500, int(20_000 * sf))
    centres = rng.standard_normal((EMB_CLUSTERS, EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, EMB_CLUSTERS, n_vecs)
    emb = 0.8 * centres[label] + rng.standard_normal((n_vecs, EMB_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    tables = {"lineitem": lineitem, "part": part, "nation": nation,
              "customer": customer, "events": events, "embeddings": embeddings}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}
