"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size: the same
arguments write byte-identical parquet files. Generation is never timed.

The ``events`` generator follows the measured shape of the repo's
``events`` test fixtures at every scale factor, so a generated table of
N rows is what a fixture of N rows looks like:

- ``event_id`` runs 0..N-1 and ``ts`` increases with it; the gaps are
  exponential and the whole table spans about 30 days;
- about 66.7 events per user (1,500 users per 100,000 events);
- the five event types are equally likely;
- ``value`` is exponential with mean 50, rounded to cents;
- ``props`` is ``{"k": <0..99>}``.

Each generated directory holds all ten tables the package knows, so the
Spark loaders and the DuckDB oracle harness can bind every view. The
tables a workload does not read are one-row placeholders.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from aram_matchdata_etl_spark.sources.tables import TABLES

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EVENTS_PER_USER = 66.7
VALUE_MEAN = 50.0
SPAN_S = 30 * 86_400  # the fixtures' time span, at every scale factor
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in epoch micros


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream) so adding a table never
    shifts the draws of another."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def events_table(seed: int, n_matches: int) -> pa.Table:
    """``events`` for ``n_matches`` matches: ``sources.match_view`` turns
    ten consecutive event ids into one match, ``user_id`` into the
    player, ``event_type`` + ``user_id % 6`` into the champion and
    ``value`` into the stat scale."""
    rng = _rng(seed, "events")
    n = n_matches * 10
    n_users = max(15, round(n / EVENTS_PER_USER))
    gaps_us = rng.exponential(SPAN_S * 1e6 / n, size=n).astype(np.int64)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(T0_US + np.cumsum(gaps_us), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, size=n, dtype=np.int64)),
            "event_type": pa.array(
                np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, 5, size=n)]
            ),
            "value": pa.array(np.round(rng.exponential(VALUE_MEAN, size=n), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)], pa.string()
            ),
        }
    )


def write_events_dir(out_dir: str, seed: int, n_matches: int) -> str:
    """Write ``events`` plus placeholders for the other nine tables."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        events_table(seed, n_matches), os.path.join(out_dir, "events.parquet")
    )
    stub = pa.table({"placeholder": pa.array([0], pa.int64())})
    for name in TABLES:
        if name != "events":
            pq.write_table(stub, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
