"""Seeded input generators for the benchmark.

Everything the workloads read is written here from ``--seed``, inside the
benchmark's work directory: the same seed gives byte-identical inputs, and
a different seed changes the values but not the sizes, nor the shape of a
graph that a measured query iterates over, so run-to-run cost stays
comparable across seeds.

- ``write_sensor_lake``: long-form ``(tag, ts, value)`` parquet at 1 min
  cadence with random dropouts and multi-hour gaps (the fleet and serving
  models train on it).
- ``write_table_lake``: the two tables the measured operator queries and
  their DuckDB oracles read (``customer events``), with the column names,
  types and value ranges of the repository's reference test data at the
  same scale factor.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SENSOR_START = pd.Timestamp("2024-01-01")
TABLES = ("customer", "events")


def write_sensor_lake(path: str, n_tags: int, days: int, seed: int) -> list[str]:
    """Write ``n_tags`` correlated random walks over ``days`` days at 1 min
    to ``path`` (one parquet file) and return the tag names.

    Tags come in groups of four that share a latent walk, so a linear model
    of one tag on the others fits well and anomaly thresholds are finite.
    About 2% of points drop out and each tag loses one 3 h block.
    """
    rng = np.random.default_rng(seed)
    n = days * 1440
    ts = (SENSOR_START + pd.to_timedelta(np.arange(n), unit="min")).values.astype(
        "datetime64[us]"
    )
    latent = np.cumsum(rng.normal(size=(max(1, n_tags // 4), n)), axis=1) * 0.05
    tags = [f"tag-{i:02d}" for i in range(n_tags)]
    parts = []
    for i, tag in enumerate(tags):
        v = latent[i // 4 % len(latent)] * (1.0 + 0.25 * (i % 4)) + rng.normal(
            scale=0.05, size=n
        )
        keep = rng.random(n) > 0.02
        gap = rng.integers(0, n - 180)
        keep[gap : gap + 180] = False
        parts.append(
            pa.table(
                {
                    "tag": pa.array([tag] * int(keep.sum()), pa.string()),
                    "ts": pa.array(ts[keep], pa.timestamp("us", tz="UTC")),
                    "value": pa.array(v[keep], pa.float64()),
                }
            )
        )
    pq.write_table(pa.concat_tables(parts), path)
    return tags


def _write(df: pd.DataFrame, out_dir: str, name: str) -> None:
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False), os.path.join(out_dir, f"{name}.parquet")
    )


def write_table_lake(out_dir: str, sf: float, seed: int) -> None:
    """Write ``TABLES`` at scale factor ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))

    # er_entities blocks customers on nation and segment and runs label
    # propagation over the matches until it converges, so its cost follows
    # the shape of that graph (seeded draws gave 19 or 26 Spark jobs at
    # sf0.001, 10 to 30% apart in pass time). Nation and segment come from
    # one fixed draw that the seed relabels: the graph is the same for
    # every seed, the values are not.
    fixed = np.random.default_rng(0)
    segments = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    _write(
        pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype="int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.permutation(25)[fixed.integers(0, 25, n_cust)].astype("int32"),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": rng.permutation(segments)[fixed.integers(0, 5, n_cust)],
            }
        ),
        out_dir,
        "customer",
    )
    # events: 30 days of exponential inter-arrival times
    gaps = rng.exponential(30 * 86400 / n_ev, n_ev)
    offs = np.cumsum(gaps)
    offs = offs / offs[-1] * (30 * 86400 - 60)
    _write(
        pd.DataFrame(
            {
                "event_id": np.arange(n_ev, dtype="int64"),
                "ts": np.datetime64("2024-01-01", "us")
                + (offs * 1e6).astype("int64").astype("timedelta64[us]"),
                "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
                "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        out_dir,
        "events",
    )
