"""Input tables of the pipeline workload.

`data/` holds the engine's sf0.001 test tables as committed parquet
files (`region nation customer supplier part orders lineitem events
documents embeddings`, the deterministic synthetic set the repository's
smoke tests read). `prepare` copies them into a run's work directory
with every table's rows in an order drawn from the benchmark's
`--seed`: the data and hence every query's answer stay the same, the
physical layout Spark reads differs from seed to seed, and a seed
always gives the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
#: embedding width of the `embeddings` table
DIM = 64
#: rows of the tables the ANN and dedup layers scale with
EMBEDDINGS = 500
DOCUMENTS = 500


def prepare(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table under `out_dir` with its rows permuted by
    `seed`; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for i, name in enumerate(TABLES):
        t = pq.read_table(os.path.join(DATA, f"{name}.parquet"))
        order = np.random.default_rng([seed, i]).permutation(t.num_rows)
        pq.write_table(t.take(order), os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
