"""Seeded inputs for the ``index_ticks`` workload.

The seed deals the rows of ``data/events``, ``data/documents`` and
``data/embeddings`` into ``SLICES`` ingest slices of equal size (a seeded
permutation, dealt round-robin), so seeds change which rows arrive
together but not how many. Each table is written as one parquet file
with an extra ``slice`` column; the workload feeds slice ``r`` to the
maintainers at tick ``r`` (without that column).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from etl_inputs import DATA_DIR

SLICES = 6
COLUMNS = {
    "events": ["user_id", "event_type", "value"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "embedding"],
}


def generate(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, str]:
    """Write ``<out_dir>/<table>.parquet`` for each table; return the paths."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, cols in COLUMNS.items():
        t = pq.read_table(os.path.join(DATA_DIR, f"{name}.parquet"), columns=cols)
        if scale < 1.0:
            t = t.slice(0, max(SLICES, int(t.num_rows * scale)))
        slices = np.empty(t.num_rows, dtype=np.int32)
        slices[rng.permutation(t.num_rows)] = np.arange(t.num_rows) % SLICES
        t = t.append_column("slice", pa.array(slices))
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, paths[name])
    return paths
