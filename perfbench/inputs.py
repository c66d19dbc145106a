"""The benchmark's inputs: the repo's fixture tables at scale factor
0.01, committed under ``data/`` (one parquet file per table: region,
nation, customer, supplier, part, orders, lineitem 60k rows, events
10k, documents 500, embeddings 500), and the stream's micro-batch
files, which the run seed cuts from the events table.

The tables never change, so the pinned output digests in
``digests.json`` hold for every run. The run seed only decides how the
events are split into the stream files (and, in ``run.py``, the call
order of each pass).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = sorted(f[: -len(".parquet")] for f in os.listdir(DATA_DIR) if f.endswith(".parquet"))


def stage_tables(sf_dir: str) -> None:
    """Copy every ``<name>.parquet`` table file into ``sf_dir``."""
    os.makedirs(sf_dir, exist_ok=True)
    for name in TABLES:
        shutil.copyfile(os.path.join(DATA_DIR, f"{name}.parquet"), os.path.join(sf_dir, f"{name}.parquet"))


def write_stream_files(events: pa.Table, out_dir: str, n_files: int, seed: int) -> list[int]:
    """Split ``events`` into ``n_files`` parquet files, assigning each
    event to a file by the run seed (event order within a file is kept).
    Returns the row count of each file."""
    os.makedirs(out_dir, exist_ok=True)
    which = np.random.default_rng(seed).integers(0, n_files, events.num_rows)
    sizes = []
    for i in range(n_files):
        part = events.filter(pa.array(which == i))
        pq.write_table(part, os.path.join(out_dir, f"events-{i:03d}.parquet"))
        sizes.append(part.num_rows)
    return sizes
