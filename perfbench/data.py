"""Seeded benchmark inputs.

The workloads scan four of the repo's test-data tables (TESTDATA.md),
committed unchanged at sf0.01 under `perfbench/tables/` so that a run
reads no data from outside its checkout:

- `customer` (1,500 rows) and `orders` (15,000 rows) feed the loan views
  (`sources.views`);
- `documents` (500 rows) feeds the curation chain;
- `embeddings` (500 vectors) feeds vector search and the
  embedding-index stream.

`--seed` only permutes the row order of every table: the transform
preserves every query result, so two seeds do the same work, and a
result that depends on physical row order shows up as an oracle
mismatch.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables")
TABLES = ("customer", "orders", "documents", "embeddings")


def write_inputs(out_dir: str, seed: int, tables_dir: str = TABLES_DIR) -> dict[str, int]:
    """Write every table of `tables_dir`, rows permuted by `seed`, as
    `<out_dir>/<name>.parquet` (one file, one row group, like the
    test-data tables) and return the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    order = np.random.default_rng(seed)
    rows = {}
    for name in TABLES:
        tbl = pq.read_table(os.path.join(tables_dir, f"{name}.parquet"))
        tbl = tbl.take(order.permutation(tbl.num_rows))
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows
