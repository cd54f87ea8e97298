"""Seeded benchmark inputs: a row permutation of every fixture table.

The source tables are read-only; each run writes a permuted copy (one
parquet file per table, like the original) into its own scratch
directory and the program reads only that copy. A permutation changes
the order in which rows reach every operator but not the relation, so
every query result must be identical for every seed (the README's
"deterministic across partitionings" rule) — the run records each
result's digest so two seeds can be compared.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

from tools.selfcheck import TABLES


def derive(src_dir: str, out_dir: str, seed: int) -> dict[str, int]:
    """Write ``out_dir/<table>.parquet`` as a seeded row permutation of
    ``src_dir/<table>.parquet``; returns the row count per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in TABLES:
        table = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        perm = rng.permutation(table.num_rows)
        pq.write_table(table.take(perm),
                       os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
