"""Seeded benchmark inputs: a row-permuted copy of the repo's testdata.

``perfbench/data/sf<scale>/`` holds the synthetic testdata tables the
library is verified against (TESTDATA.md), copied byte for byte so that
a run reads nothing outside the checkout. The workload seed permutes
the row order of every table; the rows and values are the testdata's.
A query whose result depends on input row order therefore shows up as
a failed output check on some seed, and timings compare across seeds.

At scale 0.01: lineitem 60k rows, orders 15k, events 10k, part 2k,
customer 1.5k, documents 500, embeddings 500.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _source(scale: float, table: str) -> str:
    return os.path.join(DATA, f"sf{scale}", f"{table}.parquet")


def sizes(scale: float) -> dict[str, int]:
    """Row counts per table at ``scale``."""
    return {t: pq.ParquetFile(_source(scale, t)).metadata.num_rows for t in TABLES}


def write(scale: float, seed: int, out_dir: str) -> str:
    """Write the tables at ``scale`` with rows permuted by ``seed`` as
    ``<out_dir>/<table>.parquet`` and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name in TABLES:
        table = pq.read_table(_source(scale, name))
        perm = rng.permutation(table.num_rows)
        pq.write_table(table.take(pa.array(perm)), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
