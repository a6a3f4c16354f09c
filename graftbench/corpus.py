"""Seeded corpus variants for the benchmark.

``data/sf0.01/`` holds a byte-for-byte copy of the repo's sf0.01 test
corpus (TESTDATA.md): the ten tables the engine reads, one parquet file
each. A run's corpus is a variant of it: every table's rows in a seeded
permutation, written with the source's schema, row count and row-group
count, so the engine and the oracles see the same values in another
physical order.

Surrogate keys are not offset: many lanes sample a fixed key range
(``doc_id < 128``, ``doc_id < 234``, ...), and an offset would leave
them with no rows to process.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def write_variant(out_dir: str, seed: int) -> None:
    """Write the seed's variant of the source corpus into ``out_dir``
    (created; files replaced), and check that each table kept its
    schema, row count and row-group count."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name in TABLES:
        src = pq.ParquetFile(os.path.join(SOURCE, f"{name}.parquet"))
        tb = src.read()
        out = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tb.take(rng.permutation(tb.num_rows)), out, compression="snappy")
        got = pq.ParquetFile(out)
        if (
            not got.schema.equals(src.schema)
            or got.metadata.num_rows != src.metadata.num_rows
            or got.metadata.num_row_groups != src.metadata.num_row_groups
        ):
            raise RuntimeError(f"corpus variant of {name} differs from its source in shape")
