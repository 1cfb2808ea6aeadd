"""Seeded benchmark inputs.

The source tables live in ``perfbench/data/<scale>/``, one parquet file
per table with one row group. A seed permutes the rows of every table;
each permuted table is written back as one file with one row group, so
the engine sees the same layout as the originals. Query results must not
depend on row order; the oracle check catches any that do.
"""

from __future__ import annotations

import hashlib
import os

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def source_identity(src: str) -> str:
    """Digest of the source files' names and bytes."""
    h = hashlib.sha256()
    for t in TABLES:
        h.update(t.encode())
        with open(os.path.join(src, f"{t}.parquet"), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def _permute(src_file: str, dst_file: str, rng) -> None:
    import pyarrow.parquet as pq

    table = pq.read_table(src_file)
    table = table.take(rng.permutation(table.num_rows))
    pq.write_table(table, dst_file, row_group_size=max(1, table.num_rows))


def generate(src: str, dst: str, seed: int) -> None:
    """Write every source table to ``dst`` with its rows permuted by ``seed``."""
    import numpy as np

    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(seed)
    for t in TABLES:
        _permute(os.path.join(src, f"{t}.parquet"), os.path.join(dst, f"{t}.parquet"), rng)
