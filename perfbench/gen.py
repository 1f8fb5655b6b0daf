"""Seeded benchmark inputs: a row-shuffled copy of the sf0.1 tables.

Every table of ``catalog.TABLES`` is copied from ``SOURCE_DIR`` with its
rows permuted by a generator seeded from ``--seed``. The schema, the
multiset of rows and the parquet settings stay those of the source, so
every key's oracle result is unchanged; what the seed moves is the row
order inside each file, hence the row-group statistics and the file
layout of every table the program derives from it. The same seed writes
byte-identical files.

Run alone:  python3 perfbench/gen.py OUT_DIR SEED
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.parquet as pq

#: The read-only sf0.1 testdata the copies are made from (the input
#: ``bench.py`` reads by default).
SOURCE_DIR = os.path.expanduser("~/testdata/sf0.1")

#: Same names as ``social_media_etl_spark.catalog.TABLES``; listed here so
#: the generator runs without importing the program.
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


def generate(out_dir: str, seed: int, source_dir: str = SOURCE_DIR) -> None:
    """Write every table of ``source_dir`` into ``out_dir``, rows permuted
    by ``seed``. Each table draws from its own stream, so adding a table
    does not reshuffle the others."""
    os.makedirs(out_dir, exist_ok=True)
    for i, name in enumerate(TABLES):
        src = os.path.join(source_dir, f"{name}.parquet")
        table = pq.read_table(src)
        rng = np.random.default_rng([seed, i])
        shuffled = table.take(rng.permutation(table.num_rows))
        pq.write_table(
            shuffled,
            os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy",
            # one row group per table, as in the source files
            row_group_size=max(table.num_rows, 1),
        )


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit("usage: gen.py OUT_DIR SEED")
    generate(sys.argv[1], int(sys.argv[2]))
