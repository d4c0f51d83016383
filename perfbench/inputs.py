"""Seeded benchmark inputs.

Each table of the bench-scale test data is copied with its rows permuted by
a generator seeded from the workload seed: same schema, same row multiset,
same parquet layout (row-group size, codec, format version). The source is
only read; the program sees only the copy.
"""
import os
import re

import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def default_source(root, scale="0.1"):
    """The bench-scale directory: `$PERFBENCH_SOURCE`, else the row for
    `scale` in the repo's TESTDATA.md table (`| 0.1 | `<dir>` | ...`)."""
    if os.environ.get("PERFBENCH_SOURCE"):
        return os.environ["PERFBENCH_SOURCE"]
    doc = os.path.join(root, "TESTDATA.md")
    if os.path.exists(doc):
        for line in open(doc):
            m = re.match(r"\|\s*" + re.escape(scale) + r"\s*\|\s*`([^`]+)`",
                         line)
            if m:
                return m.group(1).rstrip("/")
    return None


def generate(source, out, seed):
    """Writes the permuted copy of every table; returns total rows."""
    os.makedirs(out, exist_ok=True)
    total = 0
    for i, t in enumerate(TABLES):
        src = os.path.join(source, f"{t}.parquet")
        meta = pq.ParquetFile(src).metadata
        table = pq.read_table(src)
        rng = np.random.default_rng([seed, i])
        shuffled = table.take(rng.permutation(table.num_rows))
        codec = (meta.row_group(0).column(0).compression
                 if meta.num_row_groups else "SNAPPY")
        pq.write_table(
            shuffled, os.path.join(out, f"{t}.parquet"),
            row_group_size=max(1, meta.row_group(0).num_rows
                               if meta.num_row_groups else table.num_rows),
            compression=codec.lower(), version=meta.format_version)
        total += shuffled.num_rows
    return total
