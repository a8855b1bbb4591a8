"""Seeded input generator for the layered benchmark.

The inputs are the committed base tables in `data/`, one parquet file per
table. A seed permutes the row order of every table and writes the result
once under the benchmark's own work directory. Each table keeps its
physical parquet schema and its row multiset, so every gate's oracle
answer is the same for every seed, while a gate whose result leans on
input order shows up as a mismatch.

    python3 layerbench/gen.py SEED OUT_DIR
"""
import os
import random
import sys

import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def tables(base=BASE):
    return sorted(f[: -len(".parquet")] for f in os.listdir(base) if f.endswith(".parquet"))


def generate(seed, out_dir, base=BASE):
    """Write every base table, rows permuted by `seed`, to `out_dir`.
    Idempotent: a complete directory for the seed is reused as is."""
    done = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name in tables(base):
        src = pq.ParquetFile(os.path.join(base, f"{name}.parquet"))
        table = src.read()
        order = list(range(table.num_rows))
        random.Random(f"{seed}/{name}").shuffle(order)
        pq.write_table(table.take(order), os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
    open(done, "w").close()
    return out_dir


if __name__ == "__main__":
    generate(int(sys.argv[1]), sys.argv[2])
