"""Seeded benchmark inputs: a row-order permutation of the fixture tables.

Each of the ten fixture tables under ``perfbench/data/<scale>/`` is read,
its rows are permuted by a ``numpy`` generator seeded with the workload
seed (one independent stream per table), and the result is written as a
single parquet file under ``<out>/<table>.parquet`` with fixed writer
settings. Schemas, values and key spaces are unchanged, so every DuckDB
oracle holds on every seed; only the physical row order (and with it the
row-group contents, file bytes and Spark task split boundaries) moves.

Seed 0 is the identity permutation: it reproduces the fixture's rows in
the fixture's order.

``write_doc_replay`` derives the document stream's arriving files from
the generated ``documents`` table, in the block layout the program's
``streaming.runner.prepare_doc_replay_dir`` writes.

Run standalone::

    python3 perfbench/gen.py --seed 7 --out /tmp/inputs [--scale sf0.01]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def permutation(seed: int, table: str, n: int) -> np.ndarray:
    """Row order for one table: identity on seed 0, else a seeded shuffle.
    The table name is folded into the seed so tables move independently."""
    if seed == 0:
        return np.arange(n)
    salt = int.from_bytes(hashlib.sha256(table.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, salt]).permutation(n)


def generate(seed: int, out_dir: str, scale: str = "sf0.01") -> dict[str, int]:
    """Write every table for ``seed`` into ``out_dir``; returns row counts."""
    src = os.path.join(DATA_DIR, scale)
    tmp = out_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rows = {}
    for t in TABLES:
        table = pq.read_table(os.path.join(src, f"{t}.parquet"))
        table = table.take(permutation(seed, t, table.num_rows))
        pq.write_table(
            table, os.path.join(tmp, f"{t}.parquet"),
            compression="snappy", row_group_size=1 << 20,
        )
        rows[t] = table.num_rows
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return rows


def write_doc_replay(sf_dir: str, out_dir: str, files: int) -> list[str]:
    """The stream replay of ``documents``: file k holds the doc_ids in
    [k*W, (k+1)*W), W = ceil(n / files), as (doc_id, text, ts) sorted by
    ts, where ts = 2024-01-01 00:00 UTC + doc_id minutes; modification
    times increase with k, so a file source reads one block per batch in
    block order."""
    import time

    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"])
    n = docs.num_rows
    width = -(-n // files)
    ts = pc.add(pa.scalar(1704067200_000_000, pa.timestamp("us", tz="UTC")),
                pc.cast(pc.multiply(docs["doc_id"], 60_000_000), pa.duration("us")))
    docs = docs.append_column("ts", ts)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    names = []
    for k in range(files):
        lo, hi = k * width, (k + 1) * width
        if lo >= n:
            break
        mask = pc.and_(pc.greater_equal(docs["doc_id"], lo), pc.less(docs["doc_id"], hi))
        block = docs.filter(mask).sort_by("ts")
        names.append(os.path.join(out_dir, f"block-{k:02d}.parquet"))
        pq.write_table(block, names[-1], compression="snappy")
    base = time.time() - len(names)
    for i, name in enumerate(names):
        os.utime(name, (base + i, base + i))
    return names


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", default="sf0.01", choices=sorted(os.listdir(DATA_DIR)))
    args = ap.parse_args()
    print(generate(args.seed, args.out, args.scale))


if __name__ == "__main__":
    main()
