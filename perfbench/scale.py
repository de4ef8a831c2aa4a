"""The benchmark's input tables: the engine's sf0.001 test fixture, kept in
``perfbench/tables/``, scaled up by key-shifted replication.

Scale factor ``k × 0.001`` is ``k`` copies of the fixture. Copy ``i`` adds
``i × OFFSET`` to every surrogate and foreign key, so each copy keeps the
fixture's own per-key fan-out (lines per order, orders per customer, part
popularity, events per user) and value distributions, and the copies never
join with each other. ``region`` and ``nation`` are dimensions and are
copied once. ``documents`` and ``embeddings`` are copied once too: the
fixture keeps them at 500 rows each at sf0.001 and at sf0.01. No random
numbers are drawn, so the same scale always gives the same rows.

Usage: python3 perfbench/scale.py OUT_DIR SF
"""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables")
FIXTURE_SF = 0.001
OFFSET = 10_000_000  # above every key in the fixture (the largest is 1,499)

# table -> key columns shifted per copy; None: the table is copied once.
KEYS: dict[str, tuple[str, ...] | None] = {
    "region": None,
    "nation": None,
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": None,
    "embeddings": None,
}


def copies_for(sf: float) -> int:
    k = round(sf / FIXTURE_SF)
    if k < 1 or abs(k * FIXTURE_SF - sf) > 1e-9:
        raise ValueError(f"sf {sf} is not a whole multiple of the fixture's {FIXTURE_SF}")
    return k


def _replicate(table: pa.Table, keys: tuple[str, ...], copies: int) -> pa.Table:
    parts = []
    for i in range(copies):
        t = table
        for c in keys:
            shifted = pc.add(t[c], pa.scalar(i * OFFSET, t.schema.field(c).type))
            t = t.set_column(t.schema.get_field_index(c), c, shifted)
        parts.append(t)
    return pa.concat_tables(parts)


def write(out_dir: str, sf: float) -> str:
    """Write every table at scale ``sf`` to ``out_dir/<name>.parquet``
    unless a complete set is already there; return ``out_dir``."""
    done = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(done):
        return out_dir
    copies = copies_for(sf)
    os.makedirs(out_dir, exist_ok=True)
    for name, keys in KEYS.items():
        src = os.path.join(FIXTURE, f"{name}.parquet")
        dst = os.path.join(out_dir, f"{name}.parquet")
        if keys is None or copies == 1:
            shutil.copyfile(src, dst)
        else:
            pq.write_table(_replicate(pq.read_table(src), keys, copies), dst)
    with open(done, "w") as f:
        f.write(f"sf={sf} copies={copies}\n")
    return out_dir


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__.strip().splitlines()[-1])
    print(write(sys.argv[1], float(sys.argv[2])))
