"""Seeded input generators. Pure numpy + pyarrow: no Spark, so the
inputs exist before the session under test starts, and the same seed
always writes the same rows.

Each generator returns a small dict of facts about what it wrote
(row counts, key census) that the output checks compare against. The
facts are computed here in numpy, independently of the engine.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ROW_GROUP = 64 * 1024


def _unique_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct positive ints in random order (increasing gaps of
    1..7, then shuffled), so ids are unique without a set."""
    ids = np.cumsum(rng.integers(1, 8, n, dtype=np.int64))
    rng.shuffle(ids)
    return ids


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, row_group_size=ROW_GROUP)
    return os.path.getsize(path)


def ratings(out_dir: str, seed: int, n: int) -> dict:
    """IMDb-shaped title.ratings: unique ``tt%07d`` ids, averageRating
    ~ N(6.3, 1.3) with one decimal in [1, 10], Zipf numVotes. Keyed by
    the half-up rating, the ten keys have very uneven sizes."""
    rng = np.random.default_rng(seed)
    ids = _unique_ids(rng, n)
    rating = np.clip(np.round(rng.normal(6.3, 1.3, n), 1), 1.0, 10.0)
    votes = np.minimum(rng.zipf(1.6, n), 3_000_000).astype(np.int64) + 4
    tconst = np.char.add("tt", np.char.zfill(ids.astype(str), 7))
    path = os.path.join(out_dir, "ratings.parquet")
    size = _write(
        pa.table({"tconst": tconst, "averageRating": rating, "numVotes": votes}), path
    )
    keys = np.floor(rating + 0.5).astype(np.int64)
    census = dict(zip(*[a.tolist() for a in np.unique(keys, return_counts=True)]))
    return {"path": path, "rows": n, "bytes": size, "census": census}


def orders_lineitem(out_dir: str, seed: int, n_orders: int) -> dict:
    """Minimal TPC-H ``orders`` (o_orderkey, o_orderpriority over the
    five priorities) and ``lineitem`` (1-7 lines per order, uniform,
    so about 4x the order count) in the layout ``load_table`` reads."""
    rng = np.random.default_rng(seed)
    okeys = np.sort(_unique_ids(rng, n_orders))
    prio = rng.integers(0, len(PRIORITIES), n_orders)
    lines = rng.integers(1, 8, n_orders)
    l_orderkey = np.repeat(okeys, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_linenumber = (np.arange(l_orderkey.size) - starts + 1).astype(np.int32)
    l_quantity = rng.integers(1, 51, l_orderkey.size).astype(np.int64)
    o_size = _write(
        pa.table(
            {
                "o_orderkey": okeys,
                "o_orderpriority": np.asarray(PRIORITIES, dtype=object)[prio],
            }
        ),
        os.path.join(out_dir, "orders.parquet"),
    )
    l_size = _write(
        pa.table(
            {
                "l_orderkey": l_orderkey,
                "l_linenumber": l_linenumber,
                "l_quantity": l_quantity,
            }
        ),
        os.path.join(out_dir, "lineitem.parquet"),
    )
    urgent = prio == 0
    return {
        "path": out_dir,
        "orders": n_orders,
        "rows": int(l_orderkey.size),
        "bytes": o_size + l_size,
        "urgent_orders": int(urgent.sum()),
        "urgent_lines": int(lines[urgent].sum()),
    }
