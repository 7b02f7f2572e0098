"""Seed-derived inputs. Everything the program receives is made here from
``--seed``; the same seed gives byte-identical inputs.

* Binlog workloads: the row values are the engine's deterministic CDC
  fixture (``binlog_frames.cdc_frame_bytes``), so DuckDB's
  ``cdc_snapshot_oracle(n)`` can recompute the final table. The seed
  permutes frame order inside bounded windows: arrival order changes,
  the latest-wins answer must not.
* mq_fanout: an orders table shaped like TPC-H ``orders``, with the
  seed drawing every column and spreading orders over
  ``database.table`` shards.
"""

from __future__ import annotations

import os

import numpy as np

ROWS_PER_FRAME = 5  # binlog_frames.ROWS_PER_EVENT: rows carried per frame
PERMUTE_WINDOW = 16  # frames; a frame never moves out of its window

SHARD_DBS = ("shop_eu", "shop_us", "legacy_eu")
SHARD_TABLES = ("orders_2023", "orders_2024", "orders_tmp")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def frame_order(seed: int, n_frames: int) -> list[int]:
    """Frame ids ``0 .. n_frames-1``, permuted inside windows of
    PERMUTE_WINDOW consecutive ids."""
    rng = np.random.default_rng(seed)
    out: list[int] = []
    for lo in range(0, n_frames, PERMUTE_WINDOW):
        ids = np.arange(lo, min(lo + PERMUTE_WINDOW, n_frames))
        out.extend(int(i) for i in rng.permutation(ids))
    return out


def change_rows(n_rows: int) -> int:
    """Change events the fixture emits for rows ``0 .. n_rows-1``: one
    INSERT each, an UPDATE for ``i % 10 < 3``, a DELETE for ``i % 10 == 3``."""
    full, rest = divmod(n_rows, 10)
    return n_rows + 4 * full + min(rest, 4)


def frames_rows(fids) -> int:
    """Change events carried by the given frames (frames are 5 rows each)."""
    total = 0
    for f in fids:
        lo = f * ROWS_PER_FRAME
        total += change_rows(lo + ROWS_PER_FRAME) - change_rows(lo)
    return total


def write_orders(seed: int, n_orders: int, path: str) -> list[tuple[str, str, int, int]]:
    """Write an orders table shaped like TPC-H ``orders`` to
    ``path/orders.parquet``, plus the ``o_db``/``o_table`` shard each
    order belongs to. Shards are contiguous key ranges of seed-drawn
    sizes, in a seed-drawn order. Returns [(db, table, lo, hi)], keys
    ``lo <= o_orderkey < hi``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 7])
    names = [(d, t) for d in SHARD_DBS for t in SHARD_TABLES]
    names = [names[i] for i in rng.permutation(len(names))]
    cuts = np.sort(rng.choice(np.arange(1, n_orders), len(names) - 1,
                              replace=False))
    bounds = [0, *(int(c) for c in cuts), n_orders]
    shards = [(d, t, bounds[i], bounds[i + 1]) for i, (d, t) in enumerate(names)]
    db = np.empty(n_orders, dtype=object)
    table = np.empty(n_orders, dtype=object)
    for d, t, lo, hi in shards:
        db[lo:hi], table[lo:hi] = d, t
    days = rng.integers(0, 2_400, n_orders)
    base = np.datetime64("1992-01-01", "us")
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(1, 15_001, n_orders, dtype=np.int64),
        "o_orderstatus": rng.choice(np.array(["O", "F", "P"]), n_orders),
        "o_totalprice": rng.integers(90_000, 50_000_000, n_orders) / 100.0,
        "o_orderdate": pa.array(
            base + days.astype("timedelta64[D]").astype("timedelta64[us]"),
            pa.timestamp("us")),
        "o_orderpriority": rng.choice(np.array(PRIORITIES), n_orders),
        "o_db": db.astype(str),
        "o_table": table.astype(str),
    }), os.path.join(path, "orders.parquet"))
    return shards


def routing_rules():
    """The mq_fanout instance rules: a prefix rule with a blacklist, a
    suffix rule, a middle-wildcard rule and a star-table rule with a
    suffix blacklist. Some shards fan out to two topics, some drop."""
    from ru_cdc_spark.config import InstanceConfig

    return [
        InstanceConfig(mq="q", schemas="shop_*", tables="orders_*",
                       black_list=["orders_tmp"], topic="shop_orders"),
        InstanceConfig(mq="q", schemas="*_eu", tables="*_2024",
                       topic="eu_2024"),
        InstanceConfig(mq="q", schemas="shop*us", tables="orders*23",
                       topic="us_2023"),
        InstanceConfig(mq="q", schemas="legacy_*", tables="*",
                       black_list=["*_tmp"], topic="legacy_all"),
    ]
