"""Seeded bronze generator for the pipeline workloads.

Writes the reference extract's layout: one parquet file of ticks per UTC
day (`events.parquet/data_YYYY_MM_DD.parquet`), in the schema of the
`events` table the pipeline reads (event_id, ts, user_id, event_type,
value, props; `ts` is a naive microsecond timestamp).

Each day is a tile built from its own generator, so any day can be made
without making the days before it:
  - tick times and counts depend only on the day index (every seed sees the
    same load shape: 300-366 ticks a day, ~333 on average);
  - prices are a EUR/USD-like random walk drawn from (seed, day), so the
    seed perturbs prices per tile;
  - event_ids are offset by day (day * 10000 + i), so tiles never collide.

A restatement of a day (the backfill workload's input) keeps every tick of
the day, changes the price of about a tenth of them and adds late ticks at
new times with fresh event_ids (day * 10000 + 5000 + j). It never deletes a
tick, because the silver MERGE never deletes.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

START = dt.date(2024, 1, 1)
DAY_US = 86_400_000_000
ID_STRIDE = 10_000
LATE_ID_OFFSET = 5_000
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])

SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


def day_date(i: int) -> dt.date:
    return START + dt.timedelta(days=i)


def file_name(i: int) -> str:
    return day_date(i).strftime("data_%Y_%m_%d.parquet")


def _distinct_times(rng, n: int, exclude=None) -> np.ndarray:
    """n distinct microsecond offsets within a day, sorted, none in exclude."""
    taken = set() if exclude is None else set(int(x) for x in exclude)
    out = []
    while len(out) < n:
        for x in rng.integers(0, DAY_US, size=n - len(out)):
            x = int(x)
            if x not in taken:
                taken.add(x)
                out.append(x)
    return np.sort(np.array(out, dtype=np.int64))


def _walk(rng, n: int) -> np.ndarray:
    base = 1.05 + 0.1 * rng.random()
    return np.round(base + np.cumsum(rng.normal(0.0, 0.0003, size=n)), 5)


def _table(i: int, offsets: np.ndarray, ids: np.ndarray, prices: np.ndarray,
           shape_rng) -> pa.Table:
    n = len(offsets)
    epoch_us = (day_date(i) - dt.date(1970, 1, 1)).days * DAY_US
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(epoch_us + offsets, pa.timestamp("us")),
        "user_id": pa.array(shape_rng.integers(0, 200, size=n), pa.int64()),
        "event_type": pa.array(EVENT_TYPES[shape_rng.integers(0, 5, size=n)]),
        "value": pa.array(prices, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in shape_rng.integers(0, 100, size=n)]),
    }, schema=SCHEMA)


def day_table(seed: int, i: int) -> pa.Table:
    """Day i's ticks: times from the day index alone, prices from (seed, day)."""
    shape = np.random.default_rng([7, i])
    n = 300 + int(shape.integers(0, 67))
    offsets = _distinct_times(shape, n)
    prices = _walk(np.random.default_rng([seed, i]), n)
    return _table(i, offsets, i * ID_STRIDE + np.arange(n), prices, shape)


def restated_table(seed: int, i: int) -> pa.Table:
    """Day i restated: ~10% of prices changed, 10-29 late ticks added."""
    orig = day_table(seed, i)
    rng = np.random.default_rng([seed, i, 1])
    epoch_us = (day_date(i) - dt.date(1970, 1, 1)).days * DAY_US
    old_off = orig.column("ts").cast(pa.int64()).to_numpy() - epoch_us
    prices = orig.column("value").to_numpy().copy()
    changed = rng.random(len(prices)) < 0.1
    prices[changed] = np.round(prices[changed] + rng.normal(0.0, 0.001, changed.sum()), 5)
    n_late = 10 + int(rng.integers(0, 20))
    late_off = _distinct_times(rng, n_late, exclude=old_off)
    late = _table(i, late_off, i * ID_STRIDE + LATE_ID_OFFSET + np.arange(n_late),
                  _walk(rng, n_late), rng)
    kept = orig.set_column(orig.schema.get_field_index("value"), "value",
                           pa.array(prices, pa.float64()))
    return pa.concat_tables([kept, late]).sort_by("ts")


def write_day(table: pa.Table, bronze_dir: str, i: int) -> str:
    d = os.path.join(bronze_dir, "events.parquet")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, file_name(i))
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return path


def write_days(seed: int, bronze_dir: str, days) -> None:
    for i in days:
        write_day(day_table(seed, i), bronze_dir, i)
