"""Seeded input generator for the pipeline benchmark.

Writes TPC-H-shaped parquet tables (the package catalog's customer and
lineitem schemas) from a numpy seed, so a run needs nothing outside its
own checkout. A pipeline workload gets one directory per etl_date;
each holds a full snapshot of every source table for that day:

- day 0 is the initial extract;
- every later day retires a seeded share of keys, changes the mutable
  attributes of another share, and appends fresh keys;
- on ``drift_day`` one table gains a column, which it keeps afterwards,
  so the staging drift check and its notify branch run.

The deltas applied to each day are returned, so the benchmark can print
them beside its metrics.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_T0_DAYS = np.datetime64("1995-01-01", "D")
_US = "datetime64[us]"

#: arrow type per column, as in the package's catalog tables
SCHEMAS: dict[str, list[tuple[str, pa.DataType]]] = {
    "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()),
                 ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                 ("c_mktsegment", pa.string())],
    "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                 ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                 ("l_quantity", pa.float64()),
                 ("l_extendedprice", pa.float64()),
                 ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                 ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                 ("l_shipdate", pa.timestamp("us"))],
}

#: business key and mutable attributes of each table a pipeline loads
KEYS = {
    "customer": ["c_custkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
}
MUTABLE = {
    "customer": ["c_acctbal", "c_mktsegment"],
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount"],
}


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, span=2400):
    return (_T0_DAYS + rng.integers(0, span, n)).astype(_US)


def _build(kind: str, rng, keys: np.ndarray) -> dict:
    """Columns of `kind` for the given primary keys. No part or supplier
    table is generated, so lineitem's l_partkey and l_suppkey are 0."""
    n = len(keys)
    if kind == "customer":
        return {
            "c_custkey": keys,
            "c_name": np.array([f"Customer#{k:09d}" for k in keys], object),
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(_SEGMENTS, n).astype(object),
        }
    if kind == "lineitem":
        # keys: (l_orderkey, l_linenumber) pairs packed as orderkey*8+line
        qty = rng.integers(1, 51, n).astype(np.float64)
        return {
            "l_orderkey": keys // 8,
            "l_partkey": np.zeros(n, np.int64),
            "l_suppkey": np.zeros(n, np.int64),
            "l_linenumber": (keys % 8).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n).astype(object),
            "l_linestatus": rng.choice(["F", "O"], n).astype(object),
            "l_shipdate": _days(rng, n),
        }
    raise ValueError(kind)


def _lineitem_keys(rng, n_orders: int, n: int, first_order: int = 0):
    """n distinct packed (orderkey, linenumber) keys over the orders range."""
    orders = first_order + rng.integers(0, n_orders, n * 2)
    lines = rng.integers(1, 8, n * 2)
    packed = np.unique(orders * 8 + lines)
    return np.sort(rng.permutation(packed)[:n])


def _write(cols: dict, kind: str, path: str, extra: list[str] = ()) -> int:
    fields = list(SCHEMAS[kind]) + [(c, pa.string()) for c in extra]
    arrays = [pa.array(cols[name], type=typ) for name, typ in fields]
    pq.write_table(pa.Table.from_arrays(arrays, schema=pa.schema(fields)),
                   path)
    return len(arrays[0])


# ---------------------------------------------------------- dated inputs
@dataclass
class TableSpec:
    """One source table of a pipeline workload: `name` is the file name the
    pipeline reads, `kind` its TPC-H shape, `rows` its day-0 size."""

    name: str
    kind: str
    rows: int


@dataclass
class DeltaSpec:
    change: float = 0.03   # share of live keys whose mutable attrs change
    new: float = 0.01      # fresh keys per day, as a share of day-0 rows
    retire: float = 0.005  # share of live keys dropped per day
    drift_day: int | None = None
    drift_table: str | None = None


@dataclass
class DatedInputs:
    dirs: list[str]
    rows: list[dict[str, int]]           # per day: table -> rows
    deltas: list[dict[str, dict]] = field(default_factory=list)


def _changed(col: str, old: np.ndarray, rng) -> np.ndarray:
    """A value guaranteed to differ from `old` for each element."""
    n = len(old)
    if col == "c_mktsegment":
        idx = np.array([_SEGMENTS.index(v) for v in old])
        return np.array(_SEGMENTS, object)[(idx + rng.integers(1, 5, n)) % 5]
    if col == "l_quantity":
        return (old - 1 + rng.integers(1, 50, n)) % 50 + 1
    if col == "l_discount":
        return ((np.round(old * 100) + rng.integers(1, 11, n)) % 11) / 100.0
    # money columns: shift by a non-zero number of cents
    return np.round(old + rng.integers(1, 50_000, n) / 100.0, 2)


def write_dated(out_root: str, seed: int, tables: list[TableSpec],
                n_days: int, delta: DeltaSpec) -> DatedInputs:
    """Write `n_days` snapshot directories `day00`, `day01`, ... under
    `out_root`, each holding every table in `tables`."""
    rng = np.random.default_rng([seed, 11])
    cur: dict[str, dict] = {}
    next_key: dict[str, int] = {}
    for t in tables:
        if t.kind == "lineitem":
            n_orders = max(1, t.rows // 4)
            keys = _lineitem_keys(rng, n_orders, t.rows)
            next_key[t.name] = n_orders
        else:
            keys = np.arange(t.rows, dtype=np.int64)
            next_key[t.name] = t.rows
        cur[t.name] = _build(t.kind, rng, keys)
    out = DatedInputs(dirs=[], rows=[])
    drift_cols: dict[str, list[str]] = {}
    for day in range(n_days):
        d = os.path.join(out_root, f"day{day:02d}")
        os.makedirs(d, exist_ok=True)
        day_delta: dict[str, dict] = {}
        if day > 0:
            for t in tables:
                cur[t.name], day_delta[t.name], next_key[t.name] = _advance(
                    t, cur[t.name], next_key[t.name], delta, rng)
            if day == delta.drift_day and delta.drift_table:
                drift_cols[delta.drift_table] = ["x_drift_note"]
        counts = {}
        for t in tables:
            cols = cur[t.name]
            extra = drift_cols.get(t.name, [])
            for c in extra:
                cols[c] = np.array(
                    [f"note-{day}-{i % 7}" for i in range(len(cols[KEYS[t.kind][0]]))],
                    object)
            counts[t.name] = _write(cols, t.kind,
                                    os.path.join(d, f"{t.name}.parquet"), extra)
        out.dirs.append(d)
        out.rows.append(counts)
        out.deltas.append(day_delta)
    return out


def _advance(t: TableSpec, cols: dict, next_key: int, delta: DeltaSpec, rng
             ) -> tuple[dict, dict, int]:
    """One day of churn: retire, change, append. Returns the new columns,
    the delta sizes and the next fresh key."""
    n = len(next(iter(cols.values())))
    keep = rng.random(n) >= delta.retire
    cols = {c: v[keep] for c, v in cols.items() if not c.startswith("x_")}
    n_live = int(keep.sum())
    chg = rng.random(n_live) < delta.change
    for c in MUTABLE[t.kind]:
        v = cols[c].copy()
        v[chg] = _changed(c, v[chg], rng)
        cols[c] = v
    n_new = max(1, int(round(t.rows * delta.new)))
    if t.kind == "lineitem":
        new_orders = max(1, n_new // 4)
        keys = _lineitem_keys(rng, new_orders, n_new, first_order=next_key)
        next_key += new_orders
    else:
        keys = np.arange(next_key, next_key + n_new, dtype=np.int64)
        next_key += n_new
    fresh = _build(t.kind, rng, keys)
    cols = {c: np.concatenate([cols[c], fresh[c]]) for c in cols}
    return cols, {"changed": int(chg.sum()), "new": len(keys),
                  "retired": int(n - n_live)}, next_key
