"""Seeded workload inputs derived from bench.py's sf0.1 tables.

For a seed, every table of ``TABLES`` is rewritten to ``out_dir`` with:
- row order permuted;
- measures jittered by up to +-10%, snapped back onto the column's own
  decimal grid (two-decimal prices, integer quantities) and clamped to
  the column's original [min, max];
- dates moved by up to +-3 days, clamped to the original range.
Keys and text are never changed, so every foreign key still resolves.
The same seed gives the same bytes: one numpy PCG64 stream per table, keyed by (seed, table).
"""

from __future__ import annotations

import math
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
MEASURES = {
    "customer": ("c_acctbal",),
    "supplier": ("s_acctbal",),
    "part": ("p_retailprice", "p_size"),
    "orders": ("o_totalprice",),
    "lineitem": ("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
    "events": ("value",),
}
DATES = {"orders": ("o_orderdate",), "lineitem": ("l_shipdate",)}
JITTER = 0.10
DATE_JITTER_DAYS = 3
_DAY_US = 86_400 * 1_000_000


def decimals(values: np.ndarray, most: int = 4) -> int:
    """Fewest decimals d (<= most) such that every value is on 10**-d."""
    for d in range(most + 1):
        scaled = values * 10.0**d
        if np.all(np.abs(scaled - np.round(scaled)) < 1e-6):
            return d
    return most


def jitter_measure(col: pa.ChunkedArray, rng: np.random.Generator) -> pa.Array:
    valid = col.is_valid().to_numpy(zero_copy_only=False)
    v = col.to_numpy(zero_copy_only=False).astype(np.float64)
    lo, hi = np.nanmin(v[valid]), np.nanmax(v[valid])
    d = decimals(v[valid])
    factor = rng.uniform(1.0 - JITTER, 1.0 + JITTER, size=len(v))
    scale = 10.0**d
    out = np.clip(np.round(v * factor * scale) / scale, lo, hi)
    if pa.types.is_integer(col.type):
        out = out.astype(col.type.to_pandas_dtype())
    return pa.array(out, type=col.type, mask=~valid)


def jitter_date(col: pa.ChunkedArray, rng: np.random.Generator) -> pa.Array:
    assert col.type == pa.timestamp("us"), col.type
    valid = col.is_valid().to_numpy(zero_copy_only=False)
    us = pc.cast(col, pa.int64()).to_numpy(zero_copy_only=False)
    lo, hi = us[valid].min(), us[valid].max()
    days = rng.integers(-DATE_JITTER_DAYS, DATE_JITTER_DAYS + 1, size=len(us))
    out = np.clip(us + days * _DAY_US, lo, hi)
    return pa.array(out, type=pa.int64(), mask=~valid).cast(col.type)


def derive_table(name: str, src: pa.Table, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, TABLES.index(name)])
    cols = {c: src[c] for c in src.column_names}
    for c in MEASURES.get(name, ()):
        cols[c] = jitter_measure(src[c], rng)
    for c in DATES.get(name, ()):
        cols[c] = jitter_date(src[c], rng)
    out = pa.table([cols[c] for c in src.column_names], schema=src.schema)
    return out.take(pa.array(rng.permutation(out.num_rows)))


def generate(src_dir: str, out_dir: str, seed: int) -> dict:
    """Write every table to ``out_dir``; return rows, bytes and seconds."""
    t0 = time.perf_counter()
    os.makedirs(out_dir, exist_ok=True)
    tables = {}
    for name in TABLES:
        path = os.path.join(src_dir, f"{name}.parquet")
        meta = pq.ParquetFile(path).metadata
        src = pq.read_table(path)
        out = derive_table(name, src, seed)
        group = max(1, math.ceil(meta.num_rows / max(1, meta.num_row_groups)))
        dest = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(out, dest, row_group_size=group, compression="snappy")
        tables[name] = {"rows": out.num_rows, "bytes": os.path.getsize(dest)}
    return {"seed": seed, "tables": tables, "gen_s": time.perf_counter() - t0}

