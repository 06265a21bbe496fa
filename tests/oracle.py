"""Local replica of the driver's differential gate: run a registered
query on Spark and its oracle SQL on DuckDB over the same parquet,
compare row count, column names, and order-insensitive values.

This mirrors the reference's differential scheme (DPU vs native Arrow,
/root/reference/host/filter/filter_test.cc:24-31) so mismatches are
caught locally before the driver's verify pass."""

from __future__ import annotations

import math
import os
from decimal import Decimal

import duckdb

from dpu_olap_spark.sources.tables import TABLES


def _canon(v):
    """LENIENT canon (Decimal->float, round-9): diagnostic only — the
    driver's hash proved stricter than this in round 2 (three sink
    queries passed here but hash-failed there), so the gate itself now
    uses _canon_strict and this survives only to label failures as
    representation-only vs value divergence."""
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _canon_strict(v):
    """Raw-type equality: exact floats, exact decimals. The only
    rewrites are ones that preserve the value bit-for-bit while making
    equal values sort identically across engines: Decimal.normalize()
    (1.50 and 1.5 are the same exact number with different reprs),
    -0.0 -> 0.0, NaN -> sentinel (NaN != NaN), bytes -> hex,
    containers -> sorted/ordered tuples."""
    if v is None:
        return None
    if isinstance(v, Decimal):
        return v.normalize()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0
        return v
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return tuple(sorted((k, _canon_strict(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon_strict(x) for x in v)
    return v


def _rows_to_multiset(rows, colnames, canon=None):
    canon = canon or _canon_strict
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    # key=repr: rows may hold None / mixed types that don't compare directly
    return sorted(
        (tuple(canon(r[i]) for i in order) for r in rows), key=repr
    ), [colnames[i] for i in order]


# single source of truth with the engine (r12 review): the SAME
# columns Spark's _restore_nano_ts floors must get the floor view on
# the oracle side — importing rather than mirroring means a future
# nano-ts column cannot silently miss the rewrite
from dpu_olap_spark.sources.tables import _NANO_TS_COLS as _ORACLE_NANO_TS_COLS

# keyed by (path, mtime_ns, size) so a fixture REGENERATED in place at
# the same path (e.g. us-typed ts rewritten as raw int64 nanos) cannot
# be served a stale view body (r12 review)
_VIEW_SELECT_CACHE: dict[tuple[str, int, int], str] = {}


def _view_select(table: str, path: str) -> str:
    """View body for one table, closing the nano-timestamp parity hole
    (r11 ADVICE): Spark's _restore_nano_ts FLOORS ns -> us, while
    DuckDB 1.0's native TIMESTAMP_NS -> TIMESTAMP conversion truncates
    toward zero, so pre-epoch sub-microsecond values silently diverge.

    - legacy raw-int64 ns column: build the floor EXPLICITLY over the
      raw nanos with exact int64 arithmetic (pmod keeps it exact where
      a double's 53-bit mantissa would not; `//` is safe because the
      pmod subtraction makes the dividend an exact multiple of 1000) —
      parity holds for ALL inputs, pre-epoch included;
    - TIMESTAMP(NANOS) parquet column: DuckDB 1.0 truncates AT SCAN
      (DESCRIBE shows TIMESTAMP and epoch_ns(-1 ns) = 0), so the raw
      nanos are unrecoverable SQL-side — assert the fixture is
      post-epoch (where floor == truncate) and fail LOUDLY otherwise
      instead of hashing silently-wrong parity.
    """
    if table not in _ORACLE_NANO_TS_COLS:
        return f"SELECT * FROM '{path}'"
    st = os.stat(path)
    cache_key = (path, st.st_mtime_ns, st.st_size)
    cached = _VIEW_SELECT_CACHE.get(cache_key)
    if cached is not None:
        return cached
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    nano_cols = _ORACLE_NANO_TS_COLS[table]
    exprs = []
    for name in schema.names:
        typ = schema.field(name).type
        if name in nano_cols and pa.types.is_int64(typ):
            exprs.append(
                f"make_timestamp(({name} - (({name} % 1000 + 1000) % 1000))"
                f" // 1000) AS {name}"
            )
        elif (
            name in nano_cols
            and pa.types.is_timestamp(typ)
            and typ.unit == "ns"
        ):
            col = pq.read_table(path, columns=[name])[name]
            # compare in INTEGER epoch-ns: exact at any precision and
            # tz-correct by construction — the Python-scalar form
            # (pa.compute.min(col).as_py() < epoch) relied on pandas'
            # ns-preserving Timestamp; with pyarrow's plain-datetime
            # fallback a min in (-999..-1] ns quantizes to the epoch
            # and slips the guard (r12 ADVICE)
            mn_ns = pa.compute.min(col.cast(pa.int64())).as_py()
            if mn_ns is not None and mn_ns < 0:
                raise ValueError(
                    f"{table}.{name}: TIMESTAMP(NANOS) fixture contains "
                    f"pre-epoch values (min {mn_ns} ns); DuckDB 1.0 "
                    "truncates ns toward zero at scan while Spark floors "
                    "— oracle parity is unattainable for this fixture, "
                    "regenerate it post-epoch or as raw int64 nanos"
                )
            exprs.append(name)
        else:
            exprs.append(name)
    sel = "SELECT " + ", ".join(exprs) + f" FROM '{path}'"
    _VIEW_SELECT_CACHE[cache_key] = sel
    return sel


def _connect(sf_dir: str):
    con = duckdb.connect()
    try:
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS {_view_select(t, p)}")
    except BaseException:
        # _view_select's pre-epoch raise must not leak the native
        # connection (r12 review)
        con.close()
        raise
    return con


def run_oracle(sql: str, sf_dir: str):
    con = _connect(sf_dir)
    try:
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return cur.fetchall(), cols
    finally:
        con.close()


def run_oracle_df(sql: str, sf_dir: str):
    """DuckDB result as a pandas frame — the DRIVER's path. fetchall()
    converts HUGEINT to Python int, hiding it; .df() renders HUGEINT
    (uncast SUM of BIGINT) as float64 while Spark emits int64 — the
    exact divergence behind round 3's five hash-reds."""
    con = _connect(sf_dir)
    try:
        return con.execute(sql).df()
    finally:
        con.close()


def _driver_canon_pdf(pdf):
    """Replicate the driver's pandas canonicalization: columns sorted
    by name, rows sorted by all columns (this is where array-typed
    cells crash, as they did for agg_collect in CORRECTNESS_r03)."""
    cols = sorted(pdf.columns, key=lambda c: c.lower())
    pdf = pdf[cols].copy()
    pdf.columns = [c.lower() for c in cols]
    if len(pdf):
        pdf = pdf.sort_values(list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True)


def _pdf_cells(pdf):
    # astype(str) is the representation-sensitive view a value hash
    # sees: int64 6 -> "6" but float64 6.0 -> "6.0". Nulls are
    # normalized to one sentinel first: this sim reaches pandas via
    # collect() (null -> None in an object column) while the driver and
    # DuckDB go through Arrow (null -> NaN in a float64 column) — the
    # driver hashes those the same (variant_json green in r4), so
    # 'None' vs 'nan' here would be a false positive.
    return pdf.astype(str).mask(pdf.isna(), "NULL").values.tolist()


def assert_pandas_view_matches(srows, scols, oracle: str, sf_dir: str, name: str):
    """The driver-faithful gate: Spark rows -> pandas, DuckDB -> .df(),
    both canonicalized the way the driver does, compared at string
    representation level so type-representation drift (HUGEINT->float64,
    DECIMAL, datetime unit) fails HERE before it fails at the driver."""
    import pandas as pd

    srows = [
        tuple(bytes(v) if isinstance(v, bytearray) else v for v in r) for r in srows
    ]
    try:
        spdf = _driver_canon_pdf(pd.DataFrame(srows, columns=scols))
        opdf = _driver_canon_pdf(run_oracle_df(oracle, sf_dir))
    except Exception as e:  # e.g. unhashable ndarray cells in sort_values
        # The driver errors the same way on such a result (agg_collect,
        # CORRECTNESS_r03/r04) — report it as a clean gate FAILURE so
        # callers that only catch AssertionError keep going.
        raise AssertionError(
            f"{name}: driver pandas canonicalization would crash on this "
            f"result shape ({type(e).__name__}: {e}); restructure the "
            "output (fingerprint arrays, embedding_quantize pattern)"
        ) from e
    assert list(spdf.columns) == list(opdf.columns), (
        f"{name}: pandas-view column mismatch spark={list(spdf.columns)} "
        f"duckdb={list(opdf.columns)}"
    )
    scells, ocells = _pdf_cells(spdf), _pdf_cells(opdf)
    if scells != ocells:
        diffs = [(s, o) for s, o in zip(scells, ocells) if s != o][:5]
        dtypes = list(zip(spdf.columns, map(str, spdf.dtypes), map(str, opdf.dtypes)))
        raise AssertionError(
            f"{name}: PANDAS-VIEW divergence (what the driver hashes); "
            f"dtypes (col, spark, duckdb)={dtypes}; first diffs: {diffs}"
        )


def assert_matches_oracle(name: str, sdf, oracle: str, sf_dir: str):
    """STRICT differential gate (raw-type equality): collect ``sdf``
    and compare it with ``oracle`` run on DuckDB over ``sf_dir``.
    When strict comparison fails but the lenient canon agrees, the
    error says so — that pattern is exactly a representation-only
    divergence the driver's hash can also see (round 2's three sink
    failures)."""
    srows = [tuple(r) for r in sdf.collect()]
    scols = list(sdf.columns)
    orows, ocols = run_oracle(oracle, sf_dir)

    sset, scols_sorted = _rows_to_multiset(srows, scols)
    oset, ocols_sorted = _rows_to_multiset(orows, ocols)

    assert [c.lower() for c in scols_sorted] == [c.lower() for c in ocols_sorted], (
        f"{name}: column mismatch spark={scols_sorted} duckdb={ocols_sorted}"
    )
    assert len(sset) == len(oset), (
        f"{name}: row count mismatch spark={len(sset)} duckdb={len(oset)}"
    )
    if sset != oset:
        lenient_s, _ = _rows_to_multiset(srows, scols, canon=_canon)
        lenient_o, _ = _rows_to_multiset(orows, ocols, canon=_canon)
        kind = (
            "REPRESENTATION-ONLY (lenient canon agrees: fix types/casts, "
            "values are fine)"
            if lenient_s == lenient_o
            else "VALUE divergence"
        )
        diffs = [(s, o) for s, o in zip(sset, oset) if s != o][:5]
        raise AssertionError(
            f"{name}: {kind}; first differing rows (spark, duckdb): {diffs}"
        )
    # Second gate: the driver's pandas canonicalization path, which
    # sees representation drift (HUGEINT->float64) that raw-type
    # equality over fetchall() cannot (round 3's five hash-reds all
    # passed the gate above and failed at the driver).
    assert_pandas_view_matches(srows, scols, oracle, sf_dir, name)
