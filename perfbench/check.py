"""Check a Spark result against its DuckDB oracle without collecting rows.

Spark writes the result to parquet; DuckDB runs the registry's oracle
SQL over the same generated tables and compares the two inside the
database: same column names (case-insensitive), same row count, and
the same rows as a multiset. Floating-point columns (on either side)
are compared to a relative tolerance, because a distributed double sum
is not associative (at 10x, group_agg's sums differ from DuckDB's in
the 14th significant digit); every other type is compared exactly.
"""

from __future__ import annotations

import os

import duckdb

REL_TOL = 1e-9
ABS_TOL = 1e-9
_FLOAT_TYPES = ("DOUBLE", "FLOAT", "REAL")


def connect(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
    return con


def _columns(con, relation: str) -> dict[str, str]:
    return {r[0].lower(): r[1] for r in con.execute(f"DESCRIBE {relation}").fetchall()}


def _q(col: str) -> str:
    return '"' + col.replace('"', '""') + '"'


def compare(con: duckdb.DuckDBPyConnection, spark_dir: str, oracle_sql: str) -> str | None:
    """None if the parquet result at ``spark_dir`` matches the oracle,
    else a one-line reason."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE s_res AS SELECT * FROM read_parquet('{spark_dir}/*.parquet')")
    con.execute(f"CREATE OR REPLACE TEMP TABLE o_res AS {oracle_sql.strip().rstrip(';')}")
    s_cols, o_cols = _columns(con, "s_res"), _columns(con, "o_res")
    if sorted(s_cols) != sorted(o_cols):
        return f"columns differ: spark={sorted(s_cols)} oracle={sorted(o_cols)}"
    (ns,), (no,) = con.execute("SELECT count(*) FROM s_res").fetchone(), con.execute("SELECT count(*) FROM o_res").fetchone()
    if ns != no:
        return f"row count differs: spark={ns} oracle={no}"
    floats = sorted(c for c in s_cols if s_cols[c] in _FLOAT_TYPES or o_cols[c] in _FLOAT_TYPES)
    exact = sorted(c for c in s_cols if c not in floats)

    def ranked(table: str) -> str:
        sel = [f"{_q(c)}" for c in exact] + [f"CAST({_q(c)} AS DOUBLE) AS {_q(c)}" for c in floats]
        order = ", ".join(_q(c) for c in exact + floats) or "1"
        return f"SELECT {', '.join(sel)}, row_number() OVER (ORDER BY {order}) AS rn__ FROM {table}"

    conds = [f"(s.{_q(c)} IS NOT DISTINCT FROM o.{_q(c)})" for c in exact]
    for c in floats:
        a, b = f"s.{_q(c)}", f"o.{_q(c)}"
        conds.append(
            f"(({a} IS NULL AND {b} IS NULL) OR (isnan({a}) AND isnan({b})) OR {a} = {b} "
            f"OR abs({a} - {b}) <= {REL_TOL} * greatest(abs({a}), abs({b})) + {ABS_TOL})"
        )
    where = " AND ".join(f"coalesce({c}, false)" for c in conds) or "true"
    bad = con.execute(
        f"SELECT count(*) FROM ({ranked('s_res')}) s FULL JOIN ({ranked('o_res')}) o "
        f"USING (rn__) WHERE NOT ({where})"
    ).fetchone()[0]
    return f"{bad} of {ns} rows differ" if bad else None
