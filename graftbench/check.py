"""Compare each query's collected output with its DuckDB oracle.

The session collects the outputs; ``run.py`` compares them here, in its
own process, after the session has ended, so DuckDB never runs inside the
measured process tree.

Rows are compared as a multiset with columns matched by name. Cells are
canonicalized the way the catalog's determinism rules expect: null and
NaN both read ``NULL``, floats compare by ``repr`` (exactly), integers by
value.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd


def oracle_connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per fixture table over ``data_dir``."""
    from os_ex_3_map_reduce_spark.sources.tables import TABLES

    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(data_dir, f"{name}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon(v) -> str:
    if v is None or v is pd.NA:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NULL" if math.isnan(f) else repr(f)
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    return str(v)


def _rows(pdf: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(pdf.columns)
    return sorted(tuple(_canon(v) for v in row) for row in pdf[cols].itertuples(index=False))


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` equals ``want``; otherwise what differs."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    g, w = _rows(got), _rows(want)
    if len(g) != len(w):
        return f"{len(g)} rows != oracle {len(w)}"
    for a, b in zip(g, w):
        if a != b:
            return f"first differing row {a} != oracle {b}"
    return None


def check_outputs(outputs: dict[str, pd.DataFrame], data_dir: str) -> list[dict]:
    """One ``{"query", "ok", "why"}`` per collected output."""
    from os_ex_3_map_reduce_spark.plans import all_oracles

    oracles = all_oracles()
    con = oracle_connection(data_dir)
    results = []
    try:
        for name, got in outputs.items():
            try:
                why = mismatch(got, con.execute(oracles[name]).df())
            except Exception as e:
                why = f"{type(e).__name__}: {(str(e).splitlines() or [''])[0][:300]}"
            results.append({"query": name, "ok": why is None, "why": why})
    finally:
        con.close()
    return results
