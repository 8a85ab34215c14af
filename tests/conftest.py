"""Shared fixtures: one SparkSession + one DuckDB oracle connection.

The oracle fixture mirrors the driver's t2 harness: every fixture table
registered as a DuckDB view, Spark result vs SQL result compared
order-insensitively with columns matched by name.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from os_ex_3_map_reduce_spark.session import engine_cpus, get_spark
from os_ex_3_map_reduce_spark.sources.tables import TABLES

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    n = min(8, engine_cpus())
    s = get_spark(app_name="tests", master=f"local[{n}]", shuffle_partitions=n)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_CORRECT}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon_cell(v) -> str:
    import numpy as np

    if v is None:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NULL"
    if isinstance(v, np.floating):
        fv = float(v)
        return "NULL" if math.isnan(fv) else repr(fv)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)) or (
        hasattr(v, "__len__") and hasattr(v, "dtype")
    ):  # ndarray
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    return str(v)


def canonical_rows(pdf) -> list[tuple[str, ...]]:
    """Columns sorted by name, every cell canonicalized, rows sorted —
    the same shape the driver hashes."""
    cols = sorted(pdf.columns)
    rows = [
        tuple(_canon_cell(row[c]) for c in cols)
        for _, row in pdf[cols].iterrows()
    ]
    return sorted(rows)


def assert_matches_oracle(spark_df, duck_con, sql: str, name: str = "") -> None:
    spark_pdf = spark_df.toPandas()
    oracle_pdf = duck_con.execute(sql).df()
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: column names differ: spark={sorted(spark_pdf.columns)} "
        f"oracle={sorted(oracle_pdf.columns)}"
    )
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count differs: spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    )
    s_rows = canonical_rows(spark_pdf)
    o_rows = canonical_rows(oracle_pdf)
    if s_rows != o_rows:
        diffs = [
            (i, s, o) for i, (s, o) in enumerate(zip(s_rows, o_rows)) if s != o
        ][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")
