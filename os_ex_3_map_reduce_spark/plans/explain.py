"""Plan introspection helpers.

The scale contract of this engine (SURVEY.md §2.4) is enforced, not
hoped for: tests assert the *shape* of physical plans — broadcast vs
shuffle joins, filter/column pushdown into the parquet scan, partial
(map-side) aggregation, shuffle-free top-k — via these helpers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The plan as a string (what ``df.explain(mode)`` prints).

    Modes: simple | extended | codegen | cost | formatted.
    """
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return qe.explainString(jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode))


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section(s) of the formatted plan — empty string
    if nothing was pushed to the scan."""
    return "\n".join(
        line.strip()
        for line in explain_str(df, "formatted").splitlines()
        if "PushedFilters" in line
    )


def read_schema(df: DataFrame) -> str:
    """The ReadSchema section(s) of the formatted plan (column pruning
    evidence: only referenced columns should appear)."""
    return "\n".join(
        line.strip()
        for line in explain_str(df, "formatted").splitlines()
        if "ReadSchema" in line
    )
