"""Tiny literal tables as SQL VALUES LocalRelations.

PySpark's ``spark.createDataFrame`` routes even a 4-row local table through
Python-RDD serialization — ~0.4 s of fixed overhead per call on this
machine, paid at *query construction* time. A ``VALUES`` clause is parsed
JVM-side into a LocalRelation: instant to build, trivially broadcast, and
Catalyst constant-folds through it. Every driver-side literal table in the
engine (kernels, band tables, stopword lists) goes through here.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def _lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return f"CAST({v!r} AS DOUBLE)"
    if isinstance(v, str):
        escaped = v.replace("\\", "\\\\").replace("'", "\\'")
        return f"'{escaped}'"
    raise TypeError(f"unsupported literal type {type(v).__name__}")


def values_df(spark: SparkSession, cols: str, rows: Sequence[tuple]) -> DataFrame:
    """``values_df(spark, "band, lo, hi", [("tiny", 0, 10), ...])``."""
    if not rows:
        raise ValueError("values_df requires at least one row")
    body = ", ".join("(" + ", ".join(_lit(v) for v in r) + ")" for r in rows)
    return spark.sql(f"SELECT * FROM VALUES {body} AS t({cols})")
