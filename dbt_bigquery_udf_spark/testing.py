"""Local replica of the driver's DuckDB-oracle comparison.

The driver runs each ``queries()[name]`` on Spark and ``oracle_sql()[name]``
on DuckDB over the same parquet tables, materializes BOTH through pandas,
then compares row count, schema, and an order-insensitive, **dtype-
sensitive** value hash. Round 1 proved the dtype sensitivity the hard way:
DuckDB ``sum(BIGINT)`` comes back as HUGEINT (pandas float64) while Spark
returns int64, and the driver hashes ``1`` != ``1.0`` — a comparison that
only looks at Python values (``1 == 1.0``) records green locally and fails
at the driver. This module therefore canonicalizes every cell to a
``(type-class, value)`` pair so an int/float/Decimal/str confusion fails
HERE first.

It also refuses array-typed output cells outright: the driver's
canonicalizer ``sort_values``-crashes on ``numpy.ndarray`` columns (round-1
``stats_approx_sketches`` err), even for rows-only queries, so any query
that could rotate into the driver's window must serialize arrays to
scalars/strings first.

:func:`job_ids` counts the Spark jobs a block starts; the tests and
``scripts/probe.py time`` share it.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import uuid
from contextlib import contextmanager
from typing import Any

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

__all__ = ["duckdb_connection", "compare_query", "job_ids"]

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


class _ArrayCell(Exception):
    """An output cell is an array — the driver's canonicalizer would crash."""


def _type_class(v: Any) -> str:
    """Coarse dtype class a driver-style dtype-sensitive hash distinguishes.

    bool must precede int (Python bool is an int subclass); numpy scalars
    are folded into their Python families.
    """
    if isinstance(v, (bool, np.bool_)):
        return "bool"
    if isinstance(v, (int, np.integer)):
        return "int"
    if isinstance(v, (float, np.floating)):
        return "float"
    if isinstance(v, decimal.Decimal):
        return "decimal"
    if isinstance(v, str):
        return "str"
    if isinstance(v, (bytes, bytearray)):
        return "bytes"
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return "ts"
    if isinstance(v, datetime.date):
        return "date"
    if isinstance(v, datetime.timedelta):
        return "interval"
    if isinstance(v, (list, tuple, np.ndarray, dict)):
        raise _ArrayCell(type(v).__name__)
    return type(v).__name__


def _norm_cell(v: Any) -> Any:
    """Canonical (type-class, value) pair for one cell."""
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        # NULL loses its dtype in pandas object columns; treat all nulls alike.
        return ("null", None)
    tc = _type_class(v)
    if tc == "float":
        v = float(v)
        if math.isinf(v):
            return (tc, "inf" if v > 0 else "-inf")
        return (tc, round(v, 6))
    if tc == "int":
        return (tc, int(v))
    if tc == "bool":
        return (tc, bool(v))
    if tc == "decimal":
        return (tc, v)
    if tc == "ts":
        # Normalize pandas/np datetime units (ns vs us) to a plain datetime.
        ts = pd.Timestamp(v)
        return (tc, ts.to_pydatetime())
    if tc == "date":
        return (tc, v)
    if tc == "bytes":
        return (tc, bytes(v))
    return (tc, v)


def _norm_frame(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = [
        tuple(_norm_cell(row[c]) for c in cols)
        for row in pdf.to_dict(orient="records")
    ]
    rows.sort(key=lambda r: tuple((tc, str(val)) for tc, val in r))
    return rows


def compare_query(
    spark: SparkSession,
    query_fn,
    oracle: str | None,
    sf_dir: str,
    name: str = "?",
) -> dict:
    """Run Spark query + DuckDB oracle, compare driver-style.

    Returns a result dict with ``status`` in {match, rows_only,
    schema_mismatch, rowcount_mismatch, value_mismatch, array_output} and
    ``ok``. ``array_output`` means the driver harness would CRASH on this
    query (rows-only or not) — always a must-fix.
    """
    sdf = query_fn(spark, sf_dir)
    spdf = sdf.toPandas()
    scols = list(spdf.columns)
    result: dict[str, Any] = {"name": name, "spark_rows": len(spdf), "cols": scols}
    try:
        a = _norm_frame(spdf)
    except _ArrayCell as e:
        result.update(status="array_output", ok=False, detail=f"spark cell: {e}")
        return result
    if oracle is None:
        result["status"] = "rows_only"
        result["ok"] = True
        return result
    con = duckdb_connection(sf_dir)
    opdf = con.execute(oracle).fetchdf()
    ocols = list(opdf.columns)
    result["oracle_rows"] = len(opdf)
    if sorted(scols) != sorted(ocols):
        result.update(status="schema_mismatch", ok=False, oracle_cols=ocols)
        return result
    try:
        b = _norm_frame(opdf)
    except _ArrayCell as e:
        result.update(status="array_output", ok=False, detail=f"oracle cell: {e}")
        return result
    if len(a) != len(b):
        result.update(status="rowcount_mismatch", ok=False)
        return result
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    if mismatches:
        result.update(
            status="value_mismatch", ok=False, n_mismatch=len(mismatches),
            first=mismatches[0],
        )
        return result
    result.update(status="match", ok=True)
    return result


@contextmanager
def job_ids(spark: SparkSession):
    """Collects the ids of the Spark jobs started inside the block (from
    this thread, or threads that inherit its job group)."""
    sc = spark.sparkContext
    group = f"job-ids-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    ids: list[int] = []
    try:
        yield ids
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))
