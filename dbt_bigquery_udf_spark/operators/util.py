"""Shared operator utilities."""

from __future__ import annotations

import datetime as _dt
from collections.abc import Mapping

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T
from pyspark.sql.utils import AnalysisException

__all__ = ["ensure_min_partitions", "local_rows_df", "local_empty_df"]


def _sql_literal(v, dtype: T.DataType) -> str:
    """Render a Python scalar/list as a Spark SQL literal of ``dtype``.

    Doubles use ``repr`` (shortest round-trip decimal — parses back to
    the identical IEEE double) with the ``D`` suffix; strings escape
    backslash and quote; arrays recurse element-wise; timestamps render
    as ``TIMESTAMP_LTZ '...'`` in UTC (exact under the engine's
    session-UTC pin — ``session.py`` sets
    ``spark.sql.session.timeZone=UTC``), converted with ``astimezone``,
    which reads a naive datetime in the process zone exactly as
    ``TimestampType.toInternal`` does on the ``createDataFrame`` path).
    Values are accepted only at their EXACT Python type (ADVICE r11:
    ``str(v)``/``int(v)`` previously coerced mismatches that
    ``createDataFrame``'s schema verification would reject — e.g. a bool
    rendering as the integer 1, or a dict stringifying into data);
    anything else raises
    ``TypeError`` so the caller's ``createDataFrame`` fallback engages
    and applies the reference semantics.
    """
    if v is None:
        return f"CAST(NULL AS {dtype.simpleString()})"
    if isinstance(dtype, T.ArrayType):
        if not isinstance(v, (list, tuple)):
            raise TypeError(f"array literal expects list/tuple, got {type(v)}")
        if len(v) == 0:
            return f"CAST(array() AS {dtype.simpleString()})"
        inner = ", ".join(_sql_literal(x, dtype.elementType) for x in v)
        return f"array({inner})"
    if isinstance(dtype, T.DoubleType):
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            raise TypeError(f"double literal expects int/float, got {type(v)}")
        f = float(v)
        if f != f:  # NaN
            return "CAST('NaN' AS DOUBLE)"
        if f in (float("inf"), float("-inf")):
            return f"CAST('{f}' AS DOUBLE)"
        return f"{f!r}D"
    if isinstance(dtype, T.BooleanType):
        if not isinstance(v, bool):
            raise TypeError(f"boolean literal expects bool, got {type(v)}")
        return "TRUE" if v else "FALSE"
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        if isinstance(v, bool) or not isinstance(v, int):
            raise TypeError(f"integral literal expects int, got {type(v)}")
        return f"CAST({int(v)} AS {dtype.simpleString()})"
    if isinstance(dtype, T.StringType):
        if not isinstance(v, str):
            raise TypeError(f"string literal expects str, got {type(v)}")
        s = v.replace("\\", "\\\\").replace("'", "\\'")
        return f"'{s}'"
    if isinstance(dtype, T.TimestampNTZType):
        # civil time: the datetime's fields ARE the value (reject aware
        # datetimes — createDataFrame's NTZ path is the reference there)
        if not isinstance(v, _dt.datetime) or v.tzinfo is not None:
            raise TypeError(f"timestamp_ntz literal expects naive datetime, got {v!r}")
        return f"TIMESTAMP_NTZ '{v.isoformat(sep=' ')}'"
    if isinstance(dtype, T.TimestampType):
        if not isinstance(v, _dt.datetime):
            raise TypeError(f"timestamp literal expects datetime, got {type(v)}")
        v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        # explicit LTZ keyword: the session's timestampType=TIMESTAMP_NTZ
        # pin would otherwise retype a bare TIMESTAMP literal
        return f"TIMESTAMP_LTZ '{v.isoformat(sep=' ')}'"
    if isinstance(dtype, T.DateType):
        if isinstance(v, _dt.datetime) or not isinstance(v, _dt.date):
            raise TypeError(f"date literal expects date, got {type(v)}")
        return f"DATE '{v.isoformat()}'"
    raise TypeError(f"local_rows_df: unsupported literal type {dtype}")


def local_rows_df(spark: SparkSession, rows, schema_ddl: str) -> DataFrame:
    """Drop-in for ``spark.createDataFrame(rows, schema_ddl)`` on small
    driver-built row lists, planned as a pure JVM ``VALUES`` local
    relation instead of a pickled Python RDD.

    ``createDataFrame(list_of_tuples)`` plans a Python-RDD scan, so
    EVERY downstream action pays a Python-worker round trip (measured
    ~0.3s per action on this host vs ~0.05s for the VALUES form, and
    0.50s vs 0.15s for a tiny ``saveAsTable``) — the guide-§4 "eliminate
    the Python boundary" rule applied to literal relations. Values are
    rendered as exact SQL literals (doubles via shortest-round-trip
    ``repr`` + ``D``, bit-identical), and the result is cast with
    ``DataFrame.to`` so the schema (incl. nullability) matches the
    ``createDataFrame`` original exactly. Intended for k-bounded
    relations (centroids, pointers, tombstone waves); plan size grows
    with ``rows``, so keep it to O(100s) of rows.

    Row shapes (ADVICE r11): tuples/lists/Rows are positional and must
    match the schema arity exactly; Mappings bind by name (missing keys
    -> NULL, like ``createDataFrame``; unknown keys reject). Anything
    the literal renderer can't represent exactly — wrong Python type,
    timestamps with exotic tzinfo, decimals, maps, structs — falls back
    to the classic ``createDataFrame`` path, whose schema verification
    is the reference semantics.
    """
    schema = (
        schema_ddl
        if isinstance(schema_ddl, T.StructType)
        else T._parse_datatype_string(schema_ddl)
    )
    rows = list(rows)
    if not rows:
        return local_empty_df(spark, schema)
    names = [f.name for f in schema.fields]
    rendered = []
    try:
        for row in rows:
            if isinstance(row, Mapping):
                unknown = set(row) - set(names)
                if unknown:
                    raise TypeError(f"unknown fields in dict row: {unknown}")
                row = tuple(row.get(n) for n in names)
            elif isinstance(row, Row):
                row = tuple(row)
            elif not isinstance(row, (tuple, list)):
                # a bare scalar is a 1-column row only when the schema
                # says so; everything else must go through the fallback
                if len(schema.fields) != 1:
                    raise TypeError(f"non-sequence row {type(row)}")
                row = (row,)
            if len(row) != len(schema.fields):
                raise TypeError(
                    f"row arity {len(row)} != schema arity "
                    f"{len(schema.fields)}"
                )
            rendered.append(
                "("
                + ", ".join(
                    _sql_literal(v, f.dataType)
                    for v, f in zip(row, schema.fields)
                )
                + ")"
            )
        cols = ", ".join(names)
        df = spark.sql(
            f"SELECT * FROM VALUES {', '.join(rendered)} AS t({cols})"
        )
        # union with the empty (all-nullable) relation: literals analyze
        # as non-nullable, but createDataFrame's DDL schema is nullable —
        # the union ORs nullability so the schema matches exactly (the
        # optimizer folds the empty side away; no runtime cost)
        return local_empty_df(spark, schema_ddl).union(df.to(schema))
    except (TypeError, AnalysisException):
        # type outside the literal renderer (decimal, map, struct, …) or
        # a schema ``.to()`` can't produce (e.g. non-nullable fields,
        # ADVICE r11): fall back to the classic path — correctness
        # first, the fast path covers the hot shapes
        return spark.createDataFrame(rows, schema)


def local_empty_df(spark: SparkSession, schema_ddl) -> DataFrame:
    """Empty DataFrame with ``schema_ddl`` (DDL string or StructType), as
    a JVM local relation (the ``createDataFrame([], ddl)`` shape without
    the Python-RDD scan). Schemas ``DataFrame.to`` rejects (non-nullable
    fields over a NULL-literal projection, ADVICE r11) fall back to
    ``createDataFrame``, which accepts them."""
    schema = (
        schema_ddl
        if isinstance(schema_ddl, T.StructType)
        else T._parse_datatype_string(schema_ddl)
    )
    sel = ", ".join(
        f"CAST(NULL AS {f.dataType.simpleString()}) AS {f.name}"
        for f in schema.fields
    )
    try:
        return spark.sql(f"SELECT {sel} WHERE 1=0").to(schema)
    except AnalysisException:
        return spark.createDataFrame([], schema)


def ensure_min_partitions(df: DataFrame, min_ratio: float = 0.5) -> DataFrame:
    """Repartition a *compute-heavy* input up to the cluster's
    parallelism when the scan gives too few partitions.

    The test corpora are single parquet files -> one scan partition, so
    an expensive per-row stage (per-shingle hashing, Arrow decode)
    otherwise runs on one core. At production scale inputs span many
    file splits, `partitions >= cores` holds, and this is a no-op — so
    the extra shuffle of raw input exists only in the degenerate
    small-input case where it is cheap by construction.

    Only wrap inputs whose downstream per-row work dominates a shuffle
    of the input itself; plain scans/filters/aggregates never need it.
    """
    sc = df.sparkSession.sparkContext
    cores = sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(1, int(cores * min_ratio)):
        return df.repartition(cores)
    return df
