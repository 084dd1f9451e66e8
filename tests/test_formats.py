"""Round-trip tests for the multi-format source/sink layer.

Each format writes the orders table (plus events for timestamp
coverage) into a temp dir inside the repo and reads it back; the
round-tripped rows must equal the originals exactly. CSV drops columns
it cannot carry (nested types) via ``csv_safe_schema``.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import types as T

from dbt_bigquery_udf_spark.sources.formats import FORMATS, read_any, write_any
from dbt_bigquery_udf_spark.sources.registry import read_source

# CSV cannot carry nested types; JSONL/ORC/Parquet can.
_CSV_SAFE_TYPES = (
    T.StringType,
    T.LongType,
    T.IntegerType,
    T.DoubleType,
    T.FloatType,
    T.BooleanType,
    T.TimestampNTZType,
    T.TimestampType,
    T.DateType,
)


def csv_safe_schema(schema: T.StructType) -> T.StructType:
    """Project a schema down to the columns CSV can faithfully carry."""
    return T.StructType(
        [f for f in schema.fields if isinstance(f.dataType, _CSV_SAFE_TYPES)]
    )


def _sorted_rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.mark.parametrize("fmt", FORMATS)
def test_orders_roundtrip(spark, sf_small, tmp_path, fmt):
    if fmt == "avro":
        from dbt_bigquery_udf_spark.sources.formats import avro_available

        if not avro_available(spark):
            pytest.skip("spark-avro module not on the classpath (gated format)")
    orig = read_source(spark, sf_small, "orders")
    path = str(tmp_path / f"orders_{fmt}")
    schema = orig.schema if fmt != "csv" else csv_safe_schema(orig.schema)
    cols = [f.name for f in schema.fields]
    write_any(orig.select(*cols), path, fmt)
    back = read_any(spark, path, fmt, schema=None if fmt in ("parquet", "orc") else schema)
    assert back.schema == schema
    assert _sorted_rows(back, cols) == _sorted_rows(orig, cols)
    shutil.rmtree(path, ignore_errors=True)


@pytest.mark.parametrize("fmt", ["json", "csv"])
def test_events_timestamp_roundtrip(spark, sf_small, tmp_path, fmt):
    """events carries the trickiest type (sub-second TIMESTAMP_NTZ from
    nanosecond parquet); JSONL and CSV must preserve it to the
    microsecond."""
    orig = read_source(spark, sf_small, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    path = str(tmp_path / f"events_{fmt}")
    write_any(orig, path, fmt)
    back = read_any(spark, path, fmt, schema=orig.schema)
    cols = [f.name for f in orig.schema.fields]
    assert _sorted_rows(back, cols) == _sorted_rows(orig, cols)
    shutil.rmtree(path, ignore_errors=True)


def test_csv_multiline_dial(spark, sf_small, tmp_path):
    """multi_line=False (the newline-free-corpus fast path) round-trips
    plain CSV identically AND keeps files splittable; multi_line=True
    (default) is required once quoted fields embed newlines."""
    orig = read_source(spark, sf_small, "orders")
    schema = csv_safe_schema(orig.schema)
    cols = [f.name for f in schema.fields]
    path = str(tmp_path / "orders_csv_nl")
    write_any(orig.select(*cols), path, "csv")
    fast = read_any(spark, path, "csv", schema=schema, multi_line=False)
    assert _sorted_rows(fast, cols) == _sorted_rows(orig, cols)

    # A corpus WITH embedded newlines: the default (multi_line=True)
    # parses it; the fast path mangles it (documented trade-off).
    nl = spark.createDataFrame(
        [(1, "line one\nline two"), (2, "plain")], "id INT, body STRING"
    )
    nl_path = str(tmp_path / "nl_csv")
    write_any(nl, nl_path, "csv")
    good = read_any(spark, nl_path, "csv", schema=nl.schema)
    assert _sorted_rows(good, ["id", "body"]) == _sorted_rows(nl, ["id", "body"])
    bad = read_any(spark, nl_path, "csv", schema=nl.schema, multi_line=False)
    assert {tuple(r) for r in bad.collect()} != {tuple(r) for r in nl.collect()}
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(nl_path, ignore_errors=True)


def test_read_any_rejects_inference(spark, sf_small, tmp_path):
    with pytest.raises(ValueError, match="explicit schema"):
        read_any(spark, str(tmp_path), "csv")
    with pytest.raises(ValueError, match="unsupported"):
        read_any(spark, str(tmp_path), "xml")


def test_avro_gate(spark, sf_small, tmp_path):
    """Avro is a gated format: round-trips when the spark-avro module is
    on the classpath, raises a clear actionable error when not (pip
    pyspark does not bundle it)."""
    import pytest as _pytest

    from dbt_bigquery_udf_spark.sources.formats import (
        avro_available,
        read_any,
        write_any,
    )

    df = spark.range(10).selectExpr("id", "cast(id * 1.5 as double) AS v")
    path = str(tmp_path / "avro_out")
    if avro_available(spark):
        write_any(df, path, "avro")
        back = read_any(spark, path, "avro")
        assert back.count() == 10
        assert dict(back.dtypes) == dict(df.dtypes)
    else:
        with _pytest.raises(RuntimeError, match="spark-avro"):
            write_any(df, path, "avro")
        with _pytest.raises(RuntimeError, match="spark-avro"):
            read_any(spark, path, "avro")
