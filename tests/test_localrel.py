"""Focused tests for operators/util.py's JVM local-relation helpers
(round-11 optimization): ``local_rows_df`` / ``local_empty_df`` must be
drop-in replacements for ``spark.createDataFrame(rows, ddl)`` — same
schema (types AND nullability), same values bit-for-bit — while planning
as a pure JVM relation (no Python-RDD scan in the plan)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import SparkSession

from dbt_bigquery_udf_spark.operators.util import local_empty_df, local_rows_df


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[2]")
        .appName("test_localrel")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s


CASES = [
    ([(1,)], "version int"),
    ([(123456789012345,)], "doc_id bigint"),
    ([(2, [0.1, -1.5e-7]), (3, [])], "cid int, cv array<double>"),
    ([("a'b\\c", True, None)], "s string, b boolean, x bigint"),
    ([(1, 2.5), (2, None)], "k bigint, v double"),
    ([(0, [7, 8, 9])], "doc_id bigint, hs array<bigint>"),
    ([], "doc_id bigint"),
    ([], "batch_id int, doc_id bigint, is_dup boolean, h string"),
]


@pytest.mark.parametrize("rows,ddl", CASES, ids=[c[1] for c in CASES])
def test_matches_createDataFrame(spark, rows, ddl):
    ref = spark.createDataFrame(rows, ddl)
    got = local_rows_df(spark, rows, ddl)
    assert got.schema == ref.schema  # incl. nullability
    norm = lambda rs: sorted(tuple(map(str, r)) for r in rs)  # noqa: E731
    assert norm(got.collect()) == norm(ref.collect())


def test_double_literals_bit_exact(spark):
    vals = [0.1, -1.5e-7, 2.0**-1074, 1.7976931348623157e308, -0.0]
    got = local_rows_df(
        spark, [(i, v) for i, v in enumerate(vals)], "i int, v double"
    ).orderBy("i").collect()
    for row, v in zip(got, vals):
        assert row["v"] == v and math.copysign(1, row["v"]) == math.copysign(1, v)


def test_nan_and_null_distinct(spark):
    got = local_rows_df(
        spark, [(0, float("nan")), (1, None)], "i int, v double"
    ).orderBy("i").collect()
    assert math.isnan(got[0]["v"]) and got[1]["v"] is None


def test_empty_df_schema_and_rows(spark):
    ddl = "doc_id bigint, hs array<bigint>"
    ref = spark.createDataFrame([], ddl)
    got = local_empty_df(spark, ddl)
    assert got.schema == ref.schema and got.collect() == []


def test_no_python_scan_in_plan(spark):
    """The point of the helper: the plan must not contain a Python-RDD
    scan (``Scan ExistingRDD``), which is what createDataFrame plans and
    what costs a Python-worker round trip per action."""
    df = local_rows_df(spark, [(1, [0.5])], "cid int, cv array<double>")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
    ref = spark.createDataFrame([(1, [0.5])], "cid int, cv array<double>")
    ref_plan = ref._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in ref_plan  # the shape being avoided


# ---- round 12: timestamp/date literals + row-shape hardening ------------


def _no_python_scan(df) -> bool:
    return "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()


def test_timestamp_ntz_literal_exact(spark):
    """TIMESTAMP_NTZ literals (the engine session's ``timestamp`` under
    the timestampType=TIMESTAMP_NTZ pin) render exactly and stay JVM-
    side — the ref_source_freshness shape (VERDICT r11 #5)."""
    from datetime import datetime

    rows = [("a", datetime(2001, 8, 1, 12, 30, 45, 123456)), ("b", None)]
    ddl = "k string, ts timestamp_ntz"
    ref = spark.createDataFrame(rows, ddl)
    got = local_rows_df(spark, rows, ddl)
    assert got.schema == ref.schema
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        map(tuple, ref.collect()), key=repr
    )
    assert _no_python_scan(got)


def test_timestamp_ltz_and_date_literals(spark):
    from datetime import date, datetime, timezone

    rows = [(datetime(2001, 8, 1, 12, 0, 0),)]
    got = local_rows_df(spark, rows, "ts timestamp_ltz")
    assert got.collect() == spark.createDataFrame(rows, "ts timestamp_ltz").collect()
    assert _no_python_scan(got)
    # aware datetimes go through the fallback (reference semantics)
    rows = [(datetime(2001, 8, 1, 12, 0, 0, tzinfo=timezone.utc),)]
    assert (
        local_rows_df(spark, rows, "ts timestamp_ltz").collect()
        == spark.createDataFrame(rows, "ts timestamp_ltz").collect()
    )
    rows = [(date(2001, 8, 1),), (None,)]
    got = local_rows_df(spark, rows, "d date")
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        map(tuple, spark.createDataFrame(rows, "d date").collect()), key=repr
    )
    assert _no_python_scan(got)


def test_naive_ltz_reads_process_zone(spark, monkeypatch):
    """A naive datetime on the LTZ fast path is process-local time, as
    ``createDataFrame`` reads it, also when the process is not on UTC."""
    import time
    from datetime import datetime

    rows = [(datetime(2001, 8, 1, 12, 0, 0),)]
    monkeypatch.setenv("TZ", "Asia/Taipei")
    time.tzset()
    try:
        got = local_rows_df(spark, rows, "ts timestamp_ltz")
        ref = spark.createDataFrame(rows, "ts timestamp_ltz")
        micros = [d.selectExpr("unix_micros(ts)").first()[0] for d in (got, ref)]
    finally:
        monkeypatch.undo()
        time.tzset()
    assert micros[0] == micros[1]
    assert _no_python_scan(got)


def test_dict_rows_bind_by_name(spark):
    """ADVICE r11 (high): Mapping rows bind by FIELD NAME — missing
    keys become NULL like createDataFrame; a string first column must
    not stringify the dict into data."""
    ddl = "a bigint, b string"
    rows = [{"a": 1, "b": "x"}, {"a": 2}]
    got = local_rows_df(spark, rows, ddl)
    ref = spark.createDataFrame(rows, ddl)
    assert got.schema == ref.schema
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        map(tuple, ref.collect()), key=repr
    )
    # string-first-column fixture: the r11 hazard materialized
    # "{'k': 'v'}" as data
    got = local_rows_df(spark, [{"k": "v", "n": 3}], "k string, n bigint")
    assert [tuple(r) for r in got.collect()] == [("v", 3)]


def test_row_arity_and_type_mismatches_reject(spark):
    """ADVICE r11 (high): no silent coercion — extra row values, bool-
    for-int, and int-for-boolean must all fail like createDataFrame
    does, never silently render."""
    import pytest as _pytest

    for rows, ddl in [
        ([(1, 2, 3)], "a bigint, b bigint"),  # arity
        ([(True,)], "a bigint"),  # bool -> int
        ([(1,)], "a boolean"),  # int -> bool
    ]:
        with _pytest.raises(Exception):
            local_rows_df(spark, rows, ddl).collect()
    # int -> string is a coercion createDataFrame ACCEPTS ("1"); the
    # literal renderer rejects it so the fallback applies that exact
    # reference behavior
    assert [tuple(r) for r in local_rows_df(spark, [(1,)], "a string").collect()] == [("1",)]


def test_non_nullable_schema_falls_back(spark):
    """ADVICE r11 (low): a non-nullable StructType must not die in
    ``DataFrame.to`` — both helpers fall back to createDataFrame."""
    from pyspark.sql import types as T

    st = T.StructType([T.StructField("a", T.LongType(), nullable=False)])
    e = local_empty_df(spark, st)
    assert e.schema == st and e.count() == 0
    r = local_rows_df(spark, [(5,)], st)
    assert r.schema == st and [tuple(x) for x in r.collect()] == [(5,)]
