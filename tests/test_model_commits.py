"""Model tables committed through ``index_store``: a snapshot rewrite
cut short is finished by the next build instead of restarting the
snapshot, and the TTL sweep reaps the EXTERNAL tables a rewrite leaves."""

from __future__ import annotations

import os
import time
from datetime import datetime

import pytest

from dbt_bigquery_udf_spark.api import prepared_engine
from dbt_bigquery_udf_spark.models.core import ModelSpec
from dbt_bigquery_udf_spark.operators import index_store

DB = "datamart"
_V1 = [(1, "a", datetime(2026, 1, 1)), (2, "b", datetime(2026, 1, 1))]
# key 1 changes, key 2 stays, key 3 is new
_V2 = [
    (1, "a2", datetime(2026, 1, 2)),
    (2, "b", datetime(2026, 1, 1)),
    (3, "c", datetime(2026, 1, 2)),
]


class _Crash(RuntimeError):
    pass


def _build(spark, engine, name, rows, **kw):
    spark.createDataFrame(rows, "k int, v string, ts timestamp_ntz").createOrReplaceTempView(
        "model_commits_src"
    )
    spec = ModelSpec(
        name=name,
        kind="snapshot",
        database=DB,
        dialect="spark",
        unique_key="k",
        snapshot_strategy="timestamp",
        updated_at="ts",
        sql="SELECT * FROM model_commits_src",
        **kw,
    )
    engine.register(spec, replace=True)
    engine.build(select=[name])


def _rows(spark, name):
    return sorted((tuple(r) for r in spark.table(f"{DB}.{name}").collect()), key=repr)


@pytest.fixture()
def engine(spark, sf_small):
    engine = prepared_engine(spark, sf_small)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")
    names = ("snap_whole", "snap_cut", "ttl_snap")
    index_store.clear_tables(spark, DB, names + tuple(f"{n}__staged" for n in names))
    return engine


def test_snapshot_rewrite_cut_short_is_finished(spark, engine, monkeypatch):
    _build(spark, engine, "snap_whole", _V1)
    _build(spark, engine, "snap_whole", _V2)
    want = _rows(spark, "snap_whole")
    assert sum(r[-1] is not None for r in want) == 1  # key 1's closed version

    _build(spark, engine, "snap_cut", _V1)
    real = os.rename
    calls = [0]

    def rename(src, dst):
        calls[0] += 1
        if calls[0] == 1:
            raise _Crash("crash at the commit rename")
        return real(src, dst)

    monkeypatch.setattr(index_store.os, "rename", rename)
    with pytest.raises(_Crash):
        _build(spark, engine, "snap_cut", _V2)
    # the live table is cleared and the complete stage waits
    assert not spark.catalog.tableExists(f"{DB}.snap_cut")
    assert spark.catalog.tableExists(f"{DB}.snap_cut__staged")
    _build(spark, engine, "snap_cut", _V2)
    assert _rows(spark, "snap_cut") == want


def test_sweep_expired_reaps_rewritten_snapshot(spark, engine):
    _build(spark, engine, "ttl_snap", _V1, hours_to_expiration=1)
    _build(spark, engine, "ttl_snap", _V2, hours_to_expiration=1)
    assert spark.catalog.getTable(f"{DB}.ttl_snap").tableType == "EXTERNAL"
    path = index_store._table_dir(spark, DB, "ttl_snap")
    assert os.path.isdir(path)
    assert f"{DB}.ttl_snap" not in engine.sweep_expired()["tables"]
    swept = engine.sweep_expired(now=time.time() + 3660)
    assert f"{DB}.ttl_snap" in swept["tables"]
    assert not spark.catalog.tableExists(f"{DB}.ttl_snap")
    assert not os.path.isdir(path)
