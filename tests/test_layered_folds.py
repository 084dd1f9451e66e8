"""Crash injection at every filesystem step of the shared layered-index
folds (``index_store.fold_delta`` and ``index_store.fold_tombstones``).

A fold that dies after any number of file moves, during a staged
commit, or between the tombstone rewrite and the tombstone clear is
finished by the next fold: no row is lost or duplicated. The tables are
small and hand-made, so the whole module runs in seconds.
"""

from __future__ import annotations

import os

import pytest

from dbt_bigquery_udf_spark.operators import index_store
from dbt_bigquery_udf_spark.operators.index_store import (
    _table_dir,
    fold_delta,
    fold_tombstones,
    forget,
    read_live,
)

BASE, DELTA = "t_fold_base", "t_fold_delta"
TABLES = ("a", "b")


class _Crash(RuntimeError):
    pass


@pytest.fixture()
def pair(spark):
    def _drop():
        for db in (BASE, DELTA):
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
            index_store.invalidate_db_location(db)

    _drop()
    yield BASE, DELTA
    _drop()


def _write(spark, db, table, lo, hi, parts):
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    spark.range(lo, hi).selectExpr("id", "CAST(id AS STRING) AS v").repartition(
        parts
    ).write.format("parquet").saveAsTable(f"{db}.{table}")


def _rows(spark, dbs, table):
    out = []
    for db in dbs:
        spark.catalog.refreshTable(f"{db}.{table}")
        out += [tuple(r) for r in spark.table(f"{db}.{table}").collect()]
    return sorted(out)


def _crash_renames_after(monkeypatch, k):
    """Make ``os.rename`` (as index_store calls it) raise once ``k``
    renames have succeeded."""
    real = os.rename
    done = [0]

    def rename(src, dst):
        if done[0] == k:
            raise _Crash(f"crash after {k} renames")
        done[0] += 1
        return real(src, dst)

    monkeypatch.setattr(index_store.os, "rename", rename)


def _mk_layers(spark, base, delta):
    for t, (lo, hi) in zip(TABLES, ((0, 6), (100, 104))):
        _write(spark, base, t, lo, hi, 1)
    _write(spark, delta, "a", 10, 22, 3)
    _write(spark, delta, "b", 30, 38, 2)


def _delta_files(spark, delta):
    return sum(
        f.endswith(".parquet")
        for t in TABLES
        for f in os.listdir(_table_dir(spark, delta, t))
    )


def test_fold_delta_crash_after_every_move(spark, pair, monkeypatch):
    base, delta = pair
    _mk_layers(spark, base, delta)
    n = _delta_files(spark, delta)
    assert n >= 4
    for k in range(n + 1):
        if k:
            for db in (base, delta):
                spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
            _mk_layers(spark, base, delta)
        before = {t: _rows(spark, (base, delta), t) for t in TABLES}
        _crash_renames_after(monkeypatch, k)
        if k < n:
            with pytest.raises(_Crash):
                fold_delta(spark, base, delta, TABLES)
        else:
            fold_delta(spark, base, delta, TABLES)
        monkeypatch.undo()
        # mid-fold, every row sits in exactly one layer
        for t in TABLES:
            assert _rows(spark, (base, delta), t) == before[t], (k, t)
        fold_delta(spark, base, delta, TABLES)
        for t in TABLES:
            assert _rows(spark, (delta,), t) == [], (k, t)
            assert _rows(spark, (base,), t) == before[t], (k, t)


def _mk_erased(spark, db):
    for t in TABLES:
        _write(spark, db, t, 0, 12, 2)
    assert forget(spark, db, "id", [1, 4, 7]) == 3
    return sorted(
        (i, str(i)) for i in range(12) if i not in (1, 4, 7)
    )


def _check_folded(spark, db, kept, step):
    for t in TABLES:
        assert _rows(spark, (db,), t) == kept, (step, t)
        (live,) = read_live(spark, db, (t,), "id")
        assert sorted(map(tuple, live.collect())) == kept, (step, t)
    assert spark.table(f"{db}.tombstones").count() == 0, step


@pytest.mark.parametrize("step", ["commit_a", "commit_b", "before_clear"])
def test_fold_tombstones_crash_at_every_step(spark, pair, monkeypatch, step):
    """Crash inside each table's staged commit (its directory rename),
    and between the last rewrite and the tombstone clear."""
    db = pair[0]
    kept = _mk_erased(spark, db)
    if step == "before_clear":

        def boom(*a, **k):
            raise _Crash("crash before the tombstone clear")

        monkeypatch.setattr(index_store, "empty_table", boom)
    else:
        _crash_renames_after(monkeypatch, TABLES.index(step[-1]))
    with pytest.raises(_Crash):
        fold_tombstones(spark, db, TABLES, "id")
    monkeypatch.undo()
    assert fold_tombstones(spark, db, TABLES, "id") == 3
    _check_folded(spark, db, kept, step)
    # a second fold finds nothing left to do
    assert fold_tombstones(spark, db, TABLES, "id") == 0
    _check_folded(spark, db, kept, step)
