"""Round-12 staged-commit machinery: the rename-based commit
(``_commit_stage``), its recovery windows, and the pristine
snapshot/restore path that replaced the auto-compacted queries'
depollute rewrites (guide §6 — the kept bytes move once).

The pre-round-12 crash semantics are pinned unchanged:
``tests/test_engine.py::test_recover_staged_partial_stage_not_adopted``
still covers the partial-orphan and complete-orphan cases; this module
adds the windows the rename commit introduced.
"""

from __future__ import annotations

import os
import shutil

import pytest

from dbt_bigquery_udf_spark.operators.index_store import (
    STAGE_COMPLETE_MARKER,
    clear_tables,
    db_dir,
    db_location,
    drop_snapshot,
    recover_staged,
    restore_snapshot,
    snapshot_tables,
    staged_overwrite,
)

DB = "t_staged_commit_db"


@pytest.fixture()
def db(spark):
    spark.sql(f"DROP DATABASE IF EXISTS {DB} CASCADE")
    spark.sql(f"CREATE DATABASE {DB}")
    yield DB
    spark.sql(f"DROP DATABASE IF EXISTS {DB} CASCADE")


def _mk_live(spark, db, rows):
    spark.createDataFrame([(i,) for i in rows], "id int").write.mode(
        "overwrite"
    ).saveAsTable(f"{db}.live")


def _ids(spark, db, t="live"):
    return sorted(r.id for r in spark.table(f"{db}.{t}").collect())


def test_staged_overwrite_single_write_rename_commit(spark, db):
    """The overwrite commits by directory rename: one write job, stage
    gone (dir AND entry), live readable, marker travels into the live
    directory (underscore-prefixed — invisible to the reader)."""
    _mk_live(spark, db, range(10))
    staged_overwrite(
        spark, db, "live", spark.table(f"{db}.live").filter("id % 2 = 0")
    )
    assert _ids(spark, db) == [0, 2, 4, 6, 8]
    path = db_location(spark, db).removeprefix("file:")
    assert not os.path.isdir(os.path.join(path, "live__staged"))
    assert not spark.catalog.tableExists(f"{db}.live__staged")
    assert os.path.isfile(os.path.join(path, "live", STAGE_COMPLETE_MARKER))
    # repeat overwrite on the now-EXTERNAL live table must also work
    staged_overwrite(
        spark, db, "live", spark.table(f"{db}.live").filter("id >= 4")
    )
    assert _ids(spark, db) == [4, 6, 8]


def test_staged_overwrite_empty_kept_set(spark, db):
    """An empty kept set (zero part-files possible) still registers an
    empty live table with the staged schema."""
    _mk_live(spark, db, range(3))
    staged_overwrite(
        spark, db, "live", spark.table(f"{db}.live").filter("id < 0")
    )
    assert spark.table(f"{db}.live").count() == 0
    assert [f.name for f in spark.table(f"{db}.live").schema.fields] == ["id"]


def test_staged_overwrite_keeps_model_schema(spark, db):
    """Model tables reach the rewrite with user schemas, which the
    commit re-registers explicitly: decimal, timestamp_ntz, struct,
    array-of-struct and map columns keep their types and values over
    two rewrites."""
    from datetime import datetime
    from decimal import Decimal

    ddl = (
        "id int, amount decimal(10,2), seen timestamp_ntz, "
        "who struct<name:string,age:int>, "
        "tags array<struct<k:string,w:double>>, attrs map<string,bigint>"
    )
    rows = [
        (1, Decimal("12.34"), datetime(2024, 1, 2, 3, 4, 5), ("ann", 31),
         [("a", 1.5), ("b", -2.0)], {"x": 1, "y": -7}),
        (2, None, None, None, [], {}),
    ]
    spark.createDataFrame(rows, ddl).write.saveAsTable(f"{db}.live")

    def state():
        t = spark.table(f"{db}.live")
        return t.dtypes, sorted(t.collect(), key=lambda r: r.id)

    want = state()
    for _ in range(2):
        staged_overwrite(spark, db, "live", spark.table(f"{db}.live"))
    assert state() == want


def _stage_complete_copy(spark, db, rows):
    """Simulate staged_overwrite up to (and including) the marker."""
    clear_tables(spark, db, ("live__staged",))
    spark.createDataFrame([(i,) for i in rows], "id int").write.saveAsTable(
        f"{db}.live__staged"
    )
    path = db_location(spark, db).removeprefix("file:")
    with open(
        os.path.join(path, "live__staged", STAGE_COMPLETE_MARKER), "w"
    ) as fh:
        fh.write("complete")
    return os.path.join(path, "live__staged")


def test_recover_stage_intact_after_live_clear(spark, db):
    """Crash window: marker written, live cleared, rename never ran —
    the cataloged stage is the source and recovery finishes the
    commit."""
    _mk_live(spark, db, range(3))
    _stage_complete_copy(spark, db, [7, 8])
    clear_tables(spark, db, ("live",))
    assert recover_staged(spark, db, ("live",)) == ["live"]
    assert _ids(spark, db) == [7, 8]


def test_recover_dangling_entry_after_rename(spark, db):
    """Crash window: the rename landed (atomic commit point) but the
    live table was never re-registered — recovery must register the
    moved directory from the dangling stage entry's schema and drop the
    entry, NOT replay an empty stage over the live data."""
    _mk_live(spark, db, range(3))
    sdir = _stage_complete_copy(spark, db, [7, 8])
    path = db_location(spark, db).removeprefix("file:")
    clear_tables(spark, db, ("live",))
    os.rename(sdir, os.path.join(path, "live"))
    assert spark.catalog.tableExists(f"{db}.live__staged")  # dangling
    assert recover_staged(spark, db, ("live",)) == ["live"]
    assert _ids(spark, db) == [7, 8]
    assert not spark.catalog.tableExists(f"{db}.live__staged")


def test_recover_orphan_complete_stage_rename_commits(spark, db):
    """Fresh-session shape: stage dir + marker on disk, empty catalog —
    adoption + rename commit replays it (the pre-r12 behavior, now
    without the second write job)."""
    _mk_live(spark, db, range(3))
    path = db_location(spark, db).removeprefix("file:")
    sdir = _stage_complete_copy(spark, db, [42])
    # wipe the stage's catalog entry but keep its files (process crash)
    spark.sql(f"CREATE TABLE {db}.keepalive (x int) USING parquet")
    stash = sdir + ".stash"
    shutil.copytree(sdir, stash)
    clear_tables(spark, db, ("live__staged",))
    shutil.move(stash, sdir)
    clear_tables(spark, db, ("live",))
    assert recover_staged(spark, db, ("live",)) == ["live"]
    assert _ids(spark, db) == [42]


def test_snapshot_restore_roundtrip(spark, db):
    """snapshot -> pollute -> restore yields the snapshotted rows with
    zero Spark write jobs' worth of data rewrite; restore is idempotent;
    drop_snapshot retires it."""
    _mk_live(spark, db, range(5))
    snapshot_tables(spark, db, ("live",))
    spark.createDataFrame([(99,)], "id int").write.mode("append").saveAsTable(
        f"{db}.live"
    )
    assert 99 in _ids(spark, db)
    assert restore_snapshot(spark, db, ("live",))
    assert _ids(spark, db) == [0, 1, 2, 3, 4]
    assert restore_snapshot(spark, db, ("live",))  # idempotent
    assert _ids(spark, db) == [0, 1, 2, 3, 4]
    drop_snapshot(spark, db)
    assert not restore_snapshot(spark, db, ("live",))


def test_snapshot_is_immune_to_source_file_deletion(spark, db):
    """The snapshot hardlinks survive the live files' unlink (TRUNCATE/
    overwrite delete whole files, never rewrite in place)."""
    _mk_live(spark, db, range(4))
    snapshot_tables(spark, db, ("live",))
    spark.sql(f"TRUNCATE TABLE {db}.live")
    assert spark.table(f"{db}.live").count() == 0
    assert restore_snapshot(spark, db, ("live",))
    assert _ids(spark, db) == [0, 1, 2, 3]


def test_partial_snapshot_not_restored(spark, db):
    """A snapshot directory without the completion marker is never a
    restore source (crash mid-snapshot); snapshot_tables retakes it."""
    from dbt_bigquery_udf_spark.operators.index_store import _snap_root

    _mk_live(spark, db, range(3))
    snap = _snap_root(spark, db)
    os.makedirs(os.path.join(snap, "live"), exist_ok=True)
    assert not restore_snapshot(spark, db, ("live",))
    snapshot_tables(spark, db, ("live",))
    assert restore_snapshot(spark, db, ("live",))
    assert _ids(spark, db) == [0, 1, 2]


def test_snapshot_restore_of_empty_table(spark, db):
    """A table with zero part-files snapshots and restores as an empty
    table with its schema (the stage is registered with the live
    table's catalog schema, not by inference over no files), and a
    table whose directory is gone snapshots as empty."""
    _mk_live(spark, db, range(3))
    path = db_location(spark, db).removeprefix("file:")
    spark.sql(f"TRUNCATE TABLE {db}.live")
    assert not any(
        f.endswith(".parquet") for f in os.listdir(os.path.join(path, "live"))
    )
    snapshot_tables(spark, db, ("live",))
    _mk_live(spark, db, range(5))
    assert restore_snapshot(spark, db, ("live",))
    assert _ids(spark, db) == []
    assert spark.table(f"{db}.live").dtypes == [("id", "int")]

    drop_snapshot(spark, db)
    shutil.rmtree(os.path.join(path, "live"))
    snapshot_tables(spark, db, ("live",))
    assert restore_snapshot(spark, db, ("live",))
    assert _ids(spark, db) == []


def test_non_local_warehouse_raises(spark, db, monkeypatch):
    """The commits rename, hardlink and move files on one local volume,
    so a database whose location is not ``file:`` fails loudly, naming
    the URI, before anything is dropped — no silent fallback."""
    from dbt_bigquery_udf_spark.operators import index_store

    _mk_live(spark, db, range(3))
    monkeypatch.setitem(
        index_store._DB_LOCATION_CACHE,
        (index_store._warehouse(spark), db),
        "s3a://b/x.db",
    )
    with pytest.raises(RuntimeError, match="s3a://b/x.db"):
        db_dir(spark, db)
    with pytest.raises(RuntimeError, match="s3a://b/x.db"):
        clear_tables(spark, db, ("live",))
    assert spark.catalog.tableExists(f"{db}.live")
