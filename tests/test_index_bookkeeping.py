"""Index-lifecycle bookkeeping answered without Spark jobs: database
locations from the catalog, row counts from parquet footers
(``index_store.row_count``), table copies as hardlink clones
(``index_store.clone_table``), and no pollution probe on a base that
was just built from the corpus."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dbt_bigquery_udf_spark.operators import index_store
from dbt_bigquery_udf_spark.operators.dedup import _reset_layered_pair
from dbt_bigquery_udf_spark.operators.index_store import (
    _part_files,
    _table_dir,
    clear_tables,
    clone_table,
    db_location,
    empty_table,
    ensure_tables,
    fold_delta,
    maybe_fold_delta,
    restore_snapshot,
    row_count,
    snapshot_tables,
    staged_overwrite,
)
from dbt_bigquery_udf_spark.testing import job_ids

BASE, DELTA = "t_book_base", "t_book_delta"


@pytest.fixture()
def pair(spark):
    def _drop():
        for db in (BASE, DELTA):
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
            index_store.invalidate_db_location(db)

    _drop()
    for db in (BASE, DELTA):
        spark.sql(f"CREATE DATABASE {db}")
    yield BASE, DELTA
    _drop()


def _write(spark, db, table, lo, hi, parts, mode="errorifexists"):
    spark.range(lo, hi).selectExpr("id", "CAST(id AS STRING) AS v").repartition(
        parts
    ).write.format("parquet").mode(mode).saveAsTable(f"{db}.{table}")


def _rows(spark, db, table):
    spark.catalog.refreshTable(f"{db}.{table}")
    return sorted(tuple(r) for r in spark.table(f"{db}.{table}").collect())


def _assert_count(spark, db, table, n):
    spark.catalog.refreshTable(f"{db}.{table}")
    assert row_count(spark, db, table) == spark.table(f"{db}.{table}").count() == n


def test_db_location_reads_the_catalog_without_a_job(spark, pair):
    base, _ = pair
    index_store.invalidate_db_location(base)
    with job_ids(spark) as jobs:
        loc = db_location(spark, base)
    assert jobs == []
    described = (
        spark.sql(f"DESCRIBE DATABASE {base}")
        .filter(F.col("info_name") == "Location")
        .first()["info_value"]
    )
    assert loc == described
    assert loc.startswith("file:")


def test_maybe_fold_delta_below_threshold_runs_no_job(spark, pair):
    base, delta = pair
    _write(spark, base, "a", 0, 6, 1)
    _write(spark, delta, "a", 10, 22, 3)
    with job_ids(spark) as jobs:
        assert maybe_fold_delta(spark, base, delta, ("a",), ratio=10.0) is None
    assert jobs == []
    # above it, the fold reports the rows it moved, read from the footers
    assert maybe_fold_delta(spark, base, delta, ("a",), ratio=1.0) == {"a": 12}
    _assert_count(spark, base, "a", 18)
    _assert_count(spark, delta, "a", 0)


def test_row_count_matches_count_after_every_kind_of_write(spark, pair):
    base, delta = pair
    _write(spark, base, "a", 0, 6, 2)
    _write(spark, delta, "a", 10, 22, 3)
    _assert_count(spark, base, "a", 6)
    _assert_count(spark, delta, "a", 12)
    # append
    _write(spark, base, "a", 50, 55, 1, mode="append")
    _assert_count(spark, base, "a", 11)
    # fold move
    assert fold_delta(spark, base, delta, ("a",)) == {"a": 12}
    _assert_count(spark, base, "a", 23)
    _assert_count(spark, delta, "a", 0)
    # staged overwrite, with a snapshot taken first
    snapshot_tables(spark, base, ("a",))
    staged_overwrite(
        spark, base, "a", spark.table(f"{base}.a").filter(F.col("id") % 2 == 0)
    )
    _assert_count(spark, base, "a", 12)
    # snapshot restore
    assert restore_snapshot(spark, base, ("a",))
    _assert_count(spark, base, "a", 23)
    # emptied in place
    empty_table(spark, base, "a")
    _assert_count(spark, base, "a", 0)


def test_row_count_raises_on_a_partitioned_directory(spark, pair):
    base, _ = pair
    spark.range(6).selectExpr("id", "id % 2 AS p").write.format("parquet").partitionBy(
        "p"
    ).saveAsTable(f"{base}.parted")
    with pytest.raises(RuntimeError, match="partitioned"):
        row_count(spark, base, "parted")


def _inodes(path):
    return {os.stat(os.path.join(path, f)).st_ino for f in _part_files(path)}


def test_clone_table_shares_inodes_and_outlives_its_source(spark, pair):
    base, delta = pair
    _write(spark, base, "a", 0, 6, 2)
    with job_ids(spark) as jobs:
        clone_table(spark, base, "a", delta, "c")
    assert jobs == []
    src, dst = _table_dir(spark, base, "a"), _table_dir(spark, delta, "c")
    assert len(_inodes(src)) == 2 and _inodes(dst) == _inodes(src)
    assert spark.catalog.getTable(f"{delta}.c").tableType == "EXTERNAL"
    assert spark.table(f"{delta}.c").dtypes == spark.table(f"{base}.a").dtypes
    want = [(i, str(i)) for i in range(6)]
    assert _rows(spark, delta, "c") == want
    # removing the source's files leaves the clone's rows intact
    clear_tables(spark, base, ("a",))
    assert not os.path.exists(src)
    assert _rows(spark, delta, "c") == want


def test_pollution_probe_skips_a_freshly_built_base(spark, pair):
    base, delta = pair
    probed = []

    def build_base():
        return ensure_tables(
            spark, base, ("a",), lambda: _write(spark, base, "a", 0, 6, 1)
        )

    def probe(db):
        probed.append(db)
        return False

    def reset():
        _reset_layered_pair(
            spark, base, delta, build_base, {"a": "id bigint, v string"}, probe
        )

    reset()  # built from scratch: clean by construction
    assert probed == []
    reset()  # reused: may hold a previous run's fold
    assert probed == [base]
    # rebuilt, but recovery then commits a stage left behind over it
    clear_tables(spark, base, ("a",))
    _write(spark, base, "a__staged", 0, 3, 1)
    reset()
    assert probed == [base, base]
    assert _rows(spark, base, "a") == [(i, str(i)) for i in range(3)]
