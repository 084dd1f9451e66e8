"""Sink-layout tests: partitioned writes prune, bucketed joins don't shuffle."""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from dbt_bigquery_udf_spark.plans import plan_facts
from dbt_bigquery_udf_spark.sources.registry import register_sources
from dbt_bigquery_udf_spark.sources.sinks import write_bucketed, write_partitioned


@pytest.fixture(scope="module")
def docs(spark, sf_small):
    return register_sources(spark, sf_small, tables=("documents",))["documents"]


def test_partitioned_write_prunes(spark, docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sink") / "docs_by_lang")
    write_partitioned(docs, out, ["lang"])
    # Hive-style layout: one directory per partition value.
    dirs = {os.path.basename(p) for p in glob.glob(os.path.join(out, "lang=*"))}
    assert dirs == {f"lang={r[0]}" for r in docs.select("lang").distinct().collect()}
    # A filter on the partition key prunes to that directory's files only.
    back = spark.read.parquet(out)
    f = plan_facts(back.filter(back.lang == "en"))
    assert "PartitionFilters" in f.text and "lang" in f.text
    assert back.filter(back.lang == "en").count() == docs.filter(docs.lang == "en").count()


def test_bucketed_join_avoids_shuffle(spark, docs):
    spark.sql("CREATE DATABASE IF NOT EXISTS sinktest")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("sinktest.docs_a", "sinktest.docs_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        # The metastore is per-session but the warehouse dir persists; an
        # aborted prior run can leave an orphaned location DROP won't clear.
        shutil.rmtree(os.path.join(warehouse, "sinktest.db", t.split(".")[1]),
                      ignore_errors=True)
        write_bucketed(docs.select("doc_id", "n_chars"), t, ["doc_id"], 4, sort_by=["doc_id"])
    a, b = spark.table("sinktest.docs_a"), spark.table("sinktest.docs_b")
    joined = a.join(b, "doc_id")
    f = plan_facts(joined)
    # Equal bucketing on the join key: no Exchange on either side.
    assert f.exchanges == 0, f.text
    assert joined.count() == docs.count()


def test_zordered_write_tiles_both_columns(spark, sf_small, tmp_path):
    """Z-order layout: every output file covers a narrow min/max range
    on BOTH zorder columns (k-dimensional tiles), where a plain
    single-column sort leaves the second column's per-file ranges at
    ~the full domain — the property parquet row-group pruning needs
    for filters on either column."""
    import glob

    import pyarrow.parquet as pq

    from dbt_bigquery_udf_spark.sources.registry import read_source
    from dbt_bigquery_udf_spark.sources.sinks import write_zordered

    li = read_source(spark, sf_small, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )

    def file_ranges(path, col):
        widths = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            lo, hi = None, None
            idx = md.schema.names.index(col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if lo is not None:
                widths.append(hi - lo)
        assert len(widths) >= 4, "need multiple files to measure tiling"
        return sum(widths) / len(widths)

    zpath = str(tmp_path / "z")
    spath = str(tmp_path / "s")
    write_zordered(li, zpath, ["l_partkey", "l_suppkey"], n_files=8)
    # Baseline: range-sort on l_partkey only (the cluster_by layout).
    (
        li.repartitionByRange(8, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .parquet(spath)
    )

    g_part = li.agg({"l_partkey": "max"}).collect()[0][0]
    g_supp = li.agg({"l_suppkey": "max"}).collect()[0][0]
    # Both dimensions tile under z-order...
    assert file_ranges(zpath, "l_partkey") < 0.6 * g_part
    assert file_ranges(zpath, "l_suppkey") < 0.6 * g_supp
    # ...single-column sort tiles its own column but NOT the other.
    assert file_ranges(spath, "l_partkey") < 0.3 * g_part
    assert file_ranges(spath, "l_suppkey") > 0.8 * g_supp
    # Layout is a pure reordering: same rows.
    assert spark.read.parquet(zpath).count() == li.count()


def test_zorder_expr_bit_bounds():
    """shiftleft wraps shift counts mod 64, so the expression builder
    must refuse layouts whose interleave exceeds BIGINT's 63 value
    bits (write_zordered clamps instead)."""
    import pytest as _pytest

    from dbt_bigquery_udf_spark.sources.sinks import zorder_expr

    assert "shiftleft" in zorder_expr(["a", "b"], bits=12)
    with _pytest.raises(ValueError, match="> 63"):
        zorder_expr(["a", "b", "c", "d", "e", "f"], bits=12)


def test_compact_files_flat_and_partitioned(spark, tmp_path):
    """compact_files must shrink a small-file explosion to the
    bin-packed count while preserving every row, flat and partitioned."""
    from dbt_bigquery_udf_spark.sources.sinks import compact_files, _list_data_files

    flat = str(tmp_path / "flat")
    spark.range(0, 10000).repartition(64).write.parquet(flat)
    before, total = _list_data_files(spark, flat)
    assert before >= 64
    stats = compact_files(spark, flat, target_file_bytes=total)  # 1 bin
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] <= 2
    assert spark.read.parquet(flat).count() == 10000

    part = str(tmp_path / "part")
    spark.range(0, 10000).selectExpr("id", "id % 4 AS p").repartition(
        32
    ).write.partitionBy("p").parquet(part)
    before_p, _ = _list_data_files(spark, part)
    assert before_p >= 32
    stats = compact_files(spark, part, target_file_bytes=1 << 30, partition_by=["p"])
    assert stats["files_after"] == 4, stats  # one file per partition dir
    out = spark.read.parquet(part)
    assert out.count() == 10000
    assert out.select("p").distinct().count() == 4


def test_compact_if_fragmented_threshold(spark, tmp_path):
    """The streaming-maintenance trigger: no-op while healthy, bin-pack
    once appends fragment past the threshold."""
    from dbt_bigquery_udf_spark.sources.sinks import (
        compact_if_fragmented,
        _list_data_files,
    )

    path = str(tmp_path / "landing")
    spark.range(0, 100).repartition(4).write.parquet(path)
    assert compact_if_fragmented(spark, path, max_files=16) is None  # healthy
    for _ in range(5):  # simulate micro-batch appends
        spark.range(0, 100).repartition(4).write.mode("append").parquet(path)
    before, _ = _list_data_files(spark, path)
    assert before > 16
    stats = compact_if_fragmented(spark, path, max_files=16)
    assert stats is not None and stats["files_after"] < before
    assert spark.read.parquet(path).count() == 600


def test_compact_files_self_heals_crashed_swap(spark, tmp_path):
    """A crash after the commit removed the location, before its rename,
    leaves data only in the marked <path>__compact_staging; the next
    compact_files call must commit it and complete instead of failing
    on a missing path."""
    import os

    from dbt_bigquery_udf_spark.operators.index_store import mark_complete
    from dbt_bigquery_udf_spark.sources.sinks import compact_files

    path = str(tmp_path / "heal")
    spark.range(100).repartition(8).write.parquet(path)
    os.rename(path, path + "__compact_staging")  # simulate the crash window
    mark_complete(path + "__compact_staging")
    stats = compact_files(spark, path, target_file_bytes=1 << 30)
    assert stats["files_after"] == 1
    assert spark.read.parquet(path).count() == 100
    assert not os.path.exists(path + "__compact_staging")


def test_compact_files_aborts_on_concurrent_append(spark, tmp_path, monkeypatch):
    """A file landed between the snapshot read and the swap must abort
    the compaction (original intact, staging removed), never vanish."""
    import os

    import pytest as _pytest

    from dbt_bigquery_udf_spark.sources import sinks

    path = str(tmp_path / "race")
    spark.range(100).repartition(4).write.parquet(path)

    real = sinks._data_file_set
    calls = {"n": 0}

    def racing(spark_, p):
        snap = real(spark_, p)
        if p == path and calls["n"] == 0:
            calls["n"] += 1
            # concurrent writer lands a file AFTER the snapshot
            extra = spark.range(5).toPandas()
            extra.to_parquet(os.path.join(path, "part-concurrent.parquet"))
        return snap

    monkeypatch.setattr(sinks, "_data_file_set", racing)
    with _pytest.raises(IOError, match="concurrent"):
        sinks.compact_files(spark, path, target_file_bytes=1 << 30)
    # original rows + the concurrent file all still readable
    assert spark.read.parquet(path).count() == 105
    assert not os.path.exists(path + "__compact_staging")
