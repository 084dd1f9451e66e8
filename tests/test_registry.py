"""Source registry: one footer schema read per source and session, with
no Spark job, shared by the temp views and the ``src`` catalog tables,
whose DDL runs only when a table changed.

Each test works in its own ``newSession()`` (temp views and the
registry's cache are per session) and, except the bootstrap test, in
its own catalog database, so the shared ``src`` tables other tests read
are left alone.
"""

from __future__ import annotations

import datetime
import glob
import os
import re
import shutil
import sys
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.util import inheritable_thread_target

from dbt_bigquery_udf_spark import api
from dbt_bigquery_udf_spark.sources import registry
from dbt_bigquery_udf_spark.sources.registry import (
    SOURCE_TABLES,
    read_source,
    register_sources,
    register_sources_catalog,
)
from dbt_bigquery_udf_spark.testing import job_ids

DB = "t_registry_src"


@pytest.fixture()
def session(spark):
    s = spark.newSession()
    s.sql(f"DROP DATABASE IF EXISTS {DB} CASCADE")
    yield s
    s.sql(f"DROP DATABASE IF EXISTS {DB} CASCADE")


@pytest.fixture()
def corpus(sf_small, tmp_path):
    """A private copy of the sf0.001 sources whose ``events.ts`` is
    ``timestamp[ns]``, the shape the nanosecond conversion exists for."""
    d = tmp_path / "corpus"
    d.mkdir()
    for name in SOURCE_TABLES:
        src = os.path.join(sf_small, f"{name}.parquet")
        if name == "events":
            t = pq.read_table(src)
            idx = t.schema.get_field_index("ts")
            t = t.set_column(idx, "ts", t.column("ts").cast(pa.timestamp("ns")))
            pq.write_table(t, d / "events.parquet")
        else:
            shutil.copy(src, d / f"{name}.parquet")
    return str(d)


def _rows(path: str) -> int:
    return pq.ParquetFile(path).metadata.num_rows


def _footer_schema(s, path: str):
    (read,) = registry._schema_readers(s, [path])
    return read()


def _rewrite(path: str, table: pa.Table, **kwargs) -> None:
    """Write ``table`` over ``path`` with a distinct mtime even on a
    coarse-clock filesystem."""
    st = os.stat(path)
    pq.write_table(table, path, **kwargs)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))


def test_bootstrap_infers_each_source_once_per_session(spark, sf_small):
    """A fresh session's bootstrap reads every source's schema from its
    footer on the driver, so it runs no Spark job; a repeat reuses the
    session's sources."""
    s = spark.newSession()
    try:
        with job_ids(s) as first:
            api.bootstrap(s, sf_small)
        views = {n: read_source(s, sf_small, n) for n in SOURCE_TABLES}
        with job_ids(s) as second:
            api.bootstrap(s, sf_small)
        assert all(read_source(s, sf_small, n) is views[n] for n in SOURCE_TABLES)
    finally:
        # the src tables are session-global: make the next
        # prepared_engine rebuild instead of trusting its memo
        api._session_sf.clear()
    assert first == []
    assert second == []


def test_concurrent_registrations_share_one_inference(spark, sf_small):
    """Callers racing on a fresh session (more threads than cores,
    frequent thread switches) run no Spark job and share one view
    object per source."""
    s = spark.newSession()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with job_ids(s) as jobs:
            register = inheritable_thread_target(s)(
                lambda: register_sources(s, sf_small)
            )
            with ThreadPoolExecutor(max_workers=8) as pool:
                futures = [pool.submit(register) for _ in range(8)]
                views = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert jobs == []
    assert all(v[n] is views[0][n] for v in views for n in SOURCE_TABLES)


def test_view_and_catalog_schemas_match(session, corpus):
    register_sources(session, corpus)
    with job_ids(session) as jobs:
        register_sources_catalog(session, corpus, database=DB)
    assert jobs == []  # the catalog reuses the temp views' schemas
    for name in SOURCE_TABLES:
        view = session.table(name).dtypes
        assert session.table(f"{DB}.{name}").dtypes == view, name
    assert dict(session.table(f"{DB}.events_raw").dtypes)["ts"] == "bigint"
    assert dict(session.table("events").dtypes)["ts"] == "timestamp_ntz"
    for table in ("orders", "events_raw"):
        assert session.catalog.getTable(f"{DB}.{table}").tableType == "EXTERNAL"
    by_id = "event_id"
    assert (
        session.table("events").orderBy(by_id).collect()
        == session.table(f"{DB}.events").orderBy(by_id).collect()
    )


def test_reregister_at_another_sf_dir_repoints_both(session, corpus, sf_medium):
    for sf_dir in (corpus, sf_medium, corpus):
        register_sources(session, sf_dir, tables=("orders",))
        register_sources_catalog(session, sf_dir, database=DB, tables=("orders",))
        want = _rows(os.path.join(sf_dir, "orders.parquet"))
        assert session.table("orders").count() == want
        assert session.table(f"{DB}.orders").count() == want


def test_file_regenerated_in_place_is_inferred_again(session, corpus):
    path = os.path.join(corpus, "region.parquet")
    register_sources(session, corpus)
    register_sources_catalog(session, corpus, database=DB)
    t = pq.read_table(path)
    _rewrite(path, t.append_column("r_extra", pa.array(range(t.num_rows))))
    with job_ids(session) as jobs:
        register_sources(session, corpus)
        register_sources_catalog(session, corpus, database=DB)
    assert jobs == []
    assert "r_extra" in session.table("region").columns
    assert "r_extra" in session.table(f"{DB}.region").columns
    assert session.table(f"{DB}.region").count() == t.num_rows


def test_symlinked_sources_share_their_target_inference(session, sf_small, tmp_path):
    first = register_sources(session, sf_small)
    for name in SOURCE_TABLES:
        os.symlink(os.path.join(sf_small, f"{name}.parquet"), tmp_path / f"{name}.parquet")
    with job_ids(session) as jobs:
        linked = register_sources(session, str(tmp_path))
    assert jobs == []
    assert all(linked[n] is first[n] for n in SOURCE_TABLES)


def test_missing_source_raises_at_registration(session, corpus):
    with pytest.raises(AnalysisException):
        register_sources(session, corpus, tables=("orders", "nope"))
    register_sources_catalog(session, corpus, database=DB, tables=("orders",))
    os.remove(os.path.join(corpus, "orders.parquet"))
    # cached, but the file's stamp changed: inferred again, and raises
    # (an explicit-schema CREATE over a missing path would not)
    with pytest.raises(AnalysisException):
        register_sources_catalog(session, corpus, database=DB, tables=("orders",))
    with pytest.raises(AnalysisException):
        register_sources(session, corpus, tables=("orders",))


def test_events_arrow_fallback_registers_both(session, corpus, monkeypatch):
    """A session whose parquet reader refuses the nanosecond column gets
    ``events`` through Arrow; its catalog table infers the schema at
    CREATE, and the catalog view serves the same timestamps. Any other
    error propagates."""
    schema_readers = registry._schema_readers

    def events_read_by(reader):
        def readers(s, paths):
            return [
                reader(s, read) if os.path.basename(p) == "events.parquet" else read
                for p, read in zip(paths, schema_readers(s, paths))
            ]
        return readers

    def failing(s, read):
        def read_events():
            raise RuntimeError("not the error the fallback is for")
        return read_events

    def refusing(s, read):
        def read_events():  # Spark's own PARQUET_TYPE_ILLEGAL
            s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
            try:
                return read()
            finally:
                s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return read_events

    monkeypatch.setattr(registry, "_schema_readers", events_read_by(failing))
    with pytest.raises(RuntimeError):
        register_sources(session, corpus, tables=("events",))
    monkeypatch.setattr(registry, "_schema_readers", events_read_by(refusing))
    view = register_sources(session, corpus, tables=("events",))["events"]
    register_sources_catalog(session, corpus, database=DB, tables=("events",))
    assert dict(view.dtypes)["ts"] == "timestamp_ntz"
    assert dict(session.table(f"{DB}.events_raw").dtypes)["ts"] == "bigint"
    cols = ["event_id", "ts"]
    assert (
        view.select(*cols).orderBy("event_id").collect()
        == session.table(f"{DB}.events").select(*cols).orderBy("event_id").collect()
    )


# -- the footer schema is the schema Spark's inference gives --------------


def _assert_reads_as_inferred(s, path: str, partitioned: bool = False) -> None:
    """The footer schema, read with no Spark job, equals inference's: as
    it is (the data columns) and as the schema of a read that is given
    it (partition columns appended by Spark's discovery)."""
    with job_ids(s) as jobs:
        schema = _footer_schema(s, path)
        given = s.read.schema(schema).parquet(path).schema
    assert jobs == []
    inferred = s.read.parquet(path).schema
    assert given == inferred
    if not partitioned:
        assert schema == inferred


def test_footer_schema_matches_inference_for_every_source(session, sf_small):
    """Every source at every scale factor beside ``sf_small``."""
    for sf_dir in sorted(glob.glob(os.path.join(os.path.dirname(sf_small), "sf*"))):
        for name in SOURCE_TABLES:
            _assert_reads_as_inferred(session, os.path.join(sf_dir, f"{name}.parquet"))


@pytest.mark.parametrize("ntz", ["true", "false"])
def test_footer_schema_follows_the_session_parquet_confs(session, corpus, tmp_path, ntz):
    """``timestamp[ns]`` under nanosAsLong, and the same error as
    inference without it; INT96, zone-less and UTC timestamps under
    either inferTimestampNTZ."""
    session.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", ntz)
    events = os.path.join(corpus, "events.parquet")
    _assert_reads_as_inferred(session, events)
    assert _footer_schema(session, events)["ts"].dataType.simpleString() == "bigint"
    ts = [datetime.datetime(2024, 1, 2, 3, 4, 5, 678901)]
    path = str(tmp_path / "timestamps.parquet")
    pq.write_table(
        pa.table({"local": pa.array(ts, pa.timestamp("us")),
                  "utc": pa.array(ts, pa.timestamp("us", tz="UTC"))}),
        path,
    )
    _assert_reads_as_inferred(session, path)
    pq.write_table(pa.table({"int96": pa.array(ts, pa.timestamp("us"))}), path,
                   use_deprecated_int96_timestamps=True)
    _assert_reads_as_inferred(session, path)
    session.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
        session.read.parquet(events)
    with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
        _footer_schema(session, events)


def _spark_frame(s):
    return s.createDataFrame(
        [
            (i, f"s{i}", Decimal(f"{i}.25"), datetime.date(2024, 1, i + 1),
             datetime.datetime(2024, 1, 1, i), [i, i + 1], {"k": i}, (i, f"n{i}"), i % 2)
            for i in range(6)
        ],
        "id long, s string, d decimal(10,2), day date, ts timestamp_ntz, "
        "xs array<int>, m map<string,int>, st struct<a:int,b:string>, p int",
    ).withMetadata("s", {"comment": "kept in Spark's row metadata"})


def test_footer_schema_of_a_spark_written_file_and_directory(session, tmp_path, ddl):
    out = str(tmp_path / "spark_written")
    _spark_frame(session).coalesce(1).write.parquet(out)
    assert os.path.exists(os.path.join(out, "_SUCCESS"))  # skipped, like the .crc files
    (part,) = glob.glob(os.path.join(out, "part-*.parquet"))
    _assert_reads_as_inferred(session, part)
    _assert_reads_as_inferred(session, out)
    assert _footer_schema(session, out)["s"].metadata == {"comment": "kept in Spark's row metadata"}
    # as a source: the column comment round-trips through the catalog
    # table's DDL, so a repeat registration finds the table current
    os.rename(out, tmp_path / "region.parquet")
    for _ in range(2):
        register_sources_catalog(session, str(tmp_path), database=DB, tables=("region",))
    assert ddl == [f"CREATE {DB}.region"]
    assert session.table(f"{DB}.region").schema["s"].metadata == {
        "comment": "kept in Spark's row metadata"
    }


def test_footer_schema_of_a_directory_of_parts(session, tmp_path):
    """Spark's non-merging rule: the first data file by path decides,
    and the names its listing skips (``_``/``.`` prefixes) are skipped
    even where they sort first."""
    d = tmp_path / "parts"
    (d / "_temporary").mkdir(parents=True)
    pq.write_table(pa.table({"a": [1]}), d / "part-1.parquet")
    pq.write_table(pa.table({"a": [2], "b": ["x"]}), d / "part-0.parquet")
    for hidden in ("_temporary/part-00.parquet", ".part-00.parquet", "_part-00.parquet"):
        pq.write_table(pa.table({"z": [0.5]}), d / hidden)
    _assert_reads_as_inferred(session, str(d))
    assert _footer_schema(session, str(d)).fieldNames() == ["a", "b"]


def test_footer_schema_of_a_hive_partitioned_directory(session, tmp_path):
    out = str(tmp_path / "partitioned")
    _spark_frame(session).write.partitionBy("p").parquet(out)
    _assert_reads_as_inferred(session, out, partitioned=True)
    assert "p" not in _footer_schema(session, out).fieldNames()


# -- catalog DDL runs only for a table that changed ------------------------


@pytest.fixture()
def ddl(session, monkeypatch):
    """``"DROP <name>"``/``"CREATE <name>"`` for each table or view
    statement ``session`` issues."""
    seen: list[str] = []
    sql = session.sql

    def counted_sql(query, *args, **kwargs):
        m = re.match(r"\s*(DROP|CREATE)\b.*?\b(?:TABLE|VIEW)\s+(?:IF EXISTS\s+)?(\S+)", query)
        if m:
            seen.append(f"{m[1]} {m[2]}")
        return sql(query, *args, **kwargs)

    monkeypatch.setattr(session, "sql", counted_sql)
    return seen


def test_catalog_ddl_runs_only_for_changed_tables(session, corpus, sf_medium, ddl):
    register_sources_catalog(session, corpus, database=DB)
    tables = [f"{DB}.{'events_raw' if n == 'events' else n}" for n in SOURCE_TABLES]
    assert sorted(ddl) == sorted(f"CREATE {t}" for t in [*tables, f"{DB}.events"])
    ddl.clear()
    register_sources_catalog(session, corpus, database=DB)
    assert ddl == []  # warm: nothing changed

    register_sources_catalog(session, sf_medium, database=DB, tables=("orders",))
    assert ddl == [f"DROP {DB}.orders", f"CREATE {DB}.orders"]  # repointed
    assert session.table(f"{DB}.orders").count() == _rows(
        os.path.join(sf_medium, "orders.parquet")
    )
    ddl.clear()

    path = os.path.join(corpus, "region.parquet")
    t = pq.read_table(path)
    _rewrite(path, t.append_column("r_extra", pa.array(range(t.num_rows))))
    register_sources_catalog(session, corpus, database=DB)
    # re-schema'd region, and orders pointed back at the corpus
    assert ddl == [
        f"DROP {DB}.region", f"CREATE {DB}.region", f"DROP {DB}.orders", f"CREATE {DB}.orders",
    ]
    assert "r_extra" in session.table(f"{DB}.region").columns
    session.sql(f"DROP VIEW {DB}.events")
    ddl.clear()
    register_sources_catalog(session, corpus, database=DB)
    assert ddl == [f"CREATE {DB}.events"]  # only the missing view
    ddl.clear()

    # a column type changes, the names do not: the view follows the table
    path = os.path.join(corpus, "events.parquet")
    t = pq.read_table(path)
    _rewrite(path, t.set_column(t.schema.get_field_index("value"), "value",
                                t.column("value").cast(pa.float32())))
    register_sources_catalog(session, corpus, database=DB)
    assert ddl == [f"DROP {DB}.events_raw", f"CREATE {DB}.events_raw", f"CREATE {DB}.events"]
    assert dict(session.table(f"{DB}.events").dtypes)["value"] == "float"


def test_file_rewritten_in_place_with_its_schema_is_read_again(session, corpus, ddl):
    """Same schema, more rows: the table is created again, in this
    session or in another one sharing the catalog, and this session's
    next query lists the new file (one row group per copy, so a stale
    file length would drop the last ones)."""
    path = os.path.join(corpus, "orders.parquet")
    register_sources(session, corpus)
    register_sources_catalog(session, corpus, database=DB)
    t = pq.read_table(path)
    assert session.table(f"{DB}.orders").count() == t.num_rows
    for copies in (2, 3):
        _rewrite(path, pa.concat_tables([t] * copies), row_group_size=t.num_rows)
        ddl.clear()
        if copies == 3:  # created again there, so current here
            register_sources_catalog(session.newSession(), corpus, database=DB)
        register_sources(session, corpus)
        register_sources_catalog(session, corpus, database=DB)
        assert ddl == ([f"DROP {DB}.orders", f"CREATE {DB}.orders"] if copies == 2 else [])
        assert session.table("orders").count() == copies * t.num_rows
        assert session.table(f"{DB}.orders").count() == copies * t.num_rows
