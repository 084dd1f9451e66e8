"""Source registry: one schema inference per source and session, shared
by the temp views and the ``src`` catalog tables.

Each test works in its own ``newSession()`` (temp views and the
registry's cache are per session) and, except the bootstrap test, in
its own catalog database, so the shared ``src`` tables other tests read
are left alone.
"""

from __future__ import annotations

import os
import shutil
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.util import inheritable_thread_target

from dbt_bigquery_udf_spark import api
from dbt_bigquery_udf_spark.sources.registry import (
    SOURCE_TABLES,
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


def test_bootstrap_infers_each_source_once_per_session(spark, sf_small):
    """A fresh session's bootstrap runs one job per source (the schema
    inference, shared by both registrations); a repeat runs none."""
    s = spark.newSession()
    try:
        with job_ids(s) as first:
            api.bootstrap(s, sf_small)
        with job_ids(s) as second:
            api.bootstrap(s, sf_small)
    finally:
        # the src tables are session-global: make the next
        # prepared_engine rebuild instead of trusting its memo
        api._session_sf.clear()
    assert len(first) == len(SOURCE_TABLES) == 10
    assert second == []


def test_concurrent_registrations_share_one_inference(spark, sf_small):
    """Callers racing on a fresh session (more threads than cores,
    frequent thread switches) still infer each source once."""
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
    assert len(jobs) == len(SOURCE_TABLES)
    assert all(v["orders"] is views[0]["orders"] for v in views)


def test_view_and_catalog_schemas_match(session, corpus):
    register_sources(session, corpus)
    with job_ids(session) as jobs:
        register_sources_catalog(session, corpus, database=DB)
    assert jobs == []  # the catalog reuses the temp views' inference
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
    pq.write_table(t.append_column("r_extra", pa.array(range(t.num_rows))), path)
    st = os.stat(path)  # a distinct mtime even on a coarse-clock filesystem
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    with job_ids(session) as jobs:
        register_sources(session, corpus)
        register_sources_catalog(session, corpus, database=DB)
    assert len(jobs) == 1  # region only
    assert "r_extra" in session.table("region").columns
    assert "r_extra" in session.table(f"{DB}.region").columns
    assert session.table(f"{DB}.region").count() == t.num_rows


def test_symlinked_sources_share_their_target_inference(session, sf_small, tmp_path):
    register_sources(session, sf_small)
    for name in SOURCE_TABLES:
        os.symlink(os.path.join(sf_small, f"{name}.parquet"), tmp_path / f"{name}.parquet")
    with job_ids(session) as jobs:
        register_sources(session, str(tmp_path))
    assert jobs == []


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
