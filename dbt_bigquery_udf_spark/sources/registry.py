"""Source registry — the engine's equivalent of dbt's ``source()``.

The reference declares one externally-managed table
(reference: models/udf/source.yml:4-9, ``joshua_dataset.test_table``) and
consumes it via ``{{ source('joshua_dataset', 'test_table') }}``
(reference: models/udf/table_function/test_table_function.sql:12).

Here a "source" is a parquet table under a scale-factor directory
(``sf*/``). Each one is registered twice per session:

- as a session temp view named after the table, so it resolves
  regardless of the current database (TVF calls switch databases; see
  catalog.py). The view is the inferred parquet frame itself: a named
  logical plan over the file scan, so Catalyst still pushes filters and
  column pruning into it;
- as a persistent external table ``src.<table>`` (for ``events``:
  ``src.events_raw`` plus the view ``src.events``), because persistent
  SQL functions may not reference temp views.

Both registrations share ONE schema inference per source and session.
Inference is the only step that runs Spark jobs (one single-task job
per file, reading its parquet footer); the catalog tables are created
with the inferred schema passed explicitly, which runs none. The
inferences a call still needs run concurrently. Their results are
cached on the session and keyed on each data file's (path, size,
mtime_ns) through :func:`corpus_fingerprint`, so a repeat registration
runs no job at all and a file regenerated in place is inferred again.

Scale note: at 100 TB these would be external tables over partitioned
object-store prefixes; registration stays O(metadata). Nothing here
collects data.
"""

from __future__ import annotations

import hashlib
import os
import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

from ..catalog import ensure_database

__all__ = [
    "SOURCE_TABLES",
    "corpus_fingerprint",
    "register_sources",
    "register_sources_catalog",
    "read_source",
    "source_schema",
]

SOURCE_TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Session attribute holding the inferred sources: realpath -> _Source.
# It lives on the session object, so it dies with the session; a
# module-level map would keep every stopped session alive through the
# frames it holds.
_CACHE_ATTR = "_engine_source_cache"
# Held from the cache check to the cache store, so concurrent callers
# share one inference per source instead of each repeating it.
_infer_lock = threading.Lock()


@dataclass(frozen=True)
class _Source:
    path: str  # resolved (os.path.realpath)
    fingerprint: str  # of the file(s) at inference: corpus_fingerprint
    raw: DataFrame | None  # the parquet frame as inferred; None on the Arrow fallback
    view: DataFrame  # what the temp view and read_source serve


def corpus_fingerprint(sf_dir: str, files: Sequence[str]) -> str:
    """Hex fingerprint of a corpus' identity: its absolute path plus
    (relative name, size, mtime_ns) of every parquet data file of the
    named tables. Two directories with the same leaf name but different
    paths — or the same path regenerated with new data — fingerprint
    differently, so an index can only ever be adopted by the corpus it
    was built from, and a source is inferred again once its files
    change. O(#files) stat calls, no data reads."""
    h = hashlib.md5(os.path.abspath(sf_dir).encode())
    for name in files:
        p = os.path.join(sf_dir, name)
        data: list[str] = []
        if os.path.isdir(p):
            for root, _, fs in os.walk(p):
                data += [
                    os.path.join(root, f)
                    for f in fs
                    if f.endswith(".parquet")
                ]
        elif os.path.exists(p):
            data = [p]
        for q in sorted(data):
            st = os.stat(q)
            h.update(
                f"{os.path.relpath(q, sf_dir)}:{st.st_size}:"
                f"{st.st_mtime_ns}".encode()
            )
    return h.hexdigest()[:10]


def _events_ts_sql(raw_dtypes: dict[str, str]) -> str:
    """``events.parquet`` carries a ``timestamp[ns]`` column (``ts``).

    With ``spark.sql.legacy.parquet.nanosAsLong=true`` it reads as bigint
    nanoseconds; convert back to a civil timestamp (session TZ is UTC so
    the wall-clock value matches DuckDB's native nanosecond read,
    truncated to microseconds — Spark's timestamp precision). Integer
    DIV, not '/': double division loses precision at epoch-nanos
    magnitude (~1.7e18 > 2^53)."""
    if raw_dtypes.get("ts") in ("bigint", "long"):
        return "CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)"
    return "CAST(ts AS TIMESTAMP_NTZ)"


def _infer(spark: SparkSession, path: str, name: str) -> tuple[DataFrame | None, DataFrame]:
    """Infer one source's schema (one Spark job); returns ``(raw, view)``."""
    from pyspark.sql import functions as F

    try:
        raw = spark.read.parquet(path)
    except Exception:
        if name != "events" or not os.path.exists(path):
            raise
        # Foreign session that rejects nanos parquet: rewrite via Arrow
        # (small-table path only; the conf path is the scale path).
        import pyarrow as pa
        import pyarrow.dataset as ds

        table = ds.dataset(path).to_table()
        idx = table.schema.get_field_index("ts")
        table = table.set_column(idx, "ts", table.column("ts").cast(pa.timestamp("us")))
        view = spark.createDataFrame(table.to_pandas())
        return None, view.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    dtypes = dict(raw.dtypes)
    if name == "events" and dtypes.get("ts") in ("bigint", "long"):
        return raw, raw.withColumn("ts", F.expr(_events_ts_sql(dtypes)))
    return raw, raw


def _infer_all(
    spark: SparkSession, paths: dict[str, str]
) -> dict[str, tuple[DataFrame | None, DataFrame]]:
    """Infer every named source at once, one pool thread each. The
    threads carry the caller's job group, tags and local properties, so
    their jobs are attributed to the caller."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass

    def infer(n: str) -> tuple[DataFrame | None, DataFrame]:
        return _infer(spark, paths[n], n)

    if len(paths) == 1:
        return {n: infer(n) for n in paths}
    wrap = inheritable_thread_target(spark)
    if wrap is not spark:  # returned as is when pinned-thread mode is off
        infer = wrap(infer)
    with ThreadPoolExecutor(max_workers=len(paths)) as pool:
        return dict(zip(paths, pool.map(infer, paths)))


def _sources(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...]
) -> dict[str, _Source]:
    """The inferred sources for ``tables``, inferring only those this
    session has not seen at their current (path, size, mtime_ns). A
    missing file raises here (an explicit-schema CREATE over it would
    succeed silently)."""
    # resolved, so a source symlinked into several sf dirs is inferred once
    paths = {n: os.path.realpath(os.path.join(sf_dir, f"{n}.parquet")) for n in tables}
    with _infer_lock:
        cache: dict[str, _Source] = vars(spark).setdefault(_CACHE_ATTR, {})
        fps = {
            n: corpus_fingerprint(os.path.dirname(p), [os.path.basename(p)])
            for n, p in paths.items()
        }
        stale = {
            n: p
            for n, p in paths.items()
            if (hit := cache.get(p)) is None or hit.fingerprint != fps[n]
        }
        if stale:
            for n, (raw, view) in _infer_all(spark, stale).items():
                cache[paths[n]] = _Source(paths[n], fps[n], raw, view)
        return {n: cache[paths[n]] for n in tables}


def read_source(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return _sources(spark, sf_dir, (name,))[name].view


def source_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The schema of ``name``'s parquet file as this session inferred it
    (raw, before the temp view's ``ts`` conversion), so a stream over the
    same file reads it without another footer job."""
    src = _sources(spark, sf_dir, (name,))[name]
    return (src.view if src.raw is None else src.raw).schema


def register_sources(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    tables: tuple[str, ...] = SOURCE_TABLES,
) -> dict[str, DataFrame]:
    """Register every source parquet as a temp view named after the table.

    Idempotent (``createOrReplaceTempView``) so driver re-entry at a
    different scale factor just repoints the views.
    """
    out: dict[str, DataFrame] = {}
    for name, src in _sources(spark, sf_dir, tables).items():
        src.view.createOrReplaceTempView(name)
        out[name] = src.view
    return out


def register_sources_catalog(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    database: str = "src",
    tables: tuple[str, ...] = SOURCE_TABLES,
) -> None:
    """Register sources as *persistent* external tables in ``database``.

    Persistent SQL functions (the engine's UDF/TVF materializations) may
    not reference temp views (probed on 4.1.2: INVALID_TEMP_OBJ_REFERENCE),
    so model-facing sources are external parquet tables — zero-copy DDL
    over the files, exactly how the reference treats its source as an
    externally-managed BigQuery table
    (reference: models/udf/source.yml:4-9). Each table is created with
    the schema the temp view was inferred with, so this runs no Spark
    job when :func:`register_sources` already ran in the session.

    ``events`` needs a nanosecond conversion (see :func:`_events_ts_sql`),
    expressed as a persistent view over the raw external table so the
    transformation stays declarative and pushdown-friendly.

    Idempotent; re-registering against a different ``sf_dir`` repoints
    every table. Scale note: at 100 TB these CREATEs point at partitioned
    object-store prefixes — still O(metadata).
    """
    ensure_database(spark, database)
    for name, src in _sources(spark, sf_dir, tables).items():
        table = f"{database}.{'events_raw' if name == 'events' else name}"
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        if src.raw is None:
            # Arrow fallback: no Spark-readable schema to pass; the
            # CREATE infers it (and fails where the read failed)
            spark.sql(f"CREATE TABLE {table} USING parquet LOCATION '{src.path}'")
            raw_schema = spark.table(table).schema
        else:
            raw_schema = src.raw.schema
            spark.catalog.createTable(table, path=src.path, source="parquet", schema=raw_schema)
        if name == "events":
            ts_sql = _events_ts_sql({f.name: f.dataType.simpleString() for f in raw_schema})
            cols = ", ".join(
                f"{ts_sql} AS ts" if f.name == "ts" else f"`{f.name}`" for f in raw_schema
            )
            spark.sql(f"CREATE OR REPLACE VIEW {database}.events AS SELECT {cols} FROM {table}")
