"""Source registry — the engine's equivalent of dbt's ``source()``.

The reference declares one externally-managed table
(reference: models/udf/source.yml:4-9, ``joshua_dataset.test_table``) and
consumes it via ``{{ source('joshua_dataset', 'test_table') }}``
(reference: models/udf/table_function/test_table_function.sql:12).

Here a "source" is a parquet table under a scale-factor directory
(``sf*/``). Each one is registered twice per session:

- as a session temp view named after the table, so it resolves
  regardless of the current database (TVF calls switch databases; see
  catalog.py). The view is the parquet frame itself: a named logical
  plan over the file scan, so Catalyst still pushes filters and column
  pruning into it;
- as a persistent external table ``src.<table>`` (for ``events``:
  ``src.events_raw`` plus the view ``src.events``), because persistent
  SQL functions may not reference temp views.

Both registrations share ONE schema read per source and session, and
neither runs a Spark job. The schema comes from the parquet footer,
read on the driver and converted by Spark's own parquet schema
converter, which is what Spark's inference job runs in its one task;
the view reads the file with that schema given, so Spark does not infer
it again. The catalog tables are created with the same schema and
record the source files' fingerprint; one is dropped and created again
only when it is missing or its fingerprint or schema differs, so a warm
re-registration runs no DDL and a file rewritten in place gets a new
table. The schemas are cached on the session and keyed on each data
file's (path, size, mtime_ns) through :func:`corpus_fingerprint`, so a
repeat registration reads no footer and a file regenerated in place is
read again.

Scale note: at 100 TB these would be external tables over partitioned
object-store prefixes; registration stays O(metadata). Nothing here
collects data.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import threading
from dataclasses import dataclass
from typing import Callable, Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_json_string

from ..catalog import ensure_database

__all__ = [
    "SOURCE_TABLES",
    "corpus_fingerprint",
    "listed_files",
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

# Session attribute holding the read sources: realpath -> _Source.
# It lives on the session object, so it dies with the session; a
# module-level map would keep every stopped session alive through the
# frames it holds.
_CACHE_ATTR = "_engine_source_cache"
# Held from the cache check to the cache store, so concurrent callers
# share one schema read per source instead of each repeating it.
_infer_lock = threading.Lock()


@dataclass(frozen=True)
class _Source:
    path: str  # resolved (os.path.realpath)
    fingerprint: str  # of the file(s) at the schema read: corpus_fingerprint
    raw: DataFrame | None  # the parquet frame as read; None on the Arrow fallback
    view: DataFrame  # what the temp view and read_source serve


def corpus_fingerprint(sf_dir: str, files: Sequence[str]) -> str:
    """Hex fingerprint of a corpus' identity: its absolute path plus
    (relative name, size, mtime_ns) of every file Spark reads of the
    named tables (:func:`listed_files`). Two directories with the same
    leaf name but different paths — or the same path regenerated with
    new data — fingerprint differently, so an index can only ever be
    adopted by the corpus it was built from, and a source's schema is
    read again once its files change. O(#files) stat calls, no data
    reads."""
    h = hashlib.md5(os.path.abspath(sf_dir).encode())
    for name in files:
        for q in listed_files(os.path.join(sf_dir, name)):
            st = os.stat(q)
            h.update(
                f"{os.path.relpath(q, sf_dir)}:{st.st_size}:"
                f"{st.st_mtime_ns}".encode()
            )
    return h.hexdigest()[:10]


def _hidden(name: str) -> bool:
    """Whether Spark's file listing skips ``name`` (its
    ``shouldFilterOutPathName``): ``_``/``.`` names other than partition
    directories and the parquet summary files, and copies in flight."""
    return not name.startswith(("_common_metadata", "_metadata")) and (
        name[:1] == "." or (name[:1] == "_" and "=" not in name) or name.endswith("._COPYING_")
    )


def listed_files(path: str) -> list[str]:
    """The files Spark lists for a local ``path``, sorted: ``path``
    itself if it is a file, else every file under it with no name that
    Spark's listing skips on the way (see :func:`_hidden`); none if it
    is missing."""
    if not os.path.isdir(path):
        return [path] if os.path.exists(path) else []
    out: list[str] = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        out += [os.path.join(root, f) for f in names if not _hidden(f)]
    return sorted(out)


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


def _schema_readers(spark: SparkSession, paths: list[str]) -> list[Callable[[], StructType]]:
    """For each of ``paths``, a call that returns the data schema Spark's
    parquet inference gives it, with no Spark job. Spark's non-merging
    rule picks one file per path (the first summary file,
    ``_common_metadata`` before ``_metadata``, else the first data
    file); those footers are all read here, on the driver, in one call.
    Each returned call converts its own footer with
    ``ParquetFileFormat.readSchema``, which honours the session's
    parquet confs (nanosAsLong, inferTimestampNTZ, INT96,
    binaryAsString) and Spark's own row metadata as the inference job
    does, so a file whose types the session refuses fails alone.
    Partition columns are not in the schema: a read with it given
    discovers and appends them, as inference does. A missing or empty
    path raises Spark's own AnalysisException here."""
    rank = {"_common_metadata": 0, "_metadata": 1}
    files = [
        min(listed_files(p), key=lambda f: rank.get(os.path.basename(f), 2), default=None)
        for p in paths
    ]
    if missing := [p for p, f in zip(paths, files) if f is None]:
        spark.read.parquet(*missing)
    jvm, session = spark._jvm, spark._jsparkSession
    conf, fs = session.sessionState().newHadoopConf(), jvm.org.apache.hadoop.fs
    status = fs.FileSystem.getLocal(conf).getFileStatus
    fmt = getattr(
        getattr(jvm.org.apache.spark.sql.execution.datasources.parquet, "ParquetFileFormat$"),
        "MODULE$",
    )
    footers = fmt.readParquetFootersInParallel(
        conf, jvm.PythonUtils.toSeq([status(fs.Path(f)) for f in files]), False
    )
    return [
        lambda i=i: _parse_datatype_json_string(
            fmt.readSchema(footers.slice(i, i + 1), session).get().json()
        )
        for i in range(len(files))
    ]


def _infer(
    spark: SparkSession, path: str, name: str, schema: Callable[[], StructType]
) -> tuple[DataFrame | None, DataFrame]:
    """One source's frames, given its schema reader; returns ``(raw, view)``."""
    from pyspark.sql import functions as F

    try:
        raw = spark.read.schema(schema()).parquet(path)
    except AnalysisException as e:
        if name != "events" or e.getCondition() != "PARQUET_TYPE_ILLEGAL":
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


def _sources(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...]
) -> dict[str, _Source]:
    """The sources for ``tables``, reading the footer of only those this
    session has not seen at their current (path, size, mtime_ns), all
    in one driver-side call. A missing file raises here (an
    explicit-schema CREATE over it would succeed silently)."""
    # resolved, so a source symlinked into several sf dirs is read once
    paths = {n: os.path.realpath(os.path.join(sf_dir, f"{n}.parquet")) for n in tables}
    with _infer_lock:
        cache: dict[str, _Source] = vars(spark).setdefault(_CACHE_ATTR, {})
        fps = {
            n: corpus_fingerprint(os.path.dirname(p), [os.path.basename(p)])
            for n, p in paths.items()
        }
        stale = [
            n
            for n, p in paths.items()
            if (hit := cache.get(p)) is None or hit.fingerprint != fps[n]
        ]
        if stale:
            with contextlib.suppress(Exception):  # a foreign session may refuse it
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            for n, schema in zip(stale, _schema_readers(spark, [paths[n] for n in stale])):
                cache[paths[n]] = _Source(paths[n], fps[n], *_infer(spark, paths[n], n, schema))
        return {n: cache[paths[n]] for n in tables}


def read_source(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return _sources(spark, sf_dir, (name,))[name].view


def source_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The schema of ``name``'s parquet file as this session read it
    (raw, before the temp view's ``ts`` conversion), so a stream over the
    same file reads it without reading the footer again."""
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
    views = {name: src.view for name, src in _sources(spark, sf_dir, tables).items()}
    for name, view in views.items():
        view.createOrReplaceTempView(name)
    return views


def _made_from(entry, src: _Source) -> bool:
    """Whether catalog ``entry`` (a JVM ``CatalogTable``) was created over
    ``src``'s files as they are now, with the schema this session reads
    them with. The fingerprint it records covers the files' path, size
    and mtime, so a repointed table and a file rewritten in place both
    read as changed."""
    return entry.storage().properties().get("source_fingerprint").contains(src.fingerprint) and (
        _parse_datatype_json_string(entry.schema().json()) == src.raw.schema
    )


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
    the footer schema the temp view reads with and records the source
    files' fingerprint (storage option ``source_fingerprint``). A table
    that is missing, or whose fingerprint or schema differs from the
    source's, is dropped (if present) and created again; one that
    matches is left alone. No Spark job runs, and a warm re-registration
    runs no DDL.

    ``events`` needs a nanosecond conversion (see :func:`_events_ts_sql`),
    expressed as a persistent view over the raw external table so the
    transformation stays declarative and pushdown-friendly; the view is
    replaced whenever ``events_raw`` is created, and created when missing.

    Idempotent; re-registering against a different ``sf_dir`` repoints
    every table. Scale note: at 100 TB these CREATEs point at partitioned
    object-store prefixes — still O(metadata).
    """
    ensure_database(spark, database)
    state = spark._jsparkSession.sessionState()
    catalog, parse = state.catalog(), state.sqlParser().parseTableIdentifier
    for name, src in _sources(spark, sf_dir, tables).items():
        table = f"{database}.{'events_raw' if name == 'events' else name}"
        ident = parse(table)
        exists = catalog.tableExists(ident)
        # the Arrow fallback has no schema to compare: always created
        current = (
            exists and src.raw is not None and _made_from(catalog.getTableMetadata(ident), src)
        )
        if current:
            # another session may have created it again since this one
            # resolved it: resolve it afresh on next use
            catalog.invalidateCachedTable(ident)
        else:
            if exists:
                spark.sql(f"DROP TABLE IF EXISTS {table}")
            # the footer schema as DDL (column comments kept, other field
            # metadata not); with none (the Arrow fallback) the CREATE
            # infers it, and fails where the read failed
            columns = "" if src.raw is None else f"({src.raw.schema.toDDL()})"
            spark.sql(
                f"CREATE TABLE {table} {columns} USING parquet LOCATION '{src.path}' "
                f"OPTIONS (source_fingerprint '{src.fingerprint}')"
            )
        if name == "events" and not (current and catalog.tableExists(parse(f"{database}.events"))):
            raw_schema = spark.table(table).schema if src.raw is None else src.raw.schema
            ts_sql = _events_ts_sql({f.name: f.dataType.simpleString() for f in raw_schema})
            cols = ", ".join(
                f"{ts_sql} AS ts" if f.name == "ts" else f"`{f.name}`" for f in raw_schema
            )
            spark.sql(f"CREATE OR REPLACE VIEW {database}.events AS SELECT {cols} FROM {table}")
