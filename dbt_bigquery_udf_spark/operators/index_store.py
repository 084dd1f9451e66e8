"""The persisted-index lifecycle, implemented once for every index family.

Operators own on-disk index state: the near-dup LSH index
(``sigs``/``bands``, key ``doc_id``), the exact-hash ledger
(``hashes``, never forgets), the erasable exact state (``doc_hashes``,
key ``doc_id``) and the trained IVF indexes (``centroids``/``assign``,
key ``vec_id``). Each family passes its own table names, schemas and key
column to the functions here; none re-implements a step.

**Bootstrap** (:func:`ensure_tables`): registered tables ARE the
artifact, so a repeat build touches nothing; a fresh session over a warm
warehouse (empty catalog, leftover parquet at the database location)
ADOPTS the files by location instead of recomputing them; an adopted
table whose columns miss the current contract is cleared and rebuilt;
a half-written group is cleared as a whole and rebuilt. A bare
``saveAsTable`` over a warm warehouse dies with LOCATION_ALREADY_EXISTS,
which is why no operator bootstraps its own tables.

**Layers.** A logical index is a BASE plus, optionally, a DELTA database
holding the same tables, plus a ``<db>.tombstones`` table of erased keys.
Every read (:func:`read_live`) is the union of the layers minus the
tombstones of every layer, so:

* an admission APPENDS to the delta only (O(|batch|));
* an erasure (:func:`forget`) APPENDS keys to the tombstones only
  (O(|forgotten|), the Iceberg delete-file shape);
* maintenance folds the delta into the base (:func:`fold_delta`, by
  moving parquet files, zero write jobs: each row sits in exactly one
  layer at every instant) and folds the tombstones into a rewrite of the
  base (:func:`fold_tombstones`: ``recover_staged``, a
  :func:`staged_overwrite` of each table minus the tombstones, THEN the
  tombstones are emptied; a crash in between leaves tombstones for rows
  already gone, and anti-joining absent keys is a no-op);
* :func:`maybe_fold_delta` is the size-ratio (LSM) trigger that runs the
  delta fold once ``|delta| >= ratio * |base|``.

Readers never see a lost row, and at worst see a row twice while a fold
is mid-way (candidate dedup and the duplicate-tolerant exact probe absorb
that). Writers that mutate a layered index hold the base layer's
cross-process maintenance lease (:mod:`.lease`) plus ``catalog_lock``,
and fence each destructive step with ``lease.renew()``/``lease.check()``.
Tables are emptied by deleting their data files in place
(:func:`empty_table`), which works on managed and EXTERNAL tables alike;
``TRUNCATE TABLE`` is rejected on the EXTERNAL tables adoption creates.

**Bookkeeping without Spark jobs.** A table's row count
(:func:`row_count`) is the sum of its part files' parquet-footer row
counts, and a table copy (:func:`clone_table`) hardlinks the source's
part files and registers them by location, so neither starts a job.

**Per-run scratch** (:func:`reset_scratch`): the streaming gates'
per-run delta and tombstone tables are emptied in place, or created
empty; scratch left by another process is cleared, never adopted. Their
staged arrival files and parquet sinks are directories under
``.stream-staging``, named by :func:`.streams.scratch_dir`.

**Model tables** commit here too, one protocol per kind of write. A
model rewritten in place from a frame that reads it (a snapshot's SCD2
step, an unpartitioned ``merge`` or ``delete_keys``) is a
:func:`staged_overwrite`, and the build runs :func:`recover_staged`
first, so a rewrite cut short is finished rather than mistaken for a
missing table. A model dropped and re-created (tables, copies, seeds,
python models, first incremental and snapshot runs, full refreshes,
stored test failures, expired tables) is cleared by
:func:`clear_tables`. Plain parquet has no MERGE: Delta/Iceberg MERGE is
the drop-in upgrade and would replace only the staged rewrite.

**Corpus identity** (:func:`index_db_name`): the database name embeds a
fingerprint of the corpus (absolute path plus size and mtime_ns of every
data file), so two corpora that share a leaf directory name, or a corpus
regenerated in place, can never adopt each other's index. A changed
corpus resolves to a new database; stale ones are swept by ``bench.py
--fresh-indexes``.
"""

from __future__ import annotations

import functools
import os
import re
import shutil
from typing import Callable, Iterable, Mapping, Sequence

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import catalog_lock, ensure_database
from ..sources.registry import corpus_fingerprint
from .lease import maintenance_lease
from .util import local_rows_df

__all__ = [
    "corpus_fingerprint",
    "index_db_name",
    "db_location",
    "db_dir",
    "ensure_tables",
    "clear_tables",
    "staged_overwrite",
    "recover_staged",
    "snapshot_tables",
    "restore_snapshot",
    "drop_snapshot",
    "move_table_files",
    "clone_table",
    "row_count",
    "empty_table",
    "reset_scratch",
    "read_live",
    "forget",
    "fold_delta",
    "fold_tombstones",
    "maybe_fold_delta",
    "AUTO_COMPACT_RATIO",
]

STAGE_COMPLETE_MARKER = "_STAGE_COMPLETE"
SNAP_COMPLETE_MARKER = "_SNAP_COMPLETE"
_SNAP_DIR = "_pristine"


def index_db_name(prefix: str, sf_dir: str, files: Sequence[str]) -> str:
    """Warehouse database name for a persisted index over ``sf_dir``:
    ``<prefix>_<leaf tag>_<corpus fingerprint>``. The human-readable tag
    aids debugging; the fingerprint carries the identity guarantee."""
    tag = re.sub(r"[^0-9A-Za-z]+", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    return f"{prefix}_{tag}_{corpus_fingerprint(sf_dir, files)}"


def _ensure_db(spark: SparkSession, db: str) -> None:
    """:func:`ensure_database` (runs on every ensure/recover/reset,
    several times per lifecycle query), forgetting any cached location
    of a database it had to create."""
    if ensure_database(spark, db):
        _DB_LOCATION_CACHE.pop((_warehouse(spark), db), None)


_DB_LOCATION_CACHE: dict[tuple[str, str], str] = {}


def invalidate_db_location(db: str) -> None:
    """Drop ``db``'s cached location (every warehouse). Call wherever a
    ``DROP DATABASE`` can occur (ADVICE r11): a database re-created at a
    different (custom LOCATION) path must not have the old path served —
    ``clear_tables`` deletes files at the cached location. All package
    creates go through ``_ensure_db`` (which pops on create); this
    covers external droppers (bench.py, scripts)."""
    for key in [k for k in _DB_LOCATION_CACHE if k[1] == db]:
        _DB_LOCATION_CACHE.pop(key, None)


def _warehouse(spark: SparkSession) -> str:
    return spark.conf.get("spark.sql.warehouse.dir", "")


def db_location(spark: SparkSession, db: str) -> str:
    """The database's warehouse location URI (``file:/...``), read from
    the catalog (no Spark job) and cached per (warehouse, db): a
    database's location never changes while it exists, and every
    re-create lands at the same derived location."""
    key = (_warehouse(spark), db)
    loc = _DB_LOCATION_CACHE.get(key)
    if loc is None:
        loc = spark.catalog.getDatabase(db).locationUri
        _DB_LOCATION_CACHE[key] = loc
    return loc


def db_dir(spark: SparkSession, db: str) -> str:
    """The database's directory on the local filesystem. Raises, naming
    the URI, when the location is not ``file:``: the rename, hardlink
    and file-move commits assume one local POSIX volume."""
    loc = db_location(spark, db)
    if not loc.startswith("file:"):
        raise RuntimeError(
            f"database {db} is at {loc}: index and table commits need a "
            "local (file:) warehouse"
        )
    return loc.removeprefix("file:")


def clear_tables(spark: SparkSession, db: str, tables: Iterable[str]) -> None:
    """Drop the named tables AND their location directories (a prior
    PROCESS's files survive a catalog-only drop and would otherwise be
    adopted — by design; an EXTERNAL table's drop keeps its files).
    Safe on half-written groups. The one drop for every index table and
    every model table the engine replaces. ``db`` must exist: every
    caller has already ensured it, so no second probe is paid here."""
    with catalog_lock:
        for t in tables:
            path = _table_dir(spark, db, t)
            spark.sql(f"DROP TABLE IF EXISTS {db}.{t}")
            shutil.rmtree(path, ignore_errors=True)


def staged_overwrite(spark: SparkSession, db: str, table: str, df) -> None:
    """Crash-DURABLE rewrite of ``db.table`` with ``df``'s rows, for the
    tombstone folds: a bare ``mode('overwrite').saveAsTable`` first
    drops the old files and only then commits the new ones, so a crash
    in between loses every non-tombstoned base row (ADVICE r8). Here the
    kept rows are fully materialized into ``<table>__staged`` FIRST;
    only then is the stage COMMITTED into the live slot — since round 12
    by a same-volume atomic directory rename (:func:`_commit_stage`),
    not a second Spark write job: the kept bytes are written exactly
    once (guide §6 — at scale the old stage→live copy was a full second
    pass over the table). Every crash window keeps a recovery source:

    * before the stage commits — live table untouched, stale stage
      cleared on the next fold;
    * mid-commit — the staged table (or, post-rename, the live
      directory) holds the complete kept set; :func:`recover_staged`
      (run at the top of every fold) finishes the commit, same-session
      or from a fresh session over the warm warehouse (it adopts an
      on-disk stage the empty catalog doesn't know about);
    * after the commit, before the stage entry drop — finishing the
      commit is idempotent.

    The fold runs under ``catalog_lock`` (the maintenance window), so
    in-process readers never observe the intermediate state; the
    invariant a reader can rely on is "no logical row is ever lost",
    with the tombstone clear deferred until every table folded."""
    staged = f"{table}__staged"
    with catalog_lock:
        clear_tables(spark, db, (staged,))
        df.write.format("parquet").saveAsTable(f"{db}.{staged}")
        # OWN completion marker (ADVICE r10): the recovery gate must not
        # depend on Spark's `_SUCCESS` marker, which a session configured
        # with mapreduce.fileoutputcommitter.marksuccessfuljobs=false
        # never writes — a fully committed stage would then look partial
        # to recover_staged and be deleted inside the one crash window
        # (live table already cleared) where it is the only recovery
        # source. saveAsTable returning implies job commit, so the
        # marker written here is a truthful completeness witness under
        # ANY committer config.
        with open(
            os.path.join(_table_dir(spark, db, staged), STAGE_COMPLETE_MARKER), "w"
        ) as f:
            f.write("complete")
        _commit_stage(spark, db, table)


def _register_external(spark: SparkSession, table: str, schema, location: str) -> None:
    """Catalog an EXTERNAL parquet ``table`` over ``location`` with an
    explicit schema: no inference job, and a directory with zero
    part-files still registers (as an empty table)."""
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    spark.sql(f"CREATE TABLE {table} ({cols}) USING parquet LOCATION '{location}'")


def _commit_stage(spark: SparkSession, db: str, table: str) -> None:
    """Commit a COMPLETE stage into the live slot without rewriting its
    bytes: clear the live table, atomically ``os.rename`` the staged
    directory onto the live path (same volume by construction — both
    live under the database location), register the live table over the
    moved files, and drop the now-dangling stage entry. Replaces the
    pre-round-12 stage→live ``saveAsTable`` copy (a second full write
    job per fold; guide §6). Preconditions: ``db.<table>__staged`` is
    cataloged and its directory holds the complete kept set (the caller
    wrote the completion marker). The live table comes back EXTERNAL
    (``CREATE TABLE ... LOCATION`` with the stage's catalog schema —
    explicit, so an empty kept set whose write produced zero part-files
    still registers); every consumer already handles external relations
    (``ensure_tables`` adoption has produced them since round 8, and
    ``clear_tables`` removes files explicitly).

    Crash windows, each detectable and finished by
    :func:`recover_staged`:

    * after the live clear, before the rename — stage cataloged with
      its directory intact: recovery re-runs this commit;
    * after the rename, before the live re-register — stage cataloged
      but its directory GONE (the rename is the atomic commit point):
      recovery registers the live directory from the stage entry's
      schema and drops the entry;
    * after the re-register, before the stage entry drop — both
      cataloged, stage directory gone: recovery just drops the entry.

    The renamed live directory keeps the stage's completion marker
    (underscore-prefixed, invisible to Spark's file listing) — harmless,
    and a truthful witness that the directory holds a committed set."""
    staged = f"{table}__staged"
    with catalog_lock:
        schema = spark.table(f"{db}.{staged}").schema  # catalog-only read
        live = _table_dir(spark, db, table)
        clear_tables(spark, db, (table,))
        os.rename(_table_dir(spark, db, staged), live)
        _register_external(
            spark, f"{db}.{table}", schema, f"{db_location(spark, db)}/{table.lower()}"
        )
        spark.catalog.refreshTable(f"{db}.{table}")
        # entry only: the managed stage's directory was renamed away, so
        # the drop's file cleanup is a no-op
        spark.sql(f"DROP TABLE IF EXISTS {db}.{staged}")


def recover_staged(
    spark: SparkSession, db: str, tables: Sequence[str]
) -> list[str]:
    """Finish any interrupted :func:`staged_overwrite`: for each table
    whose ``__staged`` copy survives (in the catalog, or as orphaned
    parquet under the database location after a process crash), finish
    the rename commit from it and drop the stage; a stage entry whose
    directory is already gone means the atomic rename landed — recovery
    completes the live registration instead (see :func:`_commit_stage`
    for the window-by-window map). Returns the recovered table names.
    Called at the top of every compaction fold.

    COMPLETENESS GATE (ADVICE r9): an orphaned stage is only adopted
    when its directory carries a completion marker — the engine's own
    ``_STAGE_COMPLETE`` (written by :func:`staged_overwrite` after
    ``saveAsTable`` returns, so it is committer-config-independent), or
    Spark's ``_SUCCESS`` for stages written before the own-marker fix
    (ADVICE r10: with ``marksuccessfuljobs=false`` Spark writes no
    ``_SUCCESS``, and a completed stage must not be mistaken for a
    partial one). A crash DURING the stage write
    leaves part-files but no marker and the live table fully intact —
    replaying such a partial stage over the live table would lose every
    kept row the incomplete write missed, the exact loss
    ``staged_overwrite`` exists to prevent. Incomplete stages are
    cleared and the live table left untouched (the fold that crashed
    simply re-runs from the live state). A CATALOGED stage needs no
    marker check: ``saveAsTable`` registers the table only after its
    write job commits, so catalog presence implies completeness."""
    recovered: list[str] = []
    with catalog_lock:
        _ensure_db(spark, db)
        loc = db_location(spark, db)
        for t in map(str.lower, tables):
            staged = f"{t}__staged"
            sdir = _table_dir(spark, db, staged)
            tdir = _table_dir(spark, db, t)
            if spark.catalog.tableExists(f"{db}.{staged}"):
                if os.path.isdir(sdir):
                    # stage intact (crash before/at the live clear, or
                    # after it): the stage is the source — finish the
                    # rename commit
                    _commit_stage(spark, db, t)
                    recovered.append(t)
                    continue
                # dangling entry: the rename already moved the stage
                # into the live slot (the atomic commit point passed) —
                # finish the registration from the entry's schema and
                # drop the entry
                if os.path.isdir(tdir):
                    if not spark.catalog.tableExists(f"{db}.{t}"):
                        _register_external(
                            spark,
                            f"{db}.{t}",
                            spark.table(f"{db}.{staged}").schema,
                            f"{loc}/{t}",
                        )
                    spark.catalog.refreshTable(f"{db}.{t}")
                    spark.sql(f"DROP TABLE IF EXISTS {db}.{staged}")
                    recovered.append(t)
                continue
            if not os.path.isdir(sdir):
                continue
            complete = os.path.isfile(
                os.path.join(sdir, STAGE_COMPLETE_MARKER)
            ) or os.path.isfile(os.path.join(sdir, "_SUCCESS"))
            if _part_files(sdir) and complete:
                spark.sql(
                    f"CREATE TABLE {db}.{staged} USING parquet "
                    f"LOCATION '{loc}/{staged}'"
                )
                _commit_stage(spark, db, t)
                recovered.append(t)
            else:
                # partial stage (no completion marker): live table is
                # still the source of truth — drop the stale stage
                shutil.rmtree(sdir, ignore_errors=True)
    return recovered


def move_table_files(
    spark: SparkSession,
    src_db: str,
    src_table: str,
    dst_db: str,
    dst_table: str,
) -> int:
    """Append ``src``'s rows to ``dst`` by MOVING its parquet files
    (same-volume ``os.rename`` per file): zero Spark write jobs. Part-file
    names embed task UUIDs, so names cannot collide across layers;
    non-parquet bookkeeping files stay behind. Returns the number of
    files moved. Caller holds the maintenance lease and refreshes both
    tables afterwards."""
    src = _table_dir(spark, src_db, src_table)
    dst = _table_dir(spark, dst_db, dst_table)
    parts = _part_files(src)
    if parts:
        os.makedirs(dst, exist_ok=True)
    for f in parts:
        os.rename(os.path.join(src, f), os.path.join(dst, f))
    return len(parts)


def clone_table(
    spark: SparkSession,
    src_db: str,
    src_table: str,
    dst_db: str,
    dst_table: str,
) -> None:
    """Replace ``dst`` with a copy of ``src`` without a Spark job:
    hardlink ``src``'s part files into ``dst``'s directory and register
    ``dst`` EXTERNAL over them with ``src``'s catalog schema (so a
    source with zero part files clones as an empty table). Parquet files
    are never rewritten in place, so later appends, moves and clears of
    ``src`` leave the clone's rows as they were."""
    schema = spark.table(f"{src_db}.{src_table}").schema  # catalog-only read
    with catalog_lock:
        clear_tables(spark, dst_db, (dst_table,))
        _link_parts(
            _table_dir(spark, src_db, src_table), _table_dir(spark, dst_db, dst_table)
        )
        _register_external(
            spark,
            f"{dst_db}.{dst_table}",
            schema,
            f"{db_location(spark, dst_db)}/{dst_table.lower()}",
        )


def row_count(spark: SparkSession, db: str, table: str) -> int:
    """``db.table``'s rows on disk, summed from its part files' parquet
    footers: no Spark job. Reads the table's directory, not the
    catalog's cached file listing."""
    path = _table_dir(spark, db, table)
    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows for f in _part_files(path)
    )


def _table_dir(spark: SparkSession, db: str, table: str) -> str:
    """A managed table's directory: the catalog stores table names, and
    so their default locations, lower-cased."""
    return os.path.join(db_dir(spark, db), table.lower())


def _part_files(path: str) -> list[str]:
    """The names of the parquet part files in table directory ``path``
    (none when it is missing). Underscore- and dot-prefixed entries are
    bookkeeping (markers, checksums, a writer's ``_temporary``) and are
    skipped, as Spark's file listing skips them. Raises on any other
    subdirectory: a partitioned layout, which nothing here supports."""
    if not os.path.isdir(path):
        return []
    parts = []
    for f in sorted(os.listdir(path)):
        if f.startswith(("_", ".")):
            continue
        if os.path.isdir(os.path.join(path, f)):
            raise RuntimeError(
                f"{path} holds subdirectory {f}: partitioned tables are not supported"
            )
        if f.endswith(".parquet"):
            parts.append(f)
    return parts


def _link_parts(src: str, dst: str) -> None:
    """Hardlink every part file of directory ``src`` into ``dst``
    (created), byte-copying on filesystems without hardlinks."""
    os.makedirs(dst, exist_ok=True)
    for f in _part_files(src):
        try:
            os.link(os.path.join(src, f), os.path.join(dst, f))
        except OSError:
            shutil.copy2(os.path.join(src, f), os.path.join(dst, f))


def _adopt(spark: SparkSession, db: str, table: str) -> bool:
    """Whether ``db.table`` is cataloged, first registering it by
    location when only its parquet is on disk (written by another
    process, or by a session whose catalog is gone)."""
    with catalog_lock:
        if spark.catalog.tableExists(f"{db}.{table}"):
            return True
        _ensure_db(spark, db)
        if not _part_files(_table_dir(spark, db, table)):
            return False
        loc = db_location(spark, db)
        spark.sql(
            f"CREATE TABLE {db}.{table} USING parquet LOCATION '{loc}/{table}'"
        )
        return True


def _refresh(spark: SparkSession, dbs: Sequence[str], tables: Sequence[str]) -> None:
    for db in dbs:
        for t in tables:
            spark.catalog.refreshTable(f"{db}.{t}")


def empty_table(spark: SparkSession, db: str, table: str) -> None:
    """Empty ``db.table`` by deleting its data files in place, then
    refresh its file listing. This is the one way a table is emptied: it
    works on managed and EXTERNAL tables alike, while ``TRUNCATE TABLE``
    rejects the EXTERNAL tables that adoption and staged commits leave.
    Underscore-prefixed bookkeeping files stay."""
    path = _table_dir(spark, db, table)
    for f in os.listdir(path) if os.path.isdir(path) else ():
        if not f.startswith("_"):
            os.remove(os.path.join(path, f))
    spark.catalog.refreshTable(f"{db}.{table}")


def reset_scratch(spark: SparkSession, db: str, schemas: Mapping[str, str]) -> None:
    """Per-run scratch tables (a stream's delta layer, a stream's
    tombstones): afterwards every ``table -> column DDL`` of ``schemas``
    exists in ``db`` and is empty. A cataloged table is emptied in place;
    otherwise whatever sits at its location is cleared, never adopted,
    and the table is created empty by DDL alone."""
    with catalog_lock:
        _ensure_db(spark, db)
        for t, ddl in schemas.items():
            if spark.catalog.tableExists(f"{db}.{t}"):
                empty_table(spark, db, t)
            else:
                clear_tables(spark, db, (t,))
                spark.sql(f"CREATE TABLE {db}.{t} ({ddl}) USING parquet")


def read_live(
    spark: SparkSession, dbs, tables: Sequence[str], key: str
) -> list[DataFrame]:
    """Each of ``tables`` as the union of its layers (``dbs``: one
    database, or base first then delta) minus the ``key`` values
    tombstoned in any layer, tombstones on disk but not yet cataloged
    included. Layers without tombstones add no anti-join."""
    dbs = (dbs,) if isinstance(dbs, str) else tuple(dbs)
    frames = [
        functools.reduce(
            DataFrame.unionByName, [spark.table(f"{db}.{t}") for db in dbs]
        )
        for t in tables
    ]
    tombs = [
        spark.table(f"{db}.tombstones").select(key)
        for db in dbs
        if _adopt(spark, db, "tombstones")
    ]
    if not tombs:
        return frames
    # distinct once; every table's anti-join shares the one small
    # broadcast relation
    dead = F.broadcast(functools.reduce(DataFrame.unionByName, tombs).distinct())
    return [f.join(dead, key, "left_anti") for f in frames]


def forget(spark: SparkSession, db: str, key: str, ids) -> int:
    """Erase ``ids`` (ints, or a DataFrame with a ``key`` column) from
    the index in ``db``: append those not yet tombstoned to
    ``<db>.tombstones``. Reads subtract them at once, and
    :func:`fold_tombstones` removes them physically. Idempotent: returns
    the number of NEW tombstones."""
    if not isinstance(ids, DataFrame):
        ids = local_rows_df(spark, [(int(i),) for i in ids], f"{key} bigint")
    ids = ids.selectExpr(f"CAST({key} AS BIGINT) AS {key}").distinct()

    def _build_empty() -> None:
        spark.sql(f"CREATE TABLE {db}.tombstones ({key} bigint) USING parquet")

    # leased: a fold in another process empties the tombstones after
    # folding them, and an unleased append landing in that window would
    # be emptied without ever being folded
    with catalog_lock, maintenance_lease(spark, db) as lease:
        ensure_tables(
            spark, db, ("tombstones",), _build_empty, expect={"tombstones": (key,)}
        )
        fresh = ids.join(
            spark.table(f"{db}.tombstones"), key, "left_anti"
        ).localCheckpoint(eager=True)
        n = fresh.count()
        if n:
            lease.check()  # fence the tombstone append
            fresh.write.format("parquet").mode("append").saveAsTable(
                f"{db}.tombstones"
            )
            spark.catalog.refreshTable(f"{db}.tombstones")
        return n


def fold_delta(
    spark: SparkSession, base_db: str, delta_db: str, tables: Sequence[str]
) -> dict[str, int]:
    """Fold the delta layer's ``tables`` into the base by moving their
    files (:func:`move_table_files`). Every row sits in exactly one
    layer at every instant: a crash mid-move leaves the remaining files
    in the delta, and the next fold moves them. Delta tables on disk but
    not cataloged are adopted first. Holds the pair's lease, keyed on
    the base like the admissions. Returns the rows moved per table,
    counted from the delta's parquet footers (:func:`row_count`)."""
    with catalog_lock, maintenance_lease(spark, base_db) as lease:
        recover_staged(spark, base_db, tables)
        present = [t for t in tables if _adopt(spark, delta_db, t)]
        for t in present:
            _adopt(spark, base_db, t)
        _refresh(spark, (base_db, delta_db), present)
        moved = {t: row_count(spark, delta_db, t) for t in present}
        if any(moved.values()):
            lease.renew()
            lease.check()  # fence at the destructive step, the move
            for t in present:
                move_table_files(spark, delta_db, t, base_db, t)
            _refresh(spark, (base_db, delta_db), present)
        return moved


def fold_tombstones(
    spark: SparkSession, db: str, tables: Sequence[str], key: str
) -> int:
    """Remove the tombstoned ``key`` values from ``db``'s ``tables``
    physically: finish any interrupted staged commit, rewrite each table
    minus the tombstones (:func:`staged_overwrite`), and only then empty
    the tombstones. Tables and tombstones on disk but not cataloged are
    adopted first. Returns the number of distinct tombstones folded. (At
    scale the rewrite is partition-scoped: only the partitions holding
    tombstoned keys, e.g. the IVF lists of erased vectors, rewrite.)"""
    with catalog_lock, maintenance_lease(spark, db) as lease:
        recover_staged(spark, db, tables)
        if not all(_adopt(spark, db, t) for t in (*tables, "tombstones")):
            return 0
        _refresh(spark, (db,), (*tables, "tombstones"))
        tombs = spark.table(f"{db}.tombstones").select(key).distinct()
        n = tombs.count()
        if n:
            for t in tables:
                lease.renew()  # heartbeat between table swaps
                lease.check()  # fence before each staged swap
                kept = spark.table(f"{db}.{t}").join(
                    F.broadcast(tombs), key, "left_anti"
                )
                staged_overwrite(spark, db, t, kept)
            lease.renew()
            lease.check()  # fence the tombstone clear too
            empty_table(spark, db, "tombstones")
        return n


AUTO_COMPACT_RATIO = 0.5  # fold when |delta| >= ratio * |base|


def maybe_fold_delta(
    spark: SparkSession,
    base_db: str,
    delta_db: str,
    tables: Sequence[str],
    ratio: float = AUTO_COMPACT_RATIO,
) -> dict[str, int] | None:
    """Size-ratio trigger, checked at admission time (the LSM shape):
    run :func:`fold_delta` once the delta's first table holds at least
    ``ratio`` times the base's rows. Below the threshold this costs two
    footer reads (:func:`row_count`), no Spark job. The ratio
    self-scales: a large base tolerates a large delta before folding.
    Returns the fold's counts, or None if the trigger did not fire."""
    n_base = row_count(spark, base_db, tables[0])
    n_delta = row_count(spark, delta_db, tables[0])
    if n_delta and n_delta >= ratio * max(n_base, 1):
        return fold_delta(spark, base_db, delta_db, tables)
    return None


def _snap_root(spark: SparkSession, db: str) -> str:
    """``<db location>/_pristine`` — inside the database directory, so
    ``DROP DATABASE ... CASCADE`` (and bench.py's ``--fresh-indexes``
    rmtree) retires the snapshot together with the tables it mirrors;
    no table can be named ``_pristine`` (Spark's file listing skips
    underscore-prefixed paths), so it can never be adopted as data."""
    return os.path.join(db_dir(spark, db), _SNAP_DIR)


def snapshot_tables(
    spark: SparkSession, db: str, tables: Sequence[str]
) -> None:
    """Hardlink-snapshot the named tables' CURRENT parquet files into
    the database's ``_pristine`` directory — to be called only when the
    caller has just verified the tables are in their canonical state
    (the auto-compacted demo queries' probe-clean base). Parquet files
    are immutable (appends, moves and clears create/unlink whole files, never
    rewrite in place), so hardlinks are snapshot-safe and cost no data
    copy. No-op if a complete snapshot already exists; a half-written
    one (no ``_SNAP_COMPLETE``) is discarded and retaken. Falls back to
    a byte copy on filesystems without hardlinks."""
    snap = _snap_root(spark, db)
    if os.path.isfile(os.path.join(snap, SNAP_COMPLETE_MARKER)):
        return
    shutil.rmtree(snap, ignore_errors=True)
    for t in tables:
        # a table with no data files may have no directory at all
        _link_parts(_table_dir(spark, db, t), os.path.join(snap, t))
    with open(os.path.join(snap, SNAP_COMPLETE_MARKER), "w") as fh:
        fh.write("complete")


def drop_snapshot(spark: SparkSession, db: str) -> None:
    """Retire the pristine snapshot — called whenever the base tables
    are (re)built, so a schema/code migration can never restore a
    stale pristine set over the new build."""
    shutil.rmtree(_snap_root(spark, db), ignore_errors=True)


def restore_snapshot(
    spark: SparkSession, db: str, tables: Sequence[str]
) -> bool:
    """Restore the named tables to their pristine snapshot with ZERO
    Spark write jobs: hardlink the snapshot's files into a ``__staged``
    directory, mark it complete, and run the standard
    :func:`_commit_stage` rename — so the restore inherits the staged
    commit's crash durability window for window (a crash mid-hardlink
    leaves an unmarked partial stage that recovery clears; a crash
    after the marker is finished by :func:`recover_staged`). Returns
    False (caller falls back to depollute/rebuild) when no complete
    snapshot exists, or a live table is missing.

    The stage is registered with the live table's catalog schema, as
    :func:`_commit_stage` registers the live slot, so a table whose
    snapshot holds zero part-files restores as an empty table instead
    of failing schema inference."""
    snap = _snap_root(spark, db)
    if not os.path.isfile(os.path.join(snap, SNAP_COMPLETE_MARKER)):
        return False
    path = db_dir(spark, db)
    with catalog_lock:
        if not all(spark.catalog.tableExists(f"{db}.{t}") for t in tables):
            return False
        for t in tables:
            schema = spark.table(f"{db}.{t}").schema  # catalog-only read
            staged = f"{t}__staged"
            clear_tables(spark, db, (staged,))
            sdir = os.path.join(path, staged)
            _link_parts(os.path.join(snap, t), sdir)
            with open(
                os.path.join(sdir, STAGE_COMPLETE_MARKER), "w"
            ) as fh:
                fh.write("complete")
            loc = db_location(spark, db)
            _register_external(spark, f"{db}.{staged}", schema, f"{loc}/{staged}")
            _commit_stage(spark, db, t)
    return True


def _columns_ok(
    spark: SparkSession,
    db: str,
    tables: Sequence[str],
    expect: Mapping[str, Iterable[str]] | None,
) -> bool:
    if expect is None:
        return True
    for t in tables:
        want = expect.get(t)
        if want is not None and set(spark.table(f"{db}.{t}").columns) != set(
            want
        ):
            return False
    return True


def ensure_tables(
    spark: SparkSession,
    db: str,
    tables: Sequence[str],
    build: Callable[[], None],
    expect: Mapping[str, Iterable[str]] | None = None,
) -> str:
    """Make the table group exist, preferring reuse over recompute:
    catalog-first, then cross-session location adoption, else clear the
    whole group and call ``build()`` (which must create every table in
    ``tables``, e.g. via ``saveAsTable``). Returns ``'built'`` or
    ``'reused'``. ``expect`` maps table -> required column names; a
    reused/adopted table failing it is cleared and rebuilt (schema
    migration across code versions). Caller-reentrant: takes the global
    ``catalog_lock`` (an RLock) for the whole check-adopt-build cycle."""
    tables = tuple(tables)
    with catalog_lock:
        _ensure_db(spark, db)
        # per-table existence probes (~4ms each) instead of listTables
        # (~230ms: it materializes full table metadata through py4j)
        if all(_adopt(spark, db, t) for t in tables) and _columns_ok(
            spark, db, tables, expect
        ):
            return "reused"
        clear_tables(spark, db, tables)
        build()
        return "built"
