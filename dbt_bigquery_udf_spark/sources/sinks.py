"""Sink-side writers: how engine outputs land on storage at scale.

The reference's only sink is the warehouse table its datamart model
creates (CTAS — `models/core.py` F15). At 100 TB the write layout *is*
the read plan of every downstream query, so the engine exposes the two
layouts that matter and the knobs that keep files healthy:

- ``write_partitioned``: hive-style directory partitioning on a
  low-cardinality key (date, language, source). Downstream filters on
  the key become partition pruning — no file even opens.
- ``write_bucketed``: hash-bucketed + sorted table on a join/group key.
  Equal-bucketed joins co-locate without a shuffle (the bucketing
  metadata lives in the catalog, so this writes a managed table).

Both repartition by the layout key before writing so each task owns
whole output files (no small-file explosion: one file per partition
value per shuffle partition, not per input task).

``compact_files`` / ``compact_if_fragmented`` bin-pack a location that
incremental appends fragmented. They work on local ``file:`` locations
only and commit through ``operators.index_store``'s one directory
commit (marked stage, remove, rename), like every other directory the
engine replaces.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame

from ..operators.index_store import commit_dir, local_dir, mark_complete, recover_dir

__all__ = [
    "write_partitioned",
    "write_bucketed",
    "write_zordered",
    "zorder_expr",
    "compact_files",
    "compact_if_fragmented",
]


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    mode: str = "overwrite",
    max_records_per_file: int | None = 5_000_000,
) -> None:
    """Write ``df`` as parquet partitioned by ``partition_by``.

    Repartitioning on the partition columns first means each output
    directory is written by one task — without it, every shuffle
    partition emits a file into every directory (tasks × values files).
    ``maxRecordsPerFile`` caps file size so one hot partition value
    still splits into scannable files.
    """
    writer = (
        df.repartition(*partition_by)
        .write.mode(mode)
        .partitionBy(*partition_by)
    )
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    n_buckets: int,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a bucketed (and optionally sorted) managed table.

    Two tables bucketed identically on their join key join without a
    shuffle; sorted buckets additionally skip the sort of a sort-merge
    join. This is the deploy-time fix for the fact-to-fact shuffles
    documented in SCALE.md (orders ⋈ lineitem on orderkey).
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.format("parquet").saveAsTable(table)


def zorder_expr(cols: list[str], bits: int = 12) -> str:
    """SQL expression interleaving ``cols`` (numeric) into one Z-order
    (Morton) value: each column min-max-normalizes to ``bits`` bits
    (expects ``__{col}_min`` / ``__{col}_max`` companion columns, see
    :func:`write_zordered`), then bit i of column j lands at position
    i * n_cols + j. Pure integer arithmetic — whole-stage codegen, no
    UDF. ``len(cols) * bits`` must fit a BIGINT's 63 value bits:
    shiftleft wraps its shift count mod 64, so overflowing positions
    would silently alias onto low bits and corrupt the sort key."""
    n = len(cols)
    if n * bits > 63:
        raise ValueError(
            f"zorder_expr: {n} columns x {bits} bits = {n * bits} bit "
            "positions > 63 (BIGINT); lower bits or drop columns"
        )
    scaled = [
        (
            f"CAST(round(({c} - __{c}_min) * {(1 << bits) - 1} / "
            f"greatest(__{c}_max - __{c}_min, 1e-12), 0) AS BIGINT)"
        )
        for c in cols
    ]
    terms = []
    for j, s in enumerate(scaled):
        for i in range(bits):
            terms.append(f"(shiftleft(shiftright({s}, {i}) & 1, {i * n + j}))")
    return " + ".join(terms)


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_by: list[str],
    bits: int = 12,
    mode: str = "overwrite",
    n_files: int | None = None,
) -> None:
    """Write ``df`` as parquet range-sorted on a Z-order (Morton)
    interleave of ``zorder_by`` — multi-column data skipping (the
    Delta/Iceberg ``OPTIMIZE ZORDER BY`` layout), on plain parquet.

    A single-column sort (``cluster_by``) gives each file a narrow
    min/max range on THAT column only; filters on a second column scan
    every file. Interleaving the bits of k columns gives every file a
    narrow range on EVERY zorder column simultaneously (each file is a
    small k-dimensional tile), so parquet row-group min/max pruning
    works for filters on any of them — at the cost of each range being
    ~2^(bits/k) wider than a dedicated sort's.

    Cost: one 2-row stats pass (min/max per column, broadcast), then
    the same repartitionByRange + in-partition sort any clustered write
    pays. The Morton value is throwaway — not written. ``bits`` is
    clamped so all columns fit a BIGINT (63 // k bits each at k
    columns — granularity shrinks, correctness holds).
    """
    from pyspark.sql import functions as F

    bits = min(bits, 63 // max(len(zorder_by), 1))
    aggs = []
    for c in zorder_by:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"__{c}_min"),
            F.max(F.col(c).cast("double")).alias(f"__{c}_max"),
        ]
    bounds = df.agg(*aggs)
    z = df.crossJoin(F.broadcast(bounds)).withColumn(
        "__z", F.expr(zorder_expr(zorder_by, bits))
    )
    n_files = n_files or max(df.sparkSession.sparkContext.defaultParallelism, 8)
    (
        z.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", *[f"__{c}_min" for c in zorder_by], *[f"__{c}_max" for c in zorder_by])
        .write.mode(mode)
        .parquet(path)
    )


def _data_file_set(spark, path: str) -> frozenset[tuple[str, int]]:
    """The location's data files as {(path under it, bytes)}, from one
    local directory walk (empty when it is missing): the size statistics
    and the change-detection snapshot compact_files compares before its
    commit. Names starting with ``_`` or ``.`` (markers, checksums, a
    writer's ``_temporary``) are skipped, as Spark's file listing skips
    them. ``path`` must be local (:func:`index_store.local_dir`)."""
    root = local_dir(path)
    out = set()
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                full = os.path.join(d, f)
                out.add((os.path.relpath(full, root), os.path.getsize(full)))
    return frozenset(out)


def _list_data_files(spark, path: str) -> tuple[int, int]:
    """(file_count, total_bytes) of the data files under ``path``."""
    files = _data_file_set(spark, path)
    return len(files), sum(n for _, n in files)


def compact_files(
    spark,
    path: str,
    target_file_bytes: int = 128 << 20,
    partition_by: list[str] | None = None,
) -> dict:
    """Bin-pack a local parquet location's small files — the
    ``OPTIMIZE`` pass every incrementally-written lake table needs.

    Incremental/streaming writers (microbatch, foreachBatch, hourly
    appends) each land a few rows per trigger; after a month a 100 TB
    table is millions of KB-sized files and every scan pays one
    open/seek/footer-parse per file, which dominates IO. This rewrites
    the location into ``ceil(total_bytes / target_file_bytes)`` files
    (per partition directory when ``partition_by`` is given, preserving
    the pruning layout) in ``<path>__compact_staging``, then commits it
    with ``index_store``'s one directory commit: mark the stage
    complete, remove the location, rename the stage onto it. ``path``
    must be a local ``file:`` path (or a plain one); any other scheme
    raises, naming it.

    Concurrency contract: ONE writer at a time per location. The rewrite
    snapshots the directory and replaces it, so a file a concurrent
    writer lands mid-rewrite would vanish in the commit — guarded two
    ways: the data-file set is re-listed immediately before the stage is
    marked and the compaction ABORTS (stage removed, original untouched)
    if it changed; and from a streaming pipeline the call belongs inside
    the serialized foreachBatch callback (compact_if_fragmented), where
    the engine guarantees no concurrent append. Crash-safe: a call
    first finishes a previous call's commit (``index_store.recover_dir``:
    a marked stage is committed, an unmarked one removed), so every
    crash leaves the location's rows whole.

    Scale: the rewrite is one shuffle-free-read → repartition → write
    over only this location (compact partitions selectively by calling
    with a partition subdirectory path); driver state is one recursive
    listing. Returns {files_before, bytes, files_after}.
    """
    import math

    staging = path.rstrip("/") + "__compact_staging"
    stage, live = local_dir(staging), local_dir(path)
    recover_dir(stage, live)
    snapshot = _data_file_set(spark, path)
    files_before, total = len(snapshot), sum(n for _, n in snapshot)
    df = spark.read.parquet(path)
    n_out = max(1, math.ceil(total / max(target_file_bytes, 1)))
    if partition_by:
        # One writing task per partition value; a hot partition still
        # splits via maxRecordsPerFile sized from the observed average
        # row width.
        rows = df.count()
        per_file = max(1, int(rows * target_file_bytes / max(total, 1)))
        (
            df.repartition(*partition_by)
            .write.mode("overwrite")
            .option("maxRecordsPerFile", per_file)
            .partitionBy(*partition_by)
            .parquet(staging)
        )
    else:
        df.repartition(n_out).write.mode("overwrite").parquet(staging)
    # Abort (not clobber) if a concurrent writer changed the location
    # between our snapshot read and the commit — their files would be
    # silently deleted by it otherwise.
    if _data_file_set(spark, path) != snapshot:
        shutil.rmtree(stage, ignore_errors=True)
        raise IOError(
            f"compact_files: {path} changed during compaction "
            "(concurrent writer?) — aborted, location untouched"
        )
    mark_complete(stage)
    commit_dir(stage, live)
    files_after, _ = _list_data_files(spark, path)
    return {"files_before": files_before, "bytes": total, "files_after": files_after}


def compact_if_fragmented(
    spark,
    path: str,
    max_files: int = 64,
    target_file_bytes: int = 128 << 20,
    partition_by: list[str] | None = None,
) -> dict | None:
    """Maintenance trigger for incrementally-written locations: compact
    only when the data-file count exceeds ``max_files``, else no-op.

    This is the call a ``foreachBatch`` sink (or a scheduled job) makes
    after each append — cheap O(listing) when healthy, a bin-pack
    rewrite when fragmentation crosses the threshold. Keeping it here
    (not inside the streaming query) means the maintenance cadence is
    the operator's knob, independent of trigger cadence.
    """
    if _list_data_files(spark, path)[0] <= max_files:
        return None
    return compact_files(
        spark, path, target_file_bytes=target_file_bytes, partition_by=partition_by
    )
