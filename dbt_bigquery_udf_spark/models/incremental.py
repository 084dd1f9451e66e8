"""The `merge` incremental strategy and `on_schema_change` handling.

dbt-bigquery's DEFAULT incremental strategy is `merge` (the reference
project would get it on any incremental model it added: BigQuery MERGE
target USING (body) ON unique_key, matched rows updated, unmatched
inserted). Plain parquet has no MERGE, so:

- unpartitioned targets: full rewrite — the merged next state (target
  rows whose key is absent from the batch, matched rows with updated
  columns, new rows) is committed by ``index_store.staged_overwrite``.
- partitioned targets: partition-scoped rewrite — only the partitions
  the batch touches are recomputed (target slice ⟂ batch, merged),
  then :func:`overwrite_partitions` replaces exactly those
  partitions. At 100 TB this is the difference between rewriting a day
  and rewriting the table. Invariant (documented, same caveat as dbt's
  own insert_overwrite): a unique_key must not move between partitions
  — partition on an immutable attribute of the key (e.g. creation
  date). Delta/Iceberg MERGE removes the invariant and is a drop-in
  replacement for this module.

`on_schema_change` (dbt semantics, all incremental strategies):

- ignore (default): target schema wins — batch columns the target
  lacks are dropped, target columns the batch lacks are NULL-filled.
- fail: any column-set difference raises.
- append_new_columns: new batch columns are ALTER TABLE ADDed
  (existing rows read as NULL via parquet schema evolution); removed
  ones are NULL-filled.
- sync_all_columns: adds new columns; ALSO drops removed ones — but
  dropping requires rewriting every existing file, so it is only
  honored on the merge strategy (whose rewrite is already paid);
  append/insert_overwrite raise on removed columns.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import EngineError
from ..operators import index_store
from ..operators.util import local_rows_df

__all__ = [
    "reconcile_schema",
    "merge_upsert",
    "run_microbatch",
    "delete_keys",
    "overwrite_partitions",
    "table_provider",
    "merge_into_sql",
    "MERGE_CAPABLE_PROVIDERS",
]

# Table formats whose catalogs execute a native MERGE INTO. Vanilla
# parquet/orc/csv tables are NOT merge-capable in OSS Spark — they take
# the rewrite path below. Delta and Iceberg both implement the ANSI
# MERGE surface this module emits.
MERGE_CAPABLE_PROVIDERS = frozenset({"delta", "iceberg"})


def table_provider(spark: SparkSession, table: str) -> str:
    """The storage provider of ``table`` (lowercase: 'parquet',
    'delta', 'iceberg', ...), from DESCRIBE TABLE EXTENDED — the
    dispatch key for merge strategy selection."""
    for row in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
        if (row.col_name or "").strip().lower() == "provider":
            return (row.data_type or "").strip().lower()
    return ""


def _bq(name: str) -> str:
    """Backtick-quote one identifier (reserved words, dashes, dots in a
    column name all survive; embedded backticks double per Spark SQL)."""
    return "`" + name.replace("`", "``") + "`"


def _bq_qualified(name: str) -> str:
    """Backtick-quote a possibly-dotted table/view name part by part."""
    return ".".join(_bq(p) for p in name.split("."))


def merge_into_sql(
    target: str,
    source: str,
    unique_key: str,
    columns: list[str],
    update_columns: tuple[str, ...] = (),
    predicates: tuple[str, ...] = (),
) -> str:
    """The ANSI ``MERGE INTO`` statement for a dbt merge-strategy upsert
    — the single statement that replaces this module's rewrite dance on
    a Delta/Iceberg target (SCALE.md "Merge incremental strategy": the
    table format drops the rewrite-and-swap invariant).

    Semantics mirror the parquet path: null-safe key equality (``<=>``),
    ``update_columns`` restricting the MATCHED set (empty = all non-key
    columns), and ``predicates`` ANDed into ON so out-of-scope target
    rows never match (they stay untouched — the table format's
    row-level write is what makes "untouched" free). Predicates may
    reference ``t.``(target) / ``s.``(source) explicitly.
    """
    keys = [k.strip() for k in unique_key.split(",")]
    on = " AND ".join(f"t.{_bq(k)} <=> s.{_bq(k)}" for k in keys)
    for pred in predicates:
        on += f" AND ({pred})"
    upd_cols = [c for c in (update_columns or columns) if c not in keys]
    set_clause = ", ".join(f"t.{_bq(c)} = s.{_bq(c)}" for c in upd_cols)
    col_list = ", ".join(_bq(c) for c in columns)
    val_list = ", ".join(f"s.{_bq(c)}" for c in columns)
    matched = f"WHEN MATCHED THEN UPDATE SET {set_clause} " if upd_cols else ""
    return (
        f"MERGE INTO {_bq_qualified(target)} AS t "
        f"USING {_bq_qualified(source)} AS s ON {on} "
        f"{matched}"
        f"WHEN NOT MATCHED THEN INSERT ({col_list}) VALUES ({val_list})"
    )

_ON_SCHEMA_CHANGE = ("ignore", "fail", "append_new_columns", "sync_all_columns")


def reconcile_schema(
    spark: SparkSession,
    target: str,
    batch: DataFrame,
    on_schema_change: str,
    strategy: str,
    partitioned: bool = False,
) -> DataFrame:
    """Align ``batch`` with ``target``'s schema per ``on_schema_change``,
    possibly ALTERing the target. Returns the aligned batch whose
    columns exactly match the target's post-ALTER column order."""
    if on_schema_change not in _ON_SCHEMA_CHANGE:
        raise EngineError(
            f"{target}: unknown on_schema_change {on_schema_change!r} "
            f"(expected one of {_ON_SCHEMA_CHANGE})"
        )
    tgt_fields = {f.name: f.dataType.simpleString() for f in spark.table(target).schema}
    src_fields = {f.name: f.dataType.simpleString() for f in batch.schema}
    new_cols = [c for c in batch.columns if c not in tgt_fields]
    removed = [c for c in spark.table(target).columns if c not in src_fields]

    if on_schema_change == "fail" and (new_cols or removed):
        raise EngineError(
            f"{target}: schema changed (new={new_cols}, removed={removed}) "
            "and on_schema_change='fail'"
        )
    if on_schema_change in ("append_new_columns", "sync_all_columns") and new_cols:
        added = ", ".join(f"{c} {src_fields[c]}" for c in new_cols)
        spark.sql(f"ALTER TABLE {target} ADD COLUMNS ({added})")
    can_drop = strategy == "merge" and not partitioned  # full rewrite path
    if removed and on_schema_change == "sync_all_columns" and not can_drop:
        raise EngineError(
            f"{target}: sync_all_columns cannot drop {removed} under "
            f"strategy {strategy!r} (partitioned={partitioned}) — the "
            "drop needs a full-table rewrite, which only the "
            "unpartitioned merge strategy pays; use that or a "
            "Delta/Iceberg table format"
        )

    want = spark.table(target).columns  # post-ALTER order
    if on_schema_change == "sync_all_columns" and can_drop and removed:
        want = [c for c in want if c not in removed]
    exprs = [
        F.col(c) if c in src_fields else F.lit(None).cast(tgt_fields[c]).alias(c)
        for c in want
    ]
    return batch.select(*exprs)


def merge_upsert(
    spark: SparkSession,
    target: str,
    batch: DataFrame,
    unique_key: str,
    partition_by: tuple[str, ...] = (),
    update_columns: tuple[str, ...] = (),
    predicates: tuple[str, ...] = (),
) -> None:
    """Upsert ``batch`` into ``target`` keyed on ``unique_key``
    (comma-separated for composite keys).

    ``update_columns`` restricts which columns a MATCHED row takes from
    the batch (dbt-bigquery's merge_update_columns); empty = all.
    ``predicates`` (dbt's incremental_predicates) bound the TARGET-side
    join input: rows they exclude skip the full-outer join entirely and
    are carried through the rewrite unmodified — at 100 TB that turns
    the merge's target shuffle from "every row of the touched
    partitions" into "the slice that can possibly match". ``batch``
    must already be schema-aligned via :func:`reconcile_schema` — on
    the unpartitioned path the swap adopts the batch's column set,
    which is how sync_all_columns drops land.
    """
    keys = [k.strip() for k in unique_key.split(",")]
    for k in keys:
        if k not in batch.columns:
            raise EngineError(f"{target}: unique_key column {k!r} not in batch")

    out_cols = batch.columns  # reconcile_schema already aligned these

    # Lakehouse dispatch: a Delta/Iceberg target takes ONE native MERGE
    # INTO — row-level writes, no rewrite, no partition-stability
    # invariant. Plain parquet continues below on the rewrite path.
    if table_provider(spark, target) in MERGE_CAPABLE_PROVIDERS:
        # uuid-suffixed so two concurrent merges into the same target in
        # one session can't race on createOrReplaceTempView
        view = f"__merge_batch_{uuid.uuid4().hex}"
        batch.createOrReplaceTempView(view)
        try:
            spark.sql(
                merge_into_sql(
                    target, view, unique_key, out_cols,
                    update_columns, predicates,
                )
            )
        finally:
            spark.catalog.dropTempView(view)
        return

    tgt = spark.table(target).select(*out_cols)

    if partition_by:
        # Partition-scoped: merge only the target slice living in
        # partitions the batch touches. The semi join is on partition
        # values — a handful of rows — so it broadcasts.
        parts = batch.select(*partition_by).distinct()
        tgt = tgt.join(F.broadcast(parts), list(partition_by), "left_semi")

    carried = None
    if predicates:
        # NULL-safe complement: a predicate evaluating to NULL must not
        # lose the row — it is carried, not merged.
        p = F.lit(True)
        for pred in predicates:
            p = p & F.expr(pred)
        p = F.coalesce(p, F.lit(False))
        carried = tgt.filter(~p)
        tgt = tgt.filter(p)

    s = batch.withColumn("__s", F.lit(True)).alias("s")
    t = tgt.withColumn("__t", F.lit(True)).alias("t")
    cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys]
    joined = t.join(s, cond, "full_outer")

    matched = F.col("__t").isNotNull() & F.col("__s").isNotNull()
    updatable = set(update_columns or out_cols) | set(keys)
    merged = joined.select(
        *[
            F.when(
                matched,
                F.col(f"s.{c}") if c in updatable else F.col(f"t.{c}"),
            )
            .when(F.col("__s").isNotNull(), F.col(f"s.{c}"))
            .otherwise(F.col(f"t.{c}"))
            .alias(c)
            for c in out_cols
        ]
    )

    if carried is not None:
        merged = merged.unionByName(carried)

    if partition_by:
        overwrite_partitions(spark, target, merged, stage=True)
    else:
        index_store.staged_overwrite(spark, *target.split("."), merged)


def overwrite_partitions(
    spark: SparkSession, target: str, rows: DataFrame, stage: bool = False
) -> None:
    """Replace exactly the partitions of ``target`` that ``rows`` holds
    (dynamic partition overwrite); every other partition keeps its
    files. The one place the engine sets ``partitionOverwriteMode``, and
    it restores the session's value. ``stage``: ``rows`` reads
    ``target`` (a merge or delete slice), which an INSERT OVERWRITE may
    not, so they are written to a staging table first and the overwrite
    reads that."""
    db, name = target.split(".")
    staging = f"{name}__partition_staging"
    if stage:
        index_store.clear_tables(spark, db, (staging,))
        rows.write.format("parquet").saveAsTable(f"{db}.{staging}")
        rows = spark.table(f"{db}.{staging}")
    mode = "spark.sql.sources.partitionOverwriteMode"
    prev_mode = spark.conf.get(mode, "static")
    spark.conf.set(mode, "dynamic")
    try:
        # by position: partition columns must come last, as the
        # target's own column order has them
        rows.select(*spark.table(target).columns).write.insertInto(
            target, overwrite=True
        )
    finally:
        spark.conf.set(mode, prev_mode)
        if stage:
            index_store.clear_tables(spark, db, (staging,))


# -- microbatch (dbt >= 1.9's time-batched incremental strategy) ----------

_BATCH_FMT = {"hour": "yyyy-MM-dd HH", "day": "yyyy-MM-dd", "month": "yyyy-MM"}


def run_microbatch(
    spark: SparkSession,
    target: str,
    body: str,
    event_time: str,
    batch_size: str = "day",
    lookback: int = 1,
    begin: str | None = None,
) -> list[str]:
    """dbt's microbatch strategy: the model is processed one time batch
    at a time, each batch idempotently replacing its own partition.

    The engine derives a ``batch_key`` partition column
    (``date_trunc(batch_size, event_time)``, formatted) and appends it
    to the table. A run processes every batch from the high-water mark
    minus ``lookback`` batches (late arrivals within the window are
    healed; older ones need an explicit backfill) to the newest batch
    the body produces; the first run starts at ``begin`` (or the data's
    start). Each batch is filtered on the RAW ``event_time`` range —
    not the derived column — so the predicate pushes into the source
    scan and a day's batch reads a day's files on a date-partitioned
    source. At 100 TB this is the difference between a bounded
    re-read per run and re-scanning history: per-batch work is capped
    by the batch period, failures are retryable per batch, and
    backfilling one bad day is one INSERT OVERWRITE.

    Returns the list of batch keys processed (for logging/tests).
    """
    if batch_size not in _BATCH_FMT:
        raise EngineError(
            f"{target}: microbatch batch_size must be one of {sorted(_BATCH_FMT)}"
        )
    fmt = _BATCH_FMT[batch_size]
    src = spark.sql(body)
    if event_time not in src.columns:
        raise EngineError(f"{target}: event_time {event_time!r} not in model body")
    key = F.date_format(F.date_trunc(batch_size, F.col(event_time)), fmt)
    exists = spark.catalog.tableExists(target)

    cutoff = None
    if exists:
        hwm = spark.table(target).agg(F.max("batch_key")).first()[0]
        if hwm is not None:
            cutoff = spark.range(1).select(
                F.date_format(
                    F.to_timestamp(F.lit(hwm), fmt)
                    - F.expr(f"INTERVAL {int(lookback)} {batch_size.upper()}"),
                    fmt,
                )
            ).first()[0]
    elif begin:
        cutoff = spark.range(1).select(
            F.date_format(F.date_trunc(batch_size, F.lit(begin).cast("timestamp")), fmt)
        ).first()[0]

    batched = src.withColumn("batch_key", key)
    pending = batched if cutoff is None else batched.filter(F.col("batch_key") >= cutoff)
    batches = sorted(r[0] for r in pending.select("batch_key").distinct().collect())
    if not exists:
        db, name = target.split(".")
        index_store.clear_tables(spark, db, (name,))
        # Zero-row CTAS pins schema + partitioning; batches then land
        # one INSERT OVERWRITE each.
        batched.filter(F.lit(False)).write.format("parquet").partitionBy(
            "batch_key"
        ).saveAsTable(target)

    for b in batches:
        lo = F.to_timestamp(F.lit(b), fmt)
        hi = lo + F.expr(f"INTERVAL 1 {batch_size.upper()}")
        # Filter on the raw event_time range (scan-prunable), not
        # the derived batch_key.
        overwrite_partitions(
            spark,
            target,
            batched.filter((F.col(event_time) >= lo) & (F.col(event_time) < hi)),
        )
    return batches


# -- targeted deletion (GDPR / right-to-be-forgotten) ---------------------


def delete_keys(
    spark: SparkSession,
    target: str,
    key_col: str,
    keys,
    partition_by: tuple[str, ...] = (),
) -> int:
    """Delete every row of ``target`` whose ``key_col`` is in ``keys``
    (a Python list or a single-column DataFrame). Returns the number of
    rows deleted.

    The erasure-request shape: the key set is tiny (it broadcasts), the
    table is huge. One semi-join scan finds the matching rows AND the
    partitions they live in; then only those partitions are rewritten
    (:func:`overwrite_partitions`) — unpartitioned tables fall back to
    one ``index_store.staged_overwrite``. At 100 TB deleting a user rewrites
    the handful of partitions that user appears in, not the table; with
    a partition layout keyed on the deletion key (or a key-to-partition
    index) the finding scan prunes too. Delta/Iceberg DELETE is the
    drop-in upgrade.
    """
    tgt = spark.table(target)
    if key_col not in tgt.columns:
        raise EngineError(f"{target}: delete key {key_col!r} not a column")
    if isinstance(keys, DataFrame):
        kdf = keys.toDF(key_col).distinct()
    else:
        # Keys arrive as whatever the caller had (CLI args are strings,
        # programmatic callers pass native values) — stage as strings
        # and cast to the table column's type so both work. A key that
        # does not survive the cast must RAISE: an erasure request that
        # silently matches nothing reports success on a no-op.
        ktype = dict(tgt.dtypes)[key_col]
        staged = [str(k) for k in keys if k is not None]
        kdf = (
            local_rows_df(spark, [(k,) for k in staged], f"{key_col} string")
            .select(
                # try_cast, not cast: under ANSI a malformed key would
                # raise a raw CAST_INVALID_INPUT mid-job; the explicit
                # null-check below turns it into the engine's own error.
                F.expr(f"try_cast({key_col} AS {ktype})").alias(key_col)
            )
            .distinct()
        )
        n_bad = kdf.filter(F.col(key_col).isNull()).count()
        if n_bad:
            raise EngineError(
                f"delete_keys: {n_bad} key(s) not castable to {key_col} "
                f"({ktype}) — refusing a deletion that cannot match"
            )
    matches = tgt.join(F.broadcast(kdf), key_col, "left_semi")

    if not partition_by:
        n = matches.count()
        if n:
            index_store.staged_overwrite(
                spark, *target.split("."), tgt.join(F.broadcast(kdf), key_col, "left_anti")
            )
        return n

    # One scan: count matches and collect the partitions they live in.
    hit = matches.groupBy(*partition_by).agg(F.count(F.lit(1)).alias("__n"))
    hit_rows = hit.collect()
    n = sum(r["__n"] for r in hit_rows)
    if not n:
        return 0
    parts = local_rows_df(spark, 
        [tuple(r[c] for c in partition_by) for r in hit_rows],
        tgt.select(*partition_by).schema,
    )
    kept_slice = tgt.join(F.broadcast(parts), list(partition_by), "left_semi").join(
        F.broadcast(kdf), key_col, "left_anti"
    )
    overwrite_partitions(spark, target, kept_slice, stage=True)
    return n
