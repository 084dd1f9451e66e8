"""Snapshot materialization — dbt's SCD Type-2 change tracking.

The reference configures a snapshots path but ships it empty
(`/root/reference/dbt_project.yml:20` ``snapshot-paths: ["snapshots"]``);
this implements the dbt built-in: each run compares the model body's
current rows against the snapshot table and

- inserts rows for NEW keys (``dbt_valid_to IS NULL`` marks current),
- CLOSES the previous version of CHANGED keys (stamps ``dbt_valid_to``)
  and inserts the new version,
- leaves unchanged keys and already-expired history untouched
  (immutable audit log).

Change detection strategies, as in dbt:

- ``timestamp``: a row changed iff its ``updated_at`` is newer than the
  stored current version's. Validity stamps come from the data itself —
  deterministic, replayable.
- ``check``: a row changed iff any of ``check_cols`` differs
  (null-safe); validity stamps are the run's clock.

Spark has no MERGE over plain parquet tables, so the update is a
rewrite in place: compute the next snapshot state as one FULL-OUTER
join between current versions and the fresh body, union the immutable
history back in, and commit it with ``index_store.staged_overwrite``
(staged, then an atomic directory rename; a commit cut short is
finished by ``index_store.recover_staged``). At 100 TB the rewrite
cost is bounded by partitioning the snapshot on a stable key prefix
and the join being key-to-key (both sides shuffle on unique_key —
co-bucketable); Delta/Iceberg MERGE is the drop-in upgrade and changes
only this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import EngineError
from ..operators import index_store

__all__ = ["build_snapshot"]

_META = ("dbt_valid_from", "dbt_valid_to")


def _first_snapshot(src: DataFrame, valid_from: F.Column) -> DataFrame:
    return src.select(
        "*",
        valid_from.alias("dbt_valid_from"),
        F.lit(None).cast("timestamp_ntz").alias("dbt_valid_to"),
    )


def build_snapshot(
    spark: SparkSession,
    target: str,
    body: str,
    unique_key: str,
    strategy: str = "timestamp",
    updated_at: str | None = None,
    check_cols: tuple[str, ...] = (),
    invalidate_hard_deletes: bool = False,
) -> None:
    """Create or advance the SCD2 snapshot table ``target`` from the
    rendered model ``body``.

    ``invalidate_hard_deletes`` (dbt config of the same name): keys
    present in the snapshot but MISSING from the body close at the
    run's clock instead of staying open — source deletions become
    visible in history (both strategies stamp hard deletes with the
    clock, as dbt does: the vanished row carries no data timestamp)."""
    src = spark.sql(body)
    if unique_key not in src.columns:
        raise EngineError(f"snapshot {target}: unique_key {unique_key!r} not in body")
    if strategy == "timestamp":
        if not updated_at or updated_at not in src.columns:
            raise EngineError(
                f"snapshot {target}: timestamp strategy requires updated_at column"
            )
        valid_from = F.col(updated_at).cast("timestamp_ntz")
    elif strategy == "check":
        if not check_cols:
            raise EngineError(f"snapshot {target}: check strategy requires check_cols")
        valid_from = F.current_timestamp().cast("timestamp_ntz")
    else:
        raise EngineError(f"snapshot {target}: unknown strategy {strategy!r}")

    if not spark.catalog.tableExists(target):
        # a directory a previous process left would fail the create
        db, name = target.split(".")
        index_store.clear_tables(spark, db, (name,))
        _first_snapshot(src, valid_from).write.format("parquet").saveAsTable(target)
        return

    snap = spark.table(target)
    data_cols = [c for c in snap.columns if c not in _META]
    if sorted(data_cols) != sorted(src.columns):
        raise EngineError(
            f"snapshot {target}: body columns {sorted(src.columns)} do not match "
            f"snapshot schema {sorted(data_cols)}"
        )
    history = snap.filter(F.col("dbt_valid_to").isNotNull())
    current = snap.filter(F.col("dbt_valid_to").isNull())

    cur = current.alias("cur")
    new = _first_snapshot(src, valid_from).alias("new")
    key = F.col(f"cur.{unique_key}") == F.col(f"new.{unique_key}")
    joined = cur.join(new, key, "full_outer")

    if strategy == "timestamp":
        changed = F.col(f"new.{updated_at}").cast("timestamp_ntz") > F.col(
            f"cur.{updated_at}"
        ).cast("timestamp_ntz")
    else:
        changed = F.lit(False)
        for c in check_cols:
            changed = changed | ~F.col(f"new.{c}").eqNullSafe(F.col(f"cur.{c}"))

    cur_key = F.col(f"cur.{unique_key}")
    new_key = F.col(f"new.{unique_key}")
    sel_cur = [F.col(f"cur.{c}").alias(c) for c in data_cols]
    sel_new = [F.col(f"new.{c}").alias(c) for c in data_cols]

    # Unchanged current rows (keys absent from the body stay open by
    # default; with invalidate_hard_deletes they close at the clock).
    if invalidate_hard_deletes:
        kept = joined.filter(
            cur_key.isNotNull()
            & new_key.isNotNull()
            & ~F.coalesce(changed, F.lit(False))
        ).select(*sel_cur, F.col("cur.dbt_valid_from"), F.col("cur.dbt_valid_to"))
        hard_closed = joined.filter(cur_key.isNotNull() & new_key.isNull()).select(
            *sel_cur,
            F.col("cur.dbt_valid_from"),
            F.current_timestamp().cast("timestamp_ntz").alias("dbt_valid_to"),
        )
        kept = kept.unionByName(hard_closed)
    else:
        kept = joined.filter(
            cur_key.isNotNull()
            & (new_key.isNull() | ~F.coalesce(changed, F.lit(False)))
        ).select(*sel_cur, F.col("cur.dbt_valid_from"), F.col("cur.dbt_valid_to"))
    # Changed keys: the old version closes at the new version's start.
    closed = joined.filter(
        cur_key.isNotNull() & new_key.isNotNull() & changed
    ).select(
        *sel_cur,
        F.col("cur.dbt_valid_from"),
        F.col("new.dbt_valid_from").alias("dbt_valid_to"),
    )
    # New keys + new versions of changed keys open as current.
    opened = joined.filter(
        new_key.isNotNull() & (cur_key.isNull() | changed)
    ).select(*sel_new, F.col("new.dbt_valid_from"), F.col("new.dbt_valid_to"))

    next_state = history.unionByName(kept).unionByName(closed).unionByName(opened)

    # the next state reads the target, so it cannot overwrite it
    # directly: stage, then commit by directory rename
    index_store.staged_overwrite(spark, *target.split("."), next_state)
