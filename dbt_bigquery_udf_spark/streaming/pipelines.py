"""Structured Streaming pipelines over the ``events`` table.

The reference has no streaming constructs (SURVEY.md §2.3); this module
is part of the driver-mandated extension surface: event-time windowed
aggregation with watermarks, session windows for late-data-aware
sessionization, and a custom stateful operator via
``applyInPandasWithState``.

Each pipeline runs as a real streaming query (``readStream`` -> state ->
``writeStream``), executed here with ``trigger(availableNow=True)`` over
a staged file source so results are bounded and deterministic — which
makes the first two pipelines *oracle-checkable*:

- the hourly rollup runs in complete mode (full result, no watermark
  dependence), equal to the batch GROUP BY;
- the session rollup runs in append mode, so only watermark-closed
  sessions emit — the oracle mirrors that retention rule exactly
  (``session_end <= max(ts)``), making streaming late-data semantics
  themselves part of the checked contract.

100 TB / production design notes: the file source becomes Kafka (or any
rate-limited source) unchanged — every transformation here is
source-agnostic. State (session windows, per-user state) is keyed by
user_id, so it shards across executors with the shuffle; watermarks
bound state size; RocksDB state store + checkpointing to object storage
are config, not code. ``availableNow`` is also the production backfill
trigger (bounded reprocessing of a large backlog with the same query).
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..queries import register
from ..operators.streams import (
    run_available_now,
    scratch_dir,
    stage_source_dir,
    state_partitions,
)
from ..operators.util import local_rows_df
from ..sources.registry import read_source, source_schema


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the staged events directory, with the schema
    the source registry inferred for ``events.parquet`` (no footer job).

    ``ts`` arrives as nanosecond longs (see sources/registry.py) and is
    converted to TIMESTAMP (session TZ is UTC) because event-time
    watermarks require TIMESTAMP, not TIMESTAMP_NTZ.
    """
    stage = stage_source_dir(sf_dir, "events")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    ev = spark.readStream.schema(source_schema(spark, sf_dir, "events")).parquet(stage)
    if dict(ev.dtypes).get("ts") in ("bigint", "long"):
        ev = ev.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    else:
        # "timestamp_ltz" is spelled out: the session sets
        # spark.sql.timestampType=TIMESTAMP_NTZ, which rebinds the bare
        # "timestamp" keyword to NTZ — and watermarks require LTZ.
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    return ev


def _run_to_memory(out: DataFrame, mode: str) -> DataFrame:
    """Execute a bounded streaming query into a memory sink and return
    the result table. The sink's view is dropped once the returned frame
    has resolved it, so the rows live as long as that frame, not as long
    as the session. The memory sink is the test/driver harness; the
    production sink is parquet/Kafka via the same ``writeStream``."""
    spark = out.sparkSession
    name = "q" + uuid.uuid4().hex[:12]
    with state_partitions(spark):
        run_available_now(
            out.writeStream.format("memory").queryName(name).outputMode(mode)
        )
    result = spark.table(name)
    spark.catalog.dropTempView(name)
    return result


# -- watermarked tumbling-window rollup ------------------------------------


@register(
    "stream_hourly_rollup",
    """
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           count(*) AS n, round(sum(value), 2) AS value_sum
    FROM events
    GROUP BY 1, 2
    """,
    lifecycle=True,
)
def stream_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window rollup (1h event-time windows).

    Complete output mode: the memory sink holds the final full result,
    equal to the batch GROUP BY — the oracle-checkable configuration.
    (Append mode + watermark is the incremental-sink configuration; the
    session rollup below exercises that path.)
    """
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("value_sum"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("hour_start"),
            "event_type",
            "n",
            "value_sum",
        )
    )
    return _run_to_memory(agg, "complete")


# -- session windows with watermark (append mode) --------------------------


@register(
    "stream_sessionize",
    """
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), s AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM gaps
    ), agg AS (
      SELECT user_id,
             min(ts) AS session_start,
             max(ts) + INTERVAL 30 MINUTE AS session_end,
             count(*) AS n_events
      FROM s GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end, n_events
    FROM agg
    WHERE session_end <= (SELECT max(ts) FROM events)
    """,
    lifecycle=True,
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization via ``session_window`` (30-min gap) with
    a watermark, append mode.

    Append mode emits only sessions the watermark has closed — sessions
    still open at end-of-stream are retained in state, not emitted. The
    oracle mirrors exactly that late-data rule (sessions with
    ``last_event + 30min <= max(ts)``), so streaming watermark
    semantics are themselves oracle-checked, not just row-counted.
    """
    ev = read_events_stream(spark, sf_dir)
    sess = (
        ev.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").cast("timestamp_ntz").alias("session_start"),
            F.col("sw.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )
    return _run_to_memory(sess, "append")


# -- custom stateful operator (applyInPandasWithState) ---------------------

_USER_STATE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("value_sum", T.DoubleType()),
        T.StructField("n_event_types", T.IntegerType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("vsum", T.DoubleType()),
        T.StructField("types", T.ArrayType(T.StringType())),
    ]
)


def _update_user_state(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user running totals — the custom-stateful-operator shape
    (fraud counters, rate limiters, CDC merge all look like this).
    State update is commutative over batches; output is the state after
    each batch's update."""
    if state.exists:
        n, vsum, types = state.get
        types = list(types)
    else:
        n, vsum, types = 0, 0.0, []
    for pdf in pdfs:
        n += len(pdf)
        vsum += float(pdf["value"].sum())
        for t in pdf["event_type"].unique():
            if t not in types:
                types.append(t)
    state.update((n, vsum, types))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "value_sum": [round(vsum, 2)],
            "n_event_types": [len(types)],
        }
    )


@register(
    "stream_user_state",
    """
    SELECT user_id, count(*) AS n_events,
           round(sum(value), 2) AS value_sum,
           CAST(count(DISTINCT event_type) AS INT) AS n_event_types
    FROM events
    GROUP BY user_id
    """,
    lifecycle=True,
)
def stream_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming via ``applyInPandasWithState``:
    per-user running totals + distinct-event-type cardinality.

    With ``availableNow`` over the staged source the run is a single
    microbatch, so the emitted state equals the batch GROUP BY and the
    oracle comparison is exact. In continuous operation the same code
    emits monotone per-batch updates (update mode); state is sharded by
    the grouping key across executors and bounded by per-key size, with
    timeouts available for eviction.
    """
    ev = read_events_stream(spark, sf_dir)
    out = (
        ev.select("user_id", "event_type", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_state,
            outputStructType=_USER_STATE_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _run_to_memory(out, "update")


# -- streaming deduplication -----------------------------------------------


@register(
    "stream_dedup",
    """
    SELECT DISTINCT user_id, event_type,
           date_trunc('minute', ts) AS minute_start
    FROM events
    """,
    lifecycle=True,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: at most one record per
    (user, event_type, minute) — the at-least-once-source dedup /
    event-throttling operator.

    ``dropDuplicates`` over streaming state; the watermark on the
    minute-bucket column lets the state store evict buckets older than
    the delay instead of growing forever — THE production requirement
    for continuous dedup. Over the staged single-file source the run is
    one microbatch (watermark advances only after it), so no row is
    late and the result equals batch SELECT DISTINCT — which is the
    oracle.

    Scale: state is sharded by key across executors; eviction bounds it
    to |active keys within the watermark horizon|. For exactly-once
    sinks, pair with idempotent writes keyed on the dedup key.
    """
    ev = read_events_stream(spark, sf_dir)
    deduped = (
        ev.select(
            "user_id",
            "event_type",
            F.date_trunc("minute", F.col("ts")).alias("minute_start"),
        )
        .withWatermark("minute_start", "1 hour")
        .dropDuplicates(["user_id", "event_type", "minute_start"])
        .select(
            "user_id",
            "event_type",
            F.col("minute_start").cast("timestamp_ntz").alias("minute_start"),
        )
    )
    return _run_to_memory(deduped, "append")


# -- stream-static join ----------------------------------------------------


@register(
    "stream_static_join",
    """
    WITH user_profile AS (
      SELECT user_id, count(*) AS lifetime_events,
             round(sum(value), 2) AS lifetime_value
      FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, e.event_type,
           p.lifetime_events, p.lifetime_value
    FROM events e JOIN user_profile p USING (user_id)
    WHERE e.event_type = 'purchase'
    """,
    lifecycle=True,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: enrich a live event stream with a batch-built
    dimension (per-user lifetime profile) — the feature-enrichment shape
    of every online-training feed.

    The static side is a batch DataFrame re-resolved per microbatch;
    Spark plans it as a broadcast into each batch when it fits (it's an
    aggregate of |users| rows here). No state, no watermark: stream
    rows join whatever the dimension holds at batch time — the oracle
    is the equivalent batch join since the profile is built from the
    same bounded input.

    Scale: the canonical pattern for slowly-changing dims is exactly
    this plus a Delta/parquet-refreshed static table; for fast dims,
    stream-stream joins with watermarks take over.
    """
    ev = read_events_stream(spark, sf_dir)
    profile = read_source(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("lifetime_events"),
        F.round(F.sum("value"), 2).alias("lifetime_value"),
    )
    out = (
        ev.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "event_type")
        .join(profile, "user_id")
        .select(
            "event_id", "user_id", "event_type", "lifetime_events", "lifetime_value"
        )
    )
    return _run_to_memory(out, "append")


# -- stream-stream join ----------------------------------------------------


@register(
    "stream_stream_join",
    """
    SELECT p.event_id AS purchase_id, p.user_id,
           p.ts AS purchase_ts, c.event_id AS click_id, c.ts AS click_ts
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
    """,
    lifecycle=True,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks: each purchase joined to
    the same user's clicks in the preceding 30 minutes — the both-sides-
    live attribution shape (stream_static_join's dimension side is
    batch; here both inputs flow).

    Both streams carry watermarks and the join condition bounds event
    time on BOTH sides, which is what lets Spark evict click state once
    the purchase-side watermark passes `click.ts + 30min` — without the
    time bound, stream-stream join state grows forever. With
    ``availableNow`` over the staged single file the run is one
    microbatch, so nothing is evicted early and the result equals the
    batch interval join — the oracle.

    Scale: state shards by user_id across executors; per-key state is
    bounded by the 30-minute window; late events beyond the watermark
    drop deterministically.
    """
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "inner",
    ).select(
        "purchase_id",
        "user_id",
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        "click_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
    )
    return _run_to_memory(joined, "append")


# -- foreachBatch sink (production write path) -----------------------------


@register(
    "stream_foreachbatch_sink",
    """
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           count(*) AS n, round(sum(value), 2) AS value_sum
    FROM events GROUP BY 1, 2
    """,
    lifecycle=True,
)
def stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming aggregation delivered through ``foreachBatch`` into a
    parquet table — the production sink path (the memory sink used by
    the other pipelines is a test harness; real deployments land each
    micro-batch with an idempotent batch write exactly like this).

    Each batch's updated (hour, event_type) rows overwrite their
    partitions dynamically: re-delivery of a batch rewrites the same
    partitions with the same data, giving effectively-once output on
    top of at-least-once batch delivery. With ``availableNow`` over the
    staged source the final table equals the batch GROUP BY — the
    oracle.

    Scale: the sink write inherits the aggregation's partitioning;
    dynamic partition overwrite keeps re-deliveries idempotent without
    a transactional table format (Delta/Iceberg upgrade this module to
    MERGE, nothing else changes).
    """
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("hour_start"),
            "event_type",
            "n",
            "value_sum",
        )
    )
    out_dir = scratch_dir("fb_sink", sf_dir, ("events.parquet",), fresh=True)

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("event_type")
            .parquet(out_dir)
        )

    with state_partitions(spark):
        run_available_now(
            agg.writeStream.foreachBatch(_write_batch).outputMode("complete")
        )
    out = spark.read.parquet(out_dir)
    # Partition column comes back as the directory key; restore column
    # order to the declared contract.
    return out.select("hour_start", "event_type", "n", "value_sum")


@register(
    "stream_topk_trending",
    """
    WITH counts AS (
      SELECT make_timestamp(CAST(floor(epoch(ts) / 21600) AS BIGINT)
                            * 21600 * 1000000) AS w_start,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT w_start, event_type, n FROM (
      SELECT *, row_number() OVER (PARTITION BY w_start
                                   ORDER BY n DESC, event_type) AS rn
      FROM counts
    ) WHERE rn <= 3
    ORDER BY w_start, n DESC, event_type
    """,
    lifecycle=True,
)
def stream_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending top-k: per 6-hour event-time window, the 3 most frequent
    event types — counted IN the stream, ranked at the serving layer.

    Structured Streaming cannot stack a rank over a streaming aggregate
    (multiple stateful operators on an aggregate output are
    unsupported), and production trending pipelines don't want to: the
    stream maintains the (window, type) counts — the expensive, stateful
    part — and the k-selection is a cheap batch query over the sink,
    re-runnable with any k without replaying the stream. That split is
    what this operator implements and the oracle checks end-to-end.

    Scale: state is |windows x event types| rows — bounded and tiny;
    the memory sink stands in for the serving store. The rank runs over
    the sink table, partitioned by window.
    """
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("w_start"),
            "event_type",
            "n",
        )
    )
    sink = _run_to_memory(agg, "complete")
    w = W.partitionBy("w_start").orderBy(F.col("n").desc(), "event_type")
    return (
        sink.select("w_start", "event_type", "n", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
        .select("w_start", "event_type", "n")
        .orderBy("w_start", F.col("n").desc(), "event_type")
    )


# -- transformWithState (Spark 4 arbitrary-state API) ----------------------
#
# transformWithStateInPandas is the successor to applyInPandasWithState:
# named state variables (value/list/map) instead of one tuple, timers,
# TTL, and initial-state bootstrap, over the RocksDB state store. Its
# Python<->JVM state protocol needs google.protobuf, which this
# container does not ship (and installs are off), so the query GATES on
# that import: the real TWS pipeline when available, else a documented
# fallback to the applyInPandasWithState formulation with identical
# output — same oracle either way.


def _tws_available() -> bool:
    try:  # TWS state protocol dependency (pyspark requires it lazily)
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _make_user_stats_processor():
    """Build the StatefulProcessor class lazily (importable only matters
    when TWS runs; keeps module import dependency-free)."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class UserStats(StatefulProcessor):
        """Per-user running (n_events, value_sum, max value) via a named
        ValueState — the TWS analogue of _update_user_state, plus the
        max() that applyInPandasWithState's single-tuple state makes
        awkward to extend."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState(
                "stats", "n BIGINT, vsum DOUBLE, vmax DOUBLE"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, vsum, vmax = 0, 0.0, float("-inf")
            if self._st.exists():
                n, vsum, vmax = self._st.get()
            for pdf in rows:
                n += len(pdf)
                vsum += float(pdf["value"].sum())
                vmax = max(vmax, float(pdf["value"].max()))
            self._st.update((n, vsum, vmax))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "value_sum": [round(vsum, 2)],
                    "value_max": [round(vmax, 2)],
                }
            )

        def close(self) -> None:
            pass

    return UserStats


@register(
    "stream_transform_with_state",
    """
    SELECT user_id, count(*) AS n_events,
           round(sum(value), 2) AS value_sum,
           round(max(value), 2) AS value_max
    FROM events GROUP BY user_id
    """,
    lifecycle=True,
)
def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming on the Spark 4 transformWithState
    API: per-user running totals in a named ValueState.

    vs applyInPandasWithState (stream_user_state): state is N named,
    independently-typed variables (value/list/map) instead of one
    positional tuple — adding a metric touches one state var, not every
    call site; timers replace timeout polling; TTL and initial-state
    bootstrap are first-class. The state store is RocksDB (required by
    TWS; also the right choice at scale — state spills to disk +
    changelog-checkpoints to object storage instead of living on the
    JVM heap).

    Availability gate: TWS's state protocol imports google.protobuf; in
    environments without it this falls back to the
    applyInPandasWithState formulation with the same output schema and
    semantics (single microbatch over the staged source => both equal
    the batch GROUP BY oracle).
    """
    ev = read_events_stream(spark, sf_dir)
    if _tws_available():
        prev = spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass", None
        )
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        try:
            out = (
                ev.select("user_id", "value")
                .groupBy("user_id")
                .transformWithStateInPandas(
                    statefulProcessor=_make_user_stats_processor()(),
                    outputStructType=(
                        "user_id bigint, n_events bigint, "
                        "value_sum double, value_max double"
                    ),
                    outputMode="Update",
                    timeMode="None",
                )
            )
            return _run_to_memory(out, "update")
        finally:
            if prev is not None:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", prev
                )
            else:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    def _update(key, pdfs, state):
        n, vsum, vmax = 0, 0.0, float("-inf")
        if state.exists:
            n, vsum, vmax = state.get
        for pdf in pdfs:
            n += len(pdf)
            vsum += float(pdf["value"].sum())
            vmax = max(vmax, float(pdf["value"].max()))
        state.update((n, vsum, vmax))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "value_sum": [round(vsum, 2)],
                "value_max": [round(vmax, 2)],
            }
        )

    out = (
        ev.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType=(
                "user_id bigint, n_events bigint, "
                "value_sum double, value_max double"
            ),
            stateStructType="n bigint, vsum double, vmax double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _run_to_memory(out, "update")


# -- checkpoint recovery: kill-and-resume equals one batch pass ------------


@register(
    "stream_recovery_resume",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    GROUP BY event_type
    """,
    lifecycle=True,
)
def stream_recovery_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once restart semantics as a driver-checkable query.

    The pipeline runs TWICE over one shared checkpoint: run 1 sees only
    the even-event_id half of ``events`` (then terminates — the
    simulated crash/deploy), the odd half lands, and run 2 RESUMES from
    the checkpoint. The emitted totals must equal one batch pass over
    ALL events — the oracle — which holds only if the restart neither
    re-counts run 1's data nor drops run 2's. This is the batch-mode
    equivalent of a kill-and-resume (``trigger(availableNow=True)``
    twice over a growing file source), promoting the pytest-only
    evidence in tests/test_stream_recovery.py to a driver-checked row.

    Sums are per-row integer cents so both engines aggregate exactly.

    100 TB: the checkpoint (offsets + state) lives on object storage;
    ``availableNow`` is the production backfill/restart trigger, and
    foreachBatch complete-mode overwrite is the idempotent-sink pattern
    that makes retries safe. The final read-back collect is k-bounded
    (one row per event_type).
    """
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="sg_recovery_")
    src_dir = os.path.join(base, "landing")
    out_dir = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(src_dir)

    events = read_source(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    schema = events.schema
    # Null-safe split key: a NULL event_id satisfies NEITHER `% 2 == 0`
    # nor `% 2 == 1` (NULL predicates are not true), which would drop
    # those rows from both halves while the batch oracle counts them.
    split_key = F.coalesce(F.col("event_id"), F.lit(0)) % 2
    events.filter(split_key == 0).write.parquet(os.path.join(src_dir, "batch_a"))

    def run_once() -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(src_dir)
        )
        agg = stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("cents").alias("value_cents")
        )

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.write.mode("overwrite").parquet(out_dir)

        # the checkpoint pins the state partition count on first run, so
        # both runs resume with the same state layout; a run that times
        # out raises instead of racing run 2 on the same checkpoint
        with state_partitions(spark):
            run_available_now(
                agg.writeStream.outputMode("complete")
                .option("checkpointLocation", ckpt)
                .foreachBatch(sink)
            )

    try:
        run_once()  # run 1: batch A only, then "crash"
        events.filter(split_key == 1).write.parquet(os.path.join(src_dir, "batch_b"))
        run_once()  # run 2: resume from checkpoint, add ONLY batch B
        rows = spark.read.parquet(out_dir).collect()  # k-bounded: |event_type|
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return local_rows_df(spark, 
        rows, "event_type string, n bigint, value_cents bigint"
    )


# -- streaming quality gate --------------------------------------------------


# Local copies of the Gopher gate bounds. NOT imported from
# operators.text: this module's register() calls run at import time, and
# on PYTHON WORKERS the package import enters via operators/__init__
# (unpickling a pandas UDF), where importing text mid-chain registers
# the oracle-composing funnels before the dedup oracles exist
# (KeyError 'dedup_exact' — broke every mapInPandas query). Equality
# with the text.py constants is pinned by
# tests/test_invariants.py::test_stream_gate_bounds_match_gopher.
STREAM_GATE_MIN_WORDS = 5
STREAM_GATE_MAX_WORDS = 10_000_000
STREAM_GATE_MIN_MWL_X10 = 20
STREAM_GATE_MAX_MWL_X10 = 120


def _gate_bounds() -> tuple[int, int, int, int]:
    return (
        STREAM_GATE_MIN_WORDS,
        STREAM_GATE_MAX_WORDS,
        STREAM_GATE_MIN_MWL_X10,
        STREAM_GATE_MAX_MWL_X10,
    )


def _stream_gate_oracle() -> str:
    lo, hi, mlo, mhi = _gate_bounds()
    toks = (
        "list_filter(string_split_regex(lower(trim(text)), "
        "'[ \\t\\n\\f\\r]'), w -> w <> '')"
    )
    return f"""
    WITH sig AS (
      SELECT source,
             len({toks}) AS n,
             length(array_to_string({toks}, '')) AS sum_wl
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE n >= {lo} AND n <= {hi}
                 AND sum_wl * 10 >= n * {mlo}
                 AND sum_wl * 10 <= n * {mhi}) AS BIGINT) AS n_pass,
           round(count(*) FILTER (WHERE n >= {lo} AND n <= {hi}
                 AND sum_wl * 10 >= n * {mlo}
                 AND sum_wl * 10 <= n * {mhi}) * 1e0 / count(*), 6)
             AS pass_frac
    FROM sig GROUP BY source
    """


@register("stream_quality_gate", _stream_gate_oracle(), lifecycle=True)
def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gating IN-STREAM: per-source pass rates for the core
    Gopher bounds (word count, mean word length — equal to the
    quality_gopher_rules constants, pinned by test) computed over a
    document file stream — the
    shape of a live ingestion pipeline where pages are gated as they
    land instead of by a nightly batch pass.

    The gate signals are PER-ROW stateless expressions (split / size /
    array_join-length, all codegen; mean-word-length bounds compare as
    exact integers, sum_wl*10 vs n*bound, so stream and oracle agree
    bit-for-bit); the only state is the |sources|-keyed rollup.
    Complete output mode makes the memory-sink table equal the batch
    GROUP BY — the oracle-checkable configuration; production uses
    append mode + watermark on an arrival-time column with the same
    gate expressions.

    Scale: stateless gating is scan-parallel at any rate; rollup state
    is O(|sources|) per partition. The full Gopher/C4 gate set (line
    fractions, stopwords) is the same per-row shape and rides the same
    stream — this pipeline pins the composition, not a new gate.
    """
    docs = spark.readStream.schema(source_schema(spark, sf_dir, "documents")).parquet(
        stage_source_dir(sf_dir, "documents")
    )
    lo, hi, mlo, mhi = _gate_bounds()
    toks = (
        "filter(split(lower(trim(text)), '[ \\\\t\\\\n\\\\f\\\\r]'), "
        "w -> w <> '')"
    )
    sig = docs.select(
        "source",
        F.expr(f"size({toks})").alias("n"),
        F.expr(f"length(array_join({toks}, ''))").alias("sum_wl"),
    )
    passes = (
        (F.col("n") >= lo)
        & (F.col("n") <= hi)
        & (F.col("sum_wl") * 10 >= F.col("n") * mlo)
        & (F.col("sum_wl") * 10 <= F.col("n") * mhi)
    )
    agg = sig.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(passes, 1).otherwise(0)).cast("bigint").alias("n_pass"),
        F.round(
            F.sum(F.when(passes, 1).otherwise(0))
            * F.lit(1e0)
            / F.count(F.lit(1)),
            6,
        ).alias("pass_frac"),
    )
    return _run_to_memory(agg, "complete")
