"""SparkSession factory tuned for this engine.

Semantics-bearing settings (each traced to reference behavior):

- ANSI mode ON: BigQuery raises on ``CAST('x' AS INT64)`` and on
  ``PARSE_DATETIME`` mismatch; Spark ANSI mode matches (reference:
  models/udf/function/parse_datetime.sql:15 relies on the final,
  non-SAFE branch erroring).
- ``spark.sql.timestampType=TIMESTAMP_NTZ``: BigQuery ``DATETIME`` is a
  timezone-less civil time; Spark's TIMESTAMP_NTZ is the faithful mapping
  (reference: models/datamart/schema.yml:10 declares the column DATETIME).
- ``spark.sql.legacy.parquet.nanosAsLong=true``: the driver's
  ``events.parquet`` carries ``timestamp[ns]`` which Spark 4 otherwise
  rejects; the source registry converts the resulting nanos-long back to a
  timestamp column.
- AQE on: runtime coalescing + skew-join handling is the 100 TB story for
  the extension operators; harmless locally.

Scale note: shuffle partitions default to the local core count here, but
the factory takes ``shuffle_partitions`` so a cluster deployment sizes it
to ~2-3x total executor cores / target ~128MB-per-partition post-shuffle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "apply_engine_confs", "default_cpus"]

# the checkout's own warehouse, beside the package (``$SPARK_WAREHOUSE_DIR``
# overrides it), so two checkouts never share or adopt each other's indexes
WAREHOUSE_DIR = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", ".spark-warehouse")
)

# Confs that are session-settable at runtime (spark.conf.set) — applied
# also when we receive a foreign SparkSession (the driver's) so engine
# semantics hold regardless of who built the session.
_RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.ansi.enabled": "true",
    "spark.sql.timestampType": "TIMESTAMP_NTZ",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Runtime row-level pruning for non-broadcast joins: the selective
    # side's keys become a bloom filter applied on the probe side's scan
    # stage. Size thresholds stay at Spark's production defaults (the
    # mechanism targets >=10 GB scans); pinned by
    # tests/test_plans.py::test_runtime_bloom_filter_join.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # events.parquet ships timestamp[ns]; see module docstring.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # BigQuery datetime parsing is Java-time-like, not legacy SimpleDateFormat.
    "spark.sql.legacy.timeParserPolicy": "CORRECTED",
}


def apply_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply engine-required runtime confs to an existing session.

    Used when the driver hands us a SparkSession we didn't build.
    Non-settable (static) confs are skipped silently — the source registry
    has fallbacks for the one that matters (nanos parquet read).
    """
    for key, value in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass
    return spark


def default_cpus() -> int:
    """Local cores a session gets by default: ``$SPARK_GRAFT_CPUS`` or
    all local cores."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4


def get_spark(
    app_name: str = "dbt_bigquery_udf_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to :func:`default_cpus`.
    """
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.environ.get(
            "SPARK_WAREHOUSE_DIR", WAREHOUSE_DIR))
    )
    for key, value in _RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    for key, value in (extra_confs or {}).items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # getOrCreate may have returned a pre-existing session: re-assert.
    return apply_engine_confs(spark)
