"""Multi-format source connectors: CSV, JSON(Lines), ORC, Parquet.

The reference's only physical source is a BigQuery-managed table
(reference: models/udf/source.yml:4-9); the format behind it is opaque
to the SQL layer. A complete engine has to ingest the formats data
actually arrives in, so this module provides one reader per major
format with the scale-relevant options set, plus matching writers used
by the round-trip tests.

Design rules (all three readers):

- **Explicit schema always.** Schema inference reads the data twice
  (CSV/JSON) — a full extra pass at 100 TB — and can silently change
  types between runs. Callers pass the schema or we take it from an
  existing DataFrame.
- **Malformed rows are visible, not dropped.** ``mode=PERMISSIVE`` with
  a ``_corrupt_record`` column for JSON/CSV, so data-quality filters are
  an explicit downstream operator, never silent loss.
- **Splittability matters.** Parquet/ORC split by row group; JSONL and
  CSV split by line only when uncompressed (gzip makes one task per
  file — the classic ingest bottleneck). The writers here emit
  uncompressed CSV/JSONL partwise for that reason.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

__all__ = ["read_any", "write_any", "FORMATS", "avro_available"]

FORMATS: tuple[str, ...] = ("parquet", "orc", "json", "csv", "avro")


_avro_probe: dict[int, bool] = {}


def avro_available(spark: SparkSession) -> bool:
    """Avro is a built-in *external module* (spark-avro jar) not bundled
    with pip pyspark or the bare distribution; this container cannot
    install it, so the format is gated. Probe once per session by
    resolving the datasource itself (a classloader check is a false
    positive here: avro-the-library ships without spark-avro-the-
    datasource). At scale Avro matters as the *row-oriented
    interchange* format (Kafka payloads, schema-registry pipelines) —
    columnar analytics still land in Parquet/ORC."""
    key = id(spark)
    if key not in _avro_probe:
        try:
            spark.read.format("avro").schema("__p INT").load(
                "/__avro_probe_nonexistent__"
            )
            _avro_probe[key] = True
        except Exception as e:  # noqa: BLE001 — message-dispatch probe
            _avro_probe[key] = "Failed to find data source" not in str(e)
    return _avro_probe[key]


def read_any(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema: T.StructType | str | None = None,
    multi_line: bool = True,
) -> DataFrame:
    """Read ``path`` in ``fmt`` with engine-standard options.

    Parquet/ORC carry their own schema; CSV/JSON require one (explicit
    schema is mandatory here — inference is a second full scan at
    scale).

    ``multi_line`` (CSV only): True is the correctness default — quoted
    fields with embedded newlines parse correctly, but every file
    becomes single-split on read. A caller that KNOWS its corpus has no
    embedded newlines (machine-generated exports, one-record-per-line
    contracts) passes False to recover intra-file split parallelism —
    the 100 TB dial the round-6 blanket default removed.
    """
    if fmt not in FORMATS:
        raise ValueError(f"unsupported source format {fmt!r}; one of {FORMATS}")
    reader = spark.read
    if fmt == "parquet":
        return reader.parquet(path)
    if fmt == "orc":
        return reader.orc(path)
    if fmt == "avro":
        if not avro_available(spark):
            raise RuntimeError(
                "avro requires the spark-avro module on the classpath "
                "(not bundled with pip pyspark; add "
                "org.apache.spark:spark-avro via spark.jars.packages)"
            )
        return reader.format("avro").load(path)
    if schema is None:
        raise ValueError(f"{fmt} sources require an explicit schema (no inference)")
    reader = reader.schema(schema)
    if fmt == "json":
        return (
            reader.option("mode", "PERMISSIVE")
            # Spark's default JSON timestamp format is millisecond-precision;
            # force microseconds so nanosecond-born event times survive.
            .option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]")
            .json(path)
        )
    return (
        reader.option("header", "true")
        .option("mode", "PERMISSIVE")
        # Embedded newlines inside quoted fields: without multiLine the
        # reader splits records at raw line breaks and PERMISSIVE
        # silently null-fills the fragments (caught by the property-diff
        # roundtrip on newline-bearing strings). multiLine makes each
        # FILE single-split on read — see the multi_line docstring note
        # for when to turn it off.
        .option("multiLine", "true" if multi_line else "false")
        # ISO-8601 with optional sub-second — matches the writer below.
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")
        .csv(path)
    )


def write_any(df: DataFrame, path: str, fmt: str, mode: str = "overwrite") -> None:
    """Write ``df`` to ``path`` in ``fmt`` (round-trip test harness and
    export sink). CSV keeps a header; JSONL/CSV stay uncompressed so
    the files remain line-splittable on read."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported sink format {fmt!r}; one of {FORMATS}")
    writer = df.write.mode(mode)
    if fmt == "parquet":
        writer.parquet(path)
    elif fmt == "orc":
        writer.orc(path)
    elif fmt == "avro":
        if not avro_available(df.sparkSession):
            raise RuntimeError(
                "avro requires the spark-avro module on the classpath "
                "(not bundled with pip pyspark)"
            )
        writer.format("avro").save(path)
    elif fmt == "json":
        writer.option(
            "timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]"
        ).json(path)
    else:
        (
            writer.option("header", "true")
            .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")
            .csv(path)
        )
