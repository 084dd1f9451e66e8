"""Bounded file streams: how a stream source is staged and how a
streaming query is run to completion, written once for every streaming
query in the engine.

Every streaming query reads a directory of parquet files under one
staging root, ``.stream-staging`` at the repository root, and runs with
``trigger(availableNow=True)``: it processes what the directory holds
when it starts, then stops, so its result is bounded and deterministic.
In production the directory is a landing prefix (or a Kafka topic) and
the same query runs with a continuous trigger.

* :func:`scratch_dir` names a staging or sink directory, keyed on the
  corpus fingerprint;
* :func:`stage_source_dir` stages one source table as a single-file
  directory of symlinks, :func:`stage_batches` stages a list of frames
  as one file per micro-batch;
* :func:`run_available_now` starts a configured writer, waits for it,
  and stops it and raises on timeout;
* :func:`state_partitions` sizes shuffle partitions for a stateful
  query;
* :func:`stream_batches` runs a per-file micro-batch gate into a parquet
  sink.

Importing this module registers no query.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from contextlib import contextmanager
from typing import Callable, Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructType

from ..sources.registry import corpus_fingerprint

STAGING_ROOT = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "..", ".stream-staging")
)
# seconds run_available_now waits for a query to drain its source
AWAIT_TIMEOUT_S = 600
# a stage_batches directory and the schema of its files
Staged = tuple[str, StructType]


def scratch_dir(
    kind: str, sf_dir: str, files: Sequence[str], fresh: bool = False
) -> str:
    """Deterministic staging subdirectory ``<kind>_<fingerprint>``, keyed
    on the CORPUS FINGERPRINT of ``files`` under ``sf_dir`` — the same
    identity rule as ``index_store.index_db_name``: a corpus regenerated
    in place (same path, new data) resolves to a NEW directory, so staged
    arrival files from the old corpus are never replayed against the new
    one. Names are stable across runs, so per-run artifacts don't
    accumulate: pass ``fresh=True`` for a sink that must start each run
    empty (the previous run's directory is removed and rewritten in
    place instead of leaking one uuid-named directory per run)."""
    d = os.path.join(STAGING_ROOT, f"{kind}_{corpus_fingerprint(sf_dir, files)}")
    if fresh:
        shutil.rmtree(d, ignore_errors=True)
    return d


def stage_source_dir(sf_dir: str, table: str) -> str:
    """File-stream sources read directories; a source table is a single
    parquet file. Stage a directory holding one symlink to
    ``<sf_dir>/<table>.parquet`` (O(1), no data copy) and return it.
    Sibling ``<table>_*`` stages whose symlink dangles (their corpus was
    deleted) are removed first, so stages of temporary corpora do not
    pile up."""
    name = f"{table}.parquet"
    for old in glob.glob(os.path.join(STAGING_ROOT, f"{table}_*", name)):
        if not os.path.exists(old):
            shutil.rmtree(os.path.dirname(old), ignore_errors=True)
    stage = scratch_dir(table, sf_dir, (name,))
    link = os.path.join(stage, name)
    if not os.path.lexists(link):
        os.makedirs(stage, exist_ok=True)
        os.symlink(os.path.abspath(os.path.join(sf_dir, name)), link)
    return stage


def stage_batches(
    spark: SparkSession,
    kind: str,
    sf_dir: str,
    source: str,
    frames: Sequence[DataFrame],
) -> Staged:
    """Stage ``frames`` as ``b0.parquet``, ``b1.parquet``, ... in
    :func:`scratch_dir` ``(kind, sf_dir, (source,))``, one file per
    frame, with modification times 60 s apart in list order: the file
    source orders by modification time, so reading one file per trigger
    delivers them as micro-batches 0, 1, ... in that order. The
    directory is reused once every file exists, so a repeat call writes
    nothing and starts no Spark job.

    Returns ``(directory, schema)``, the schema being the frames' own,
    so the stream reading the directory never infers it from the files.
    """
    stage = scratch_dir(kind, sf_dir, (source,))
    files = [os.path.join(stage, f"b{i}.parquet") for i in range(len(frames))]
    if not all(os.path.exists(f) for f in files):
        os.makedirs(stage, exist_ok=True)
        t0 = time.time() - 60 * len(frames)
        for i, (frame, dest) in enumerate(zip(frames, files)):
            tmp = os.path.join(stage, f".tmp{i}")
            frame.coalesce(1).write.mode("overwrite").parquet(tmp)
            shutil.move(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], dest)
            shutil.rmtree(tmp, ignore_errors=True)
            os.utime(dest, (t0 + 60 * i, t0 + 60 * i))
    return stage, frames[0].schema


def run_available_now(writer: DataStreamWriter) -> StreamingQuery:
    """Start ``writer`` with ``trigger(availableNow=True)`` and wait for
    the query to drain its source. ``awaitTermination(timeout)`` returns
    False with the query STILL RUNNING; reading its sink then, or
    re-running it over the same checkpoint, gives partial or wrong
    results, so a query still running after :data:`AWAIT_TIMEOUT_S` is
    stopped and :class:`RuntimeError` is raised.

    Returns the finished query. Its ``recentProgress`` holds one
    progress entry per micro-batch; this is the one place every
    streaming query in the engine passes through."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(AWAIT_TIMEOUT_S):
        q.stop()
        raise RuntimeError(
            f"streaming query did not terminate within {AWAIT_TIMEOUT_S}s"
        )
    return q


@contextmanager
def state_partitions(spark: SparkSession) -> Iterator[None]:
    """Shuffle partitions for a STATEFUL streaming query, for the length
    of the block: ``defaultParallelism // 4``, at least 8. The state
    store opens one instance per partition per micro-batch, so
    oversizing buys pure overhead (measured 1.3 s -> 0.85 s at
    local[32]), and the count still scales with the cluster (250 at
    1000 cores). A checkpoint pins the count on its first run, as in any
    Spark deployment. The previous value is restored on exit, also when
    the block raises. Stateless gates do not enter it: their batch jobs
    keep the session's own count."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(max(8, spark.sparkContext.defaultParallelism // 4)))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def stream_batches(
    spark: SparkSession,
    staged: Staged,
    on_batch: Callable[[DataFrame], DataFrame],
    out_dir: str,
) -> DataFrame:
    """Stream a :func:`stage_batches` directory, one file per
    micro-batch, through ``on_batch`` into a parquet sink at ``out_dir``
    (which should start empty: ``scratch_dir(..., fresh=True)``).

    ``on_batch(batch_df)`` runs once per file, in staging order, and
    returns a frame; that frame, with the micro-batch id prepended as
    the int column ``batch_id`` (0, 1, ...), is appended to the sink
    before the next file is read. Returns the sink, read with the schema
    the batches wrote, so no schema-inference job runs on either side.
    """
    stage, schema = staged
    written: list[StructType] = []

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        out = on_batch(batch_df).select(
            F.lit(int(batch_id)).cast("int").alias("batch_id"), "*"
        )
        out.write.mode("append").parquet(out_dir)
        written.append(out.schema)

    source = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    )
    run_available_now(source.writeStream.foreachBatch(_sink))
    if not written:
        raise RuntimeError(f"no micro-batch ran over {stage}")
    return spark.read.schema(written[-1]).parquet(out_dir)
