"""The bounded-stream module (``operators/streams.py``): staging, the one
start/await/stop, the stateful-partition context and the micro-batch
gate runner, plus a guard that keeps every other copy of that protocol
out of the package."""

from __future__ import annotations

import io
import os
import shutil
import time
import tokenize

import pytest
from pyspark.sql import functions as F

from dbt_bigquery_udf_spark.operators import streams
from dbt_bigquery_udf_spark.testing import job_ids

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "dbt_bigquery_udf_spark")


@pytest.fixture()
def staging(monkeypatch, tmp_path):
    """A private staging root, so a test never sees another run's files."""
    monkeypatch.setattr(streams, "STAGING_ROOT", str(tmp_path / "staging"))
    return tmp_path / "staging"


def _frames(spark, n):
    return [spark.range(10 * i, 10 * i + 3 + i).toDF("id") for i in range(n)]


def test_stage_batches_orders_mtimes_and_reuses_the_directory(
    spark, sf_small, staging
):
    frames = _frames(spark, 3)
    stage, schema = streams.stage_batches(
        spark, "t_stage", sf_small, "documents.parquet", frames
    )
    assert os.path.dirname(stage) == str(staging)
    files = [os.path.join(stage, f"b{i}.parquet") for i in range(3)]
    assert sorted(os.listdir(stage)) == [os.path.basename(f) for f in files]

    def stats():
        return [(s.st_ino, s.st_size, s.st_mtime_ns) for s in map(os.stat, files)]

    written = stats()
    mtimes = [m for _, _, m in written]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    assert schema == frames[0].schema
    assert spark.read.parquet(files[2]).count() == 5

    with job_ids(spark) as ids:
        again = streams.stage_batches(
            spark, "t_stage", sf_small, "documents.parquet", frames
        )
    assert ids == []
    assert again == (stage, schema)
    assert stats() == written


def test_stream_batches_runs_each_file_in_order_into_the_sink(
    spark, sf_small, staging
):
    frames = _frames(spark, 2)
    staged = streams.stage_batches(
        spark, "t_gate", sf_small, "documents.parquet", frames
    )
    seen: list[list[int]] = []

    def on_batch(batch_df):
        seen.append(sorted(r.id for r in batch_df.collect()))
        return batch_df.select((F.col("id") * 2).alias("v"))

    out_dir = streams.scratch_dir("t_sink", sf_small, (), fresh=True)
    with job_ids(spark) as ids:
        sink = streams.stream_batches(spark, staged, on_batch, out_dir)
    # the micro-batches run on the stream's own thread: the caller's
    # thread infers no schema, neither of the staged files nor of the sink
    assert ids == []
    assert seen == [[0, 1, 2], [10, 11, 12, 13]]
    assert sink.columns == ["batch_id", "v"]
    assert dict(sink.dtypes)["batch_id"] == "int"
    rows = sorted((r.batch_id, r.v) for r in sink.collect())
    assert rows == [(0, 0), (0, 2), (0, 4), (1, 20), (1, 22), (1, 24), (1, 26)]


def test_run_available_now_stops_and_raises_on_timeout(
    spark, sf_small, staging, monkeypatch
):
    stage, schema = streams.stage_batches(
        spark, "t_slow", sf_small, "documents.parquet", _frames(spark, 1)
    )
    monkeypatch.setattr(streams, "AWAIT_TIMEOUT_S", 1)
    writer = (
        spark.readStream.schema(schema)
        .parquet(stage)
        .writeStream.foreachBatch(lambda df, i: time.sleep(5))
    )
    with pytest.raises(RuntimeError, match="did not terminate within 1s"):
        streams.run_available_now(writer)
    assert spark.streams.active == []


def test_state_partitions_restores_the_session_value_when_the_body_raises(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    want = str(max(8, spark.sparkContext.defaultParallelism // 4))
    try:
        spark.conf.set(key, "7")
        with pytest.raises(ValueError):
            with streams.state_partitions(spark):
                assert spark.conf.get(key) == want
                raise ValueError("body failed")
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, before)


@pytest.mark.parametrize("name", ["stream_quality_gate", "stream_static_join"])
def test_warm_pipeline_reads_no_footer(spark, sf_small, name):
    """The staged file's schema comes from the source registry's one
    inference per session: a warm stateful pipeline starts no Spark job
    on the caller's thread (its micro-batches run on the stream's)."""
    from dbt_bigquery_udf_spark.streaming import pipelines

    fn = getattr(pipelines, name)
    assert fn(spark, sf_small).count() > 0
    with job_ids(spark) as ids:
        fn(spark, sf_small)
    assert ids == []


def test_foreachbatch_sink_reuses_one_directory(spark, sf_small):
    from dbt_bigquery_udf_spark.streaming.pipelines import stream_foreachbatch_sink

    root = os.path.join(REPO, ".stream-staging")

    def sinks() -> set[str]:
        return {d for d in os.listdir(root) if d.startswith("fb_sink_")}

    n = stream_foreachbatch_sink(spark, sf_small).count()
    first = sinks()
    assert stream_foreachbatch_sink(spark, sf_small).count() == n > 0
    assert sinks() == first


def test_stage_source_dir_removes_stages_of_deleted_corpora(
    staging, tmp_path, sf_small
):
    import pyarrow as pa
    import pyarrow.parquet as pq

    def corpus(name):
        d = tmp_path / name
        d.mkdir()
        pq.write_table(pa.table({"x": [1]}), d / "events.parquet")
        return str(d)

    gone = corpus("gone")
    first = streams.stage_source_dir(gone, "events")
    live = streams.stage_source_dir(sf_small, "events")
    shutil.rmtree(gone)
    streams.stage_source_dir(corpus("next"), "events")
    assert not os.path.exists(first)
    assert os.path.exists(os.path.join(live, "events.parquet"))


def test_memory_sink_runs_leave_no_view(spark, sf_small):
    """Each run's memory-sink view is dropped once its result is
    resolved; the rows still match the oracle, run after run."""
    import re

    import __spark_entry__ as entrymod
    from dbt_bigquery_udf_spark.streaming.pipelines import stream_hourly_rollup
    from dbt_bigquery_udf_spark.testing import compare_query

    oracle = entrymod.oracle_sql()["stream_hourly_rollup"]
    for _ in range(3):
        res = compare_query(spark, stream_hourly_rollup, oracle, sf_small)
        assert res["status"] == "match", res
    views = [t.name for t in spark.catalog.listTables()]
    assert [v for v in views if re.fullmatch(r"q[0-9a-f]{12}", v)] == []


# Code (not docstrings or comments) that belongs in operators/streams.py
# only: a start/await, an availableNow trigger, an mtime stamp, and a
# footer job to learn a staged directory's schema.
_STREAM_PROTOCOL = (
    ".awaitTermination(",
    ".trigger(availableNow",
    "os.utime(",
    "read.parquet(stage).schema",
)


def _code(path: str) -> str:
    """The file's tokens without comments and string literals, joined
    without whitespace."""
    with open(path) as f:
        toks = tokenize.generate_tokens(io.StringIO(f.read()).readline)
        return "".join(
            t.string
            for t in toks
            if t.type not in (tokenize.COMMENT, tokenize.STRING)
        )


def test_stream_protocol_lives_in_one_module():
    own = os.path.join(PACKAGE, "operators", "streams.py")
    assert all(p in _code(own) for p in _STREAM_PROTOCOL[:3])
    hits = []
    for root, _, files in os.walk(PACKAGE):
        for f in files:
            path = os.path.join(root, f)
            if f.endswith(".py") and path != own:
                code = _code(path)
                hits += [
                    (os.path.relpath(path, REPO), p)
                    for p in _STREAM_PROTOCOL
                    if p in code
                ]
    assert hits == []
