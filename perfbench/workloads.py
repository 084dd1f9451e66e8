"""The benchmark's workloads.

Each workload generates its inputs from the seed, sets the engine up,
and then runs a closed loop with one client: the next step starts only
after the previous one returned. A step is one timed unit (a query, or
a whole project build) and yields one or more operations.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import datagen
import host
import pandas as pd
import project_gen
import tracing

# Index-mutating queries: the write path through the persisted indexes.
INDEX_MARKERS = (
    "_indexed", "_admission", "_forget", "_auto_compacted", "_upsert",
    "_retrain", "pipeline_incremental",
)
# Left out so that a run, set-up and a cold pass together, stays under
# a minute on 4 cores: of each kind of index mutation one query stays
# in the pass (stream_exact_admission, which also carries the streaming
# layer, stands for the admissions; pipeline_incremental_admission alone
# took 13-17 s of a 45 s cold pass). Each query builds or adopts its own
# index, so none depends on a skipped one.
SKIPPED_INDEX_QUERIES = frozenset({
    # streaming gates
    "stream_near_dup_admission", "stream_near_dup_forget", "stream_exact_forget",
    "stream_ivf_forget", "stream_ivf_admission",
    # further retrains, indexed builds and forgets
    "sim_ivf_retrain_epoch2", "sim_ivf_retrain_policy", "dedup_incr_near_indexed",
    "dedup_incr_exact_indexed", "dedup_index_forget", "sim_ivf_forget",
    # a second auto-compaction, and the incremental pipeline
    "dedup_near_auto_compacted", "pipeline_incremental_admission",
})
_MB = 1024.0 * 1024.0
# One client: models materialize one at a time. On 4 cores, 4 threads
# built 40 models no faster (the catalog lock serializes them) and
# queueing on that lock made per-model latency the noisiest metric.
BUILD_THREADS = 1
# the first builds in a JVM run up to 2x slower while the JIT warms;
# after two the drop slows (about 5% a build), and since every run
# times the same builds, every run sees the same drift
WARMUP_BUILDS = 2


def index_queries(names) -> list[str]:
    """The index-mutating queries, in registry order."""
    return [
        n for n in names
        if any(m in n for m in INDEX_MARKERS) and n not in SKIPPED_INDEX_QUERIES
    ]


@dataclass
class Step:
    """One timed unit of work and what it measured. ``steal`` is the
    share of the machine's CPU time the hypervisor stole while the step
    ran; ``wall`` and ``latencies`` are net of it (times ``1 - steal``),
    which is about what the step takes on an uncontended host: every
    thread loses CPU to steal at the machine's rate."""

    latencies: list[float]
    failed: int
    wall: float
    cpu: float
    traced: bool
    layers: dict = field(default_factory=dict)
    name: str = ""
    steal: float = 0.0


class Context:
    """What every workload needs: paths, seed, Spark, tracing handles."""

    def __init__(self, root: str, work: str, seed: int, cores: int, traced: bool):
        self.root, self.work, self.seed = root, work, seed
        self.cores, self.traced = cores, traced
        self.spark = None
        self.spans = tracing.Spans()
        self.tracer: tracing.Tracer | None = None
        self.probe: tracing.SparkProbe | None = None
        self.streams: tracing.StreamingCounter | None = None
        self.warehouse = os.path.join(work, "warehouse")
        self.op_id = 0

    def next_op(self) -> int:
        self.op_id += 1
        self.spans.op_id = self.op_id
        if self.streams is not None:
            self.streams.op_id = self.op_id
        return self.op_id

    def probe_start(self):
        """Spark and warehouse state before a step of a traced run. Read
        outside the timed region, so it is taken on every step."""
        if self.probe is None:  # untraced run, or warm-up
            return None
        return self.probe.next_job_id(), tracing.fs_state(self.warehouse)

    def probe_end(self, start, op: int, wall: float) -> dict:
        """Spark job and warehouse totals of the step begun at ``start``."""
        if start is None:
            return {}
        first_job, fs_before = start
        jobs = self.probe.jobs(first_job, self.probe.next_job_id())
        written, created = tracing.fs_written(fs_before, tracing.fs_state(self.warehouse))
        batches, batch_s = self.streams.for_op(op)
        return {
            "spark.jobs": jobs["jobs"],
            "spark.stages": jobs["stages"],
            "spark.tasks": jobs["tasks"],
            "spark.executor_run_s": jobs["run_s"],
            "spark.executor_cpu_s": jobs["cpu_s"],
            "spark.gc_s": jobs["gc_s"],
            "spark.input_mb": jobs["input_mb"],
            "spark.output_mb": jobs["output_mb"],
            "spark.shuffle_read_mb": jobs["shuffle_read_mb"],
            "spark.shuffle_write_mb": jobs["shuffle_write_mb"],
            "spark.spill_mb": jobs["spill_mb"],
            "_slot_capacity_s": wall * self.cores,
            "_job_spans_ms": jobs["job_spans_ms"],
            "warehouse.bytes_written_mb": written / _MB,
            "warehouse.files_created": created,
            "streaming.batches": batches,
            "streaming.batch_s": batch_s,
        }

    def span_layers(self, op: int) -> dict:
        """Layer totals from the span wrappers, for a step they were on for."""
        ddl_n, ddl_s = self.spans.layer_seconds("catalog.ddl", op)
        idx_n, idx_s = self.spans.layer_seconds("index_store.", op)
        return {
            "catalog.ddl_count": ddl_n,
            "catalog.ddl_s": ddl_s,
            "index_store.calls": idx_n,
            "index_store.s": idx_s,
            "lease.s": self.spans.layer_seconds("lease.", op)[1],
            "models.render_s": self.spans.layer_seconds("models.render", op)[1],
        }


_EPOCH = time.time() - time.perf_counter()


def _wall_ms(perf: float) -> float:
    return (_EPOCH + perf) * 1e3


def _db_bytes(warehouse: str, keep) -> int:
    total = 0
    for d in os.listdir(warehouse):
        if d.endswith(".db") and keep(d.removesuffix(".db")):
            total += sum(v[0] for v in tracing.fs_state(os.path.join(warehouse, d)).values())
    return total


def _oracle_rows(con, sql: str):
    """Column names and rows of a DuckDB oracle, canonicalized the way
    the engine's driver-replica comparison does it (dtype-sensitive)."""
    from dbt_bigquery_udf_spark.testing import _norm_frame

    pdf = con.execute(sql).fetchdf()
    return sorted(pdf.columns), _norm_frame(pdf)


def _mismatch(expected, columns: list[str], rows) -> str | None:
    """None when the collected ``rows`` match ``expected``, else why not."""
    from dbt_bigquery_udf_spark.testing import _norm_frame

    try:
        got = sorted(columns), _norm_frame(pd.DataFrame([tuple(r) for r in rows], columns=columns))
    except Exception as exc:  # noqa: BLE001 - e.g. an array cell the driver cannot hash
        return f"uncomparable output: {type(exc).__name__}: {exc}"
    (ecols, erows), (gcols, grows) = expected, got
    if ecols != gcols:
        return f"columns {gcols} != oracle {ecols}"
    if len(erows) != len(grows):
        return f"{len(grows)} rows != oracle {len(erows)}"
    for i, (e, g) in enumerate(zip(erows, grows)):
        if e != g:
            return f"row {i}: {g} != oracle {e}"
    return None


def _staging_dirs(root: str) -> set[str]:
    out = set()
    for d in (".stream-staging", ".fmt-staging"):
        p = os.path.join(root, d)
        if os.path.isdir(p):
            out.update(os.path.join(p, e) for e in os.listdir(p))
    return out


class Workload:
    name = ""
    sf = 0.01
    # True while the loop may stop: after the last step of a pass
    pass_end = True
    # seconds a timed pass takes (net of steal) on a 4-core host: a run
    # makes as many whole passes as take about ``--seconds`` there, so
    # every run does the same work however fast the host is at the time
    pass_s = 1.0

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.work, "data", f"sf{self.sf}")
        self.notes: dict = {}
        self.mismatches: dict[str, str] = {}  # operation -> why it failed

    def inputs(self) -> None:
        datagen.write_dataset(self.sf_dir, self.sf, self.ctx.seed)

    def bootstrap(self) -> None:
        """Engine/index bootstrap after sources are registered."""

    def warmup(self) -> list[Step]:
        return []

    def steps(self):
        """Yields callables ``traced -> Step`` forever; the loop stops it."""
        raise NotImplementedError

    def pass_steps(self) -> int:
        return 1

    def live_bytes(self) -> int:
        """Warehouse bytes the last pass left behind."""
        raise NotImplementedError

    def final_check(self) -> int:
        """Failures found in the outputs left after the loop."""
        return 0

    def teardown(self) -> None:
        pass


class IndexLifecycle(Workload):
    name = "index_lifecycle"
    # the first pass in a JVM, which is the timed one: a warm-up pass
    # would halve its time and cost more than a run can spend
    pass_s = 28.0

    def inputs(self) -> None:
        super().inputs()
        from dbt_bigquery_udf_spark import queries as Q

        self.queries, self.oracles = Q.QUERIES, Q.ORACLES
        self.names = index_queries(Q.QUERIES)
        self.notes["queries"] = list(self.names)
        self._con = None
        self._expected: dict[str, object] = {}

    def bootstrap(self) -> None:
        # the index queries build their own indexes; bootstrap only
        # records the catalog they start from, which reset() restores
        self._baseline_dbs = {d.name for d in self.ctx.spark.catalog.listDatabases()}
        self._staging = _staging_dirs(self.ctx.root)

    def reset(self) -> None:
        """Drop every database and staging directory the index queries
        created, so each pass starts from the same empty index state."""
        from dbt_bigquery_udf_spark.operators.index_store import invalidate_db_location

        spark = self.ctx.spark
        for d in spark.catalog.listDatabases():
            if d.name not in self._baseline_dbs:
                spark.sql(f"DROP DATABASE IF EXISTS {d.name} CASCADE")
                invalidate_db_location(d.name)
                shutil.rmtree(os.path.join(self.ctx.warehouse, d.name + ".db"), ignore_errors=True)
        for path in _staging_dirs(self.ctx.root) - self._staging:
            shutil.rmtree(path, ignore_errors=True)
        spark.catalog.clearCache()

    def _expected_rows(self, name: str):
        if name not in self._expected:
            if self._con is None:
                from dbt_bigquery_udf_spark.testing import duckdb_connection

                self._con = duckdb_connection(self.sf_dir)
            self._expected[name] = _oracle_rows(self._con, self.oracles[name])
        return self._expected[name]

    def run(self, name: str, traced: bool) -> Step:
        """One query: the registry call, then ``collect()``, then the
        oracle check (untimed)."""
        ctx = self.ctx
        op = ctx.next_op()
        start = ctx.probe_start()
        cpu0 = host.tree_cpu_seconds()
        ticks0 = host.cpu_ticks()
        t0 = time.perf_counter()
        try:
            df = self.queries[name](ctx.spark, self.sf_dir)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
            error = None
        except Exception as exc:  # noqa: BLE001 - counted as a failed operation
            t1 = t2 = time.perf_counter()
            df, rows, error = None, [], exc
        ticks1 = host.cpu_ticks()
        cpu = host.tree_cpu_seconds() - cpu0
        layers = ctx.probe_end(start, op, t2 - t0)
        if layers:
            lo, hi = _wall_ms(t1), _wall_ms(t2)
            busy = tracing.union_ms(layers.pop("_job_spans_ms"), lo, hi)
            layers.update({
                "operators.plan_s": t1 - t0,
                "driver.collect_s": t2 - t1,
                "driver.gap_s": max(0.0, hi - lo - busy) / 1e3,
                "driver.rows": len(rows),
            })
            if df is not None:
                ph = tracing.catalyst_ms(df)
                layers.update({f"catalyst.{k}_ms": v for k, v in ph.items()})
        if traced:
            layers.update(ctx.span_layers(op))
        ctx.spark.catalog.clearCache()
        if error is not None:
            why = f"raised {type(error).__name__}: {str(error)[:200]}"
        else:
            why = _mismatch(self._expected_rows(name), df.columns, rows)
        if why is not None:
            self.mismatches[name] = why
        steal = host.steal_share(ticks0, ticks1)
        wall = (t2 - t0) * (1.0 - steal)
        return Step([wall], int(why is not None), wall, cpu, traced, layers, name, steal)

    def steps(self):
        while True:
            self.reset()
            for i, name in enumerate(self.names):
                self.pass_end = i == len(self.names) - 1
                yield lambda traced, n=name: self.run(n, traced)

    def pass_steps(self) -> int:
        return len(self.names)

    def live_bytes(self) -> int:
        return _db_bytes(self.ctx.warehouse, lambda db: db not in self._baseline_dbs)

    def teardown(self) -> None:
        self.reset()


class UdfProjectBuild(Workload):
    name = "udf_project_build"
    pass_s = 4.0
    env = "ci"

    def inputs(self) -> None:
        super().inputs()
        from dbt_bigquery_udf_spark.queries import _ORACLE_PRELUDE

        self.project_dir = os.path.join(self.ctx.work, "project")
        self.oracles = project_gen.generate(self.project_dir, self.ctx.seed, _ORACLE_PRELUDE)
        self.notes["models"] = project_gen.N_MODELS

    def bootstrap(self) -> None:
        from dbt_bigquery_udf_spark.models.reference import register_test_table

        register_test_table(self.ctx.spark, persistent=True)

    def _env_dbs(self) -> list[str]:
        from dbt_bigquery_udf_spark.catalog import env_database

        return [env_database(logical, self.env) for logical in ("udf", "datamart")]

    def _drop_env(self) -> None:
        spark = self.ctx.spark
        for db in self._env_dbs():
            if spark.catalog.databaseExists(db):
                # dropped one by one so the session's function registry
                # forgets them too; DROP DATABASE alone leaves it stale
                for row in spark.sql(f"SHOW USER FUNCTIONS IN {db}").collect():
                    spark.sql(f"DROP FUNCTION IF EXISTS {row[0]}")
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
            shutil.rmtree(os.path.join(self.ctx.warehouse, db + ".db"), ignore_errors=True)

    def build(self, traced: bool) -> Step:
        """One build into a fresh env; every model is one operation."""
        from dbt_bigquery_udf_spark.models.core import Engine
        from dbt_bigquery_udf_spark.project import load_project

        ctx = self.ctx
        self._drop_env()
        op = ctx.next_op()
        start = ctx.probe_start()
        cpu0 = host.tree_cpu_seconds()
        ticks0 = host.cpu_ticks()
        t0 = time.perf_counter()
        proj = load_project(self.project_dir, env=self.env)
        t1 = time.perf_counter()
        engine = Engine(ctx.spark, env=self.env)
        engine.register(*proj.models)
        engine.build(threads=BUILD_THREADS, fail_fast=False)
        t2 = time.perf_counter()
        ticks1 = host.cpu_ticks()
        cpu = host.tree_cpu_seconds() - cpu0
        steal = host.steal_share(ticks0, ticks1)
        keep = 1.0 - steal
        results = engine.run_results()["results"]
        for r in results:
            if r["status"] != "success":
                self.mismatches[r["name"]] = r.get("message", r["status"])
        ok = [r["name"] for r in results if r["status"] == "success"]
        # unrounded per-model times behind run_results' execution_time
        latencies = [engine.timings[n] * keep for n in ok]
        layers = ctx.probe_end(start, op, t2 - t0)
        if layers:
            layers.pop("_job_spans_ms")
            layers.update({
                "project.load_s": t1 - t0,
                "project.models": len(proj.models),
                "models.build_wall_s": engine.elapsed,
                "models.materialize_sum_s": sum(engine.timings.values()),
            })
        if traced:
            layers.update(ctx.span_layers(op))
        layers["_ops"] = max(1, len(results))
        return Step(latencies, len(results) - len(ok), (t2 - t0) * keep, cpu, traced, layers,
                    steal=steal)

    def warmup(self) -> list[Step]:
        return [self.build(False) for _ in range(WARMUP_BUILDS)]

    def steps(self):
        while True:
            yield lambda traced: self.build(traced)

    def live_bytes(self) -> int:
        envs = set(self._env_dbs())
        return _db_bytes(self.ctx.warehouse, lambda db: db in envs)

    def final_check(self) -> int:
        """Compare every table model of the last build against its
        DuckDB oracle."""
        from dbt_bigquery_udf_spark.testing import duckdb_connection

        con = duckdb_connection(self.sf_dir)
        db = self._env_dbs()[1]
        failed = 0
        for name, sql in self.oracles.items():
            df = self.ctx.spark.table(f"{db}.{name}")
            why = _mismatch(_oracle_rows(con, sql), df.columns, df.collect())
            if why is not None:
                self.mismatches[name] = why
                failed += 1
        return failed

    def teardown(self) -> None:
        self._drop_env()


WORKLOADS = {w.name: w for w in (UdfProjectBuild, IndexLifecycle)}
