"""Per-layer tracing for the traced benchmark run.

Everything here observes the engine from outside: wrappers around the
public functions of its modules, Spark's in-process status store, a
streaming listener and the warehouse directory. Nothing is installed
unless ``Tracer.install`` is called, and ``uninstall`` restores every
original.
"""

from __future__ import annotations

import functools
import os
import re
import sys
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

PACKAGE = "dbt_bigquery_udf_spark"
INDEX_STORE_FUNCS = (
    "staged_overwrite", "move_table_files", "snapshot_tables",
    "restore_snapshot", "recover_staged", "clear_tables", "ensure_tables",
)
_CATALOG_SQL = re.compile(
    r"\s*(CREATE|DROP|ALTER|USE|DESCRIBE|DESC|SHOW|TRUNCATE|COMMENT|REFRESH|MSCK)\b",
    re.IGNORECASE,
)
_MB = 1024.0 * 1024.0


class Spans:
    """In-memory span log: (name, start, end, parent index, operation id)."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self.op_id: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "op": self.op_id,
        }
        with self._lock:
            idx = len(self.records)
            self.records.append(rec)
        stack.append(idx)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def layer_seconds(self, prefix: str, op_id: int | None = None) -> tuple[int, float]:
        """(count, seconds) of spans named ``prefix*``, counting only the
        outermost span of that layer so nested calls are not added twice."""
        n, total = 0, 0.0
        for rec in self.records:
            if not rec["name"].startswith(prefix) or rec["end"] is None:
                continue
            if op_id is not None and rec["op"] != op_id:
                continue
            n += 1
            parent = rec["parent"]
            while parent is not None and not self.records[parent]["name"].startswith(prefix):
                parent = self.records[parent]["parent"]
            if parent is None:
                total += rec["end"] - rec["start"]
        return n, total


class _TimedContext:
    """Times the enter and exit of a context manager, not its body."""

    def __init__(self, cm, spans: Spans, name: str) -> None:
        self._cm, self._spans, self._name = cm, spans, name

    def __enter__(self):
        with self._spans.span(self._name + ".acquire"):
            return self._cm.__enter__()

    def __exit__(self, *exc):
        with self._spans.span(self._name + ".release"):
            return self._cm.__exit__(*exc)


def _wrap(fn, spans: Spans, name: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with spans.span(name):
            return fn(*args, **kwargs)

    wrapper._perfbench_span = name
    return wrapper


def _wrap_context(fn, spans: Spans, name: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        return _TimedContext(fn(*args, **kwargs), spans, name)

    wrapper._perfbench_span = name
    return wrapper


def _wrap_sql(fn, spans: Spans):
    @functools.wraps(fn)
    def wrapper(self, sqlQuery, *args, **kwargs):
        if isinstance(sqlQuery, str) and _CATALOG_SQL.match(sqlQuery):
            with spans.span("catalog.ddl"):
                return fn(self, sqlQuery, *args, **kwargs)
        return fn(self, sqlQuery, *args, **kwargs)

    wrapper._perfbench_span = "catalog.ddl"
    return wrapper


def _targets():
    """(owner, attribute, span name, kind) for every traced entry point."""
    from pyspark.sql import SparkSession

    from dbt_bigquery_udf_spark import project
    from dbt_bigquery_udf_spark.models.core import Engine
    from dbt_bigquery_udf_spark.operators import index_store, lease

    out = [
        (project, "load_project", "project.load", "call"),
        (Engine, "render", "models.render", "call"),
        (Engine, "build", "models.build", "call"),
        (SparkSession, "sql", "catalog.ddl", "sql"),
        (lease, "maintenance_lease", "lease", "context"),
    ]
    out += [(index_store, f, f"index_store.{f}", "call") for f in INDEX_STORE_FUNCS]
    return out


def installed_wrappers() -> list[str]:
    """Names of the traced entry points currently wrapped (anywhere)."""
    found = []
    for owner, attr, _name, _kind in _targets():
        if hasattr(getattr(owner, attr), "_perfbench_span"):
            found.append(f"{getattr(owner, '__name__', owner)}.{attr}")
    for modname, mod in list(sys.modules.items()):
        if modname.startswith(PACKAGE) and mod is not None:
            for attr, val in list(vars(mod).items()):
                if hasattr(val, "_perfbench_span"):
                    found.append(f"{modname}.{attr}")
    return sorted(set(found))


class Tracer:
    """Installs span wrappers, and restores the originals on uninstall."""

    def __init__(self, spans: Spans) -> None:
        self.spans = spans
        self._patches: list[tuple[object, str, object]] = []

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        for owner, attr, name, kind in _targets():
            orig = getattr(owner, attr)
            if kind == "sql":
                new = _wrap_sql(orig, self.spans)
            elif kind == "context":
                new = _wrap_context(orig, self.spans, name)
            else:
                new = _wrap(orig, self.spans, name)
            self._patch(owner, attr, new)
            if isinstance(owner, type):
                continue
            # modules that bound the function with ``from .x import f``
            for modname, mod in list(sys.modules.items()):
                if mod is owner or mod is None or not modname.startswith(PACKAGE):
                    continue
                for a, val in list(vars(mod).items()):
                    if val is orig:
                        self._patch(mod, a, new)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


class SparkProbe:
    """Spark's own per-job and per-stage metrics, read from the
    in-process status store for the jobs one operation started."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self.cores = spark.sparkContext.defaultParallelism

    def next_job_id(self) -> int:
        self._sc.listenerBus().waitUntilEmpty(30_000)
        return int(self._sc.dagScheduler().numTotalJobs())

    def jobs(self, first: int, end: int) -> dict:
        """Totals over jobs ``first <= id < end``, plus their spans (ms)."""
        self._sc.listenerBus().waitUntilEmpty(30_000)
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "input_mb",
             "output_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"), 0.0
        )
        spans, stage_ids = [], set()
        for jid in range(first, end):
            try:
                job = self._store.job(jid)
            except Py4JJavaError:  # evicted from the status store
                continue
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
            ids = job.stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
        for sid in sorted(stage_ids):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["run_s"] += st.executorRunTime() / 1e3
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["input_mb"] += st.inputBytes() / _MB
            out["output_mb"] += st.outputBytes() / _MB
            out["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            out["spill_mb"] += st.diskBytesSpilled() / _MB
        out["job_spans_ms"] = spans
        return out


def catalyst_ms(df) -> dict[str, float]:
    """Analysis/optimization/planning time of the plan ``df`` executed."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def union_ms(spans, lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in spans):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def fs_state(root: str) -> dict[tuple[int, int], tuple[int, int]]:
    """(device, inode) -> (size, mtime) of every file under ``root``."""
    state = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            try:
                st = os.stat(os.path.join(dirpath, f))
            except FileNotFoundError:
                continue
            state[(st.st_dev, st.st_ino)] = (st.st_size, st.st_mtime_ns)
    return state


def fs_written(before: dict, after: dict) -> tuple[int, int]:
    """(bytes written, files created) between two ``fs_state`` snapshots.
    A renamed or hard-linked file keeps its inode, so it is not a write."""
    written = created = 0
    for key, (size, mtime) in after.items():
        old = before.get(key)
        if old is None:
            created += 1
            written += size
        elif old != (size, mtime):
            written += size
    return written, created


class StreamingCounter:
    """Counts micro-batches and their durations via a query listener."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.batches: list[tuple[int | None, float]] = []
        counter = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                counter.batches.append((counter.op_id, event.progress.batchDuration / 1e3))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.op_id: int | None = None
        self._spark = spark
        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)

    def for_op(self, op_id: int) -> tuple[int, float]:
        mine = [d for o, d in self.batches if o == op_id]
        return len(mine), sum(mine)
