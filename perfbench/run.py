"""Layered benchmark for the dbt_bigquery_udf_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from
the seed under ``.perfbench-work/``, sets the engine up several times
(reporting the median), warms it, then runs a closed loop with one
client for the whole passes that take about ``--seconds`` on a 4-core
host, and checks every result against a DuckDB oracle. Times are net
of the CPU time the hypervisor stole. The full, self-describing record
is printed as the second-to-last line and saved under
``.perfbench-out/``; the last line is
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics: Spark status-store reads and warehouse scans are on
for every step, span wrappers for every other step, and the difference
between traced and untraced steps is the tracing overhead. Metric names
and units come from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "dbt_bigquery_udf_spark"
SETUP_REPEATS = 3
# the engine defaults to 16g, more than a small host has. A run needs
# less than 1g of heap; with 3g, the JVM's resident size grew to
# anywhere between 1.1 and 2.0 GB from one run to the next, which made
# peak RSS the noisiest metric
DRIVER_MEMORY = "1g"


def benchmark() -> dict:
    """``BENCHMARK.json``: the metric names, units and workloads."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: str, cores: int) -> dict:
    """Private warehouse, local and temp dirs under ``work``."""
    env = {
        "SPARK_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_GRAFT_CPUS": str(cores),
        "PYSPARK_PYTHON": sys.executable,
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[key], exist_ok=True)
    os.environ.update(env)
    return env


def _session(work: str, rep: int):
    from dbt_bigquery_udf_spark import get_spark

    wh = os.path.join(work, "warehouse" if rep == SETUP_REPEATS - 1 else f"warehouse-setup{rep}")
    os.environ["SPARK_WAREHOUSE_DIR"] = wh
    return get_spark(
        app_name="perfbench",
        extra_confs={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )


def _setup(ctx, wl) -> list[dict]:
    """Session start + source registration + bootstrap, SETUP_REPEATS
    times; the last one stays up. PySpark keeps its JVM across Spark
    contexts, so only the first repeat pays for the JVM launch and a
    cold JIT: the median is a warm set-up. A set-up in a fresh JVM
    costs about five times as much, and three of them would not fit
    the benchmark's time per run. The cold figure is kept in the record
    and as ``session.jvm_start_s``."""
    import host
    from dbt_bigquery_udf_spark.sources.registry import (
        register_sources,
        register_sources_catalog,
    )

    out = []
    for rep in range(SETUP_REPEATS):
        if ctx.spark is not None:
            ctx.spark.stop()
        ticks0 = host.cpu_ticks()
        t0 = time.perf_counter()
        ctx.spark = _session(ctx.work, rep)
        t1 = time.perf_counter()
        register_sources(ctx.spark, wl.sf_dir)
        register_sources_catalog(ctx.spark, wl.sf_dir)
        t2 = time.perf_counter()
        wl.bootstrap()
        t3 = time.perf_counter()
        steal = host.steal_share(ticks0, host.cpu_ticks())
        out.append({"session.start_s": t1 - t0, "sources.register_s": t2 - t1,
                    "bootstrap_s": t3 - t2, "setup_wall_s": t3 - t0,
                    "steal": steal, "setup_s": (t3 - t0) * (1.0 - steal)})
    return out


def _loop(ctx, wl, seconds: float) -> list:
    """Closed loop, one client, for the whole passes that take about
    ``seconds`` on a 4-core host (``wl.pass_s``), at least one. In a
    traced run the span wrappers are on for every other step, and the
    pattern shifts by one step each pass, so every step runs traced in
    one pass and untraced in the next. A traced run goes on until some
    steps were traced first and others second (two passes, or three
    when a pass is one step), which ``_overhead`` needs."""
    passes = max(1, round(seconds / wl.pass_s))
    steps = []
    traced, n_pass, in_pass = False, 0, 0
    for step in wl.steps():
        if ctx.traced and traced != ((n_pass + in_pass) % 2 == 0):
            traced = not traced
            (ctx.tracer.install if traced else ctx.tracer.uninstall)()
        steps.append(step(traced))
        in_pass += 1
        if wl.pass_end:
            n_pass, in_pass = n_pass + 1, 0
            if n_pass >= passes and (not ctx.traced or all(_pairs(steps, wl.pass_steps()).values())):
                break
    if ctx.tracer is not None:
        ctx.tracer.uninstall()
    return steps


def _end_to_end(setups, steps, peak_mb) -> tuple[dict, dict]:
    """Rates are totals over every timed step of the run, so that a run
    averages over the contention it met. Times are net of stolen CPU."""
    import stats

    ops = _ops(steps)
    summary = stats.latency_summary([x for s in steps for x in s.latencies])
    metrics = {
        "setup_s": statistics.median(r["setup_s"] for r in setups),
        "ops_per_s": ops / sum(s.wall for s in steps),
        "op_p50_s": summary["p50"],
        "op_tail_s": summary["tail"],
        "cpu_per_op_s": sum(s.cpu for s in steps) / ops,
        "peak_rss_mb": peak_mb,
    }
    return metrics, summary


# layers measured by span wrappers, so only on the steps they were on for
SPAN_LAYERS = ("models.render_s", "catalog.ddl_count", "catalog.ddl_s",
               "index_store.calls", "index_store.s", "lease.s")
# layers measured outside the timed region, so on every step of a traced run
STEP_LAYERS = ("operators.plan_s", "catalyst.analysis_ms", "catalyst.optimization_ms",
               "catalyst.planning_ms", "spark.jobs", "spark.stages", "spark.tasks",
               "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
               "spark.input_mb", "spark.output_mb", "spark.shuffle_read_mb",
               "spark.shuffle_write_mb", "spark.spill_mb", "driver.collect_s",
               "driver.gap_s", "driver.rows", "warehouse.bytes_written_mb",
               "warehouse.files_created", "streaming.batches", "streaming.batch_s")


def _ops(steps) -> int:
    return sum(s.layers.get("_ops", len(s.latencies)) for s in steps)


def _per_layer(wl, setups, steps) -> dict:
    import stats

    traced = [s for s in steps if s.traced]
    plain = [s for s in steps if not s.traced]

    def per_op(key, among):
        return sum(s.layers.get(key, 0.0) for s in among) / (_ops(among) or 1)

    def per_step(key):
        vals = [s.layers[key] for s in steps if key in s.layers]
        return statistics.mean(vals) if vals else 0.0

    m = {
        "session.start_s": statistics.median(r["session.start_s"] for r in setups),
        "session.jvm_start_s": setups[0]["session.start_s"],
        "sources.register_s": statistics.median(r["sources.register_s"] for r in setups),
        "project.load_s": per_step("project.load_s"),
        "project.models": per_step("project.models"),
        "models.build_wall_s": per_step("models.build_wall_s"),
        "models.materialize_sum_s": per_step("models.materialize_sum_s"),
    }
    m["models.overlap"] = (
        m["models.materialize_sum_s"] / m["models.build_wall_s"] if m["models.build_wall_s"] else 0.0
    )
    m.update({key: per_op(key, traced) for key in SPAN_LAYERS})
    m.update({key: per_op(key, steps) for key in STEP_LAYERS})
    capacity = sum(s.layers.get("_slot_capacity_s", 0.0) for s in steps)
    m["spark.slot_util"] = (
        sum(s.layers.get("spark.executor_run_s", 0.0) for s in steps) / capacity if capacity else 0.0
    )
    last_pass = steps[-wl.pass_steps():]
    written = sum(s.layers.get("warehouse.bytes_written_mb", 0.0) for s in last_pass)
    live = wl.live_bytes() / (1024.0 * 1024.0)
    m["warehouse.write_amp"] = written / live if live else 0.0
    t_lat = [x for s in traced for x in s.latencies]
    p_lat = [x for s in plain for x in s.latencies]
    m["trace.op_p50_s"] = statistics.median(t_lat) if t_lat else 0.0
    m["trace.untraced_op_p50_s"] = statistics.median(p_lat) if p_lat else 0.0
    m["trace.overhead"] = _overhead(steps, wl.pass_steps())
    bad = [name for name in m if not stats.METRIC_NAME.fullmatch(name)]
    if bad:
        raise ValueError(f"malformed metric names: {bad}")
    return m


def _pairs(steps, pass_steps: int) -> dict[bool, list[float]]:
    """Log wall-time ratio of each step to the same step of the pass
    before, where one of the two was traced; keyed by whether the later
    one was."""
    later: dict[bool, list[float]] = {True: [], False: []}
    for a, b in zip(steps, steps[pass_steps:]):
        if a.traced != b.traced and a.name == b.name:
            later[b.traced].append(math.log(b.wall / a.wall))
    return later


def _overhead(steps, pass_steps: int) -> float:
    """Traced/untraced wall time, minus one. Drift from one pass to the
    next (the JIT warming up) scales both kinds of pair alike, so half
    the difference between the median log-ratio of the pairs traced
    second and that of the pairs traced first is the cost of tracing
    alone."""
    later = _pairs(steps, pass_steps)
    up, down = later[True], later[False]
    if up and down:
        cost = (statistics.median(up) - statistics.median(down)) / 2
    elif up or down:
        cost = statistics.median(up) if up else -statistics.median(down)
    else:
        return 0.0
    return math.exp(cost) - 1.0


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import host
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cores = host.nproc()
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = _isolate(work, cores)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "commit": host.commit(ROOT),
        "source_digest": host.source_digest(os.path.join(ROOT, PACKAGE)),
        "nproc": cores,
        "spark_graft_cpus": env["SPARK_GRAFT_CPUS"],
        "driver_memory": DRIVER_MEMORY,
        "load1_start": host.load1(),
        "cpu_ticks_start": host.cpu_ticks(),
        "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    ctx = workloads.Context(ROOT, work, args.seed, cores, bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](ctx)
    phases, t = {}, time.perf_counter()

    def phase(name):
        nonlocal t
        now = time.perf_counter()
        phases[name], t = now - t, now

    try:
        wl.inputs()
        record["sf"] = wl.sf
        phase("inputs")
        setups = _setup(ctx, wl)
        phase("setup")
        warm = wl.warmup()
        phase("warmup")
        if ctx.traced:
            import tracing

            ctx.tracer = tracing.Tracer(ctx.spans)
            ctx.probe = tracing.SparkProbe(ctx.spark)
            ctx.streams = tracing.StreamingCounter(ctx.spark)
        jvm = host.jvm_pid()
        steps = _loop(ctx, wl, args.seconds)
        phase("loop")
        steps[-1].failed += wl.final_check()
        phase("final_check")
        peak = host.peak_rss_mb(jvm)
        e2e, summary = _end_to_end(setups, steps, sum(peak.values()))
        layers = _per_layer(wl, setups, steps) if ctx.traced else None
        wl.teardown()
    finally:
        if ctx.streams is not None:
            ctx.streams.close()
        if ctx.spark is not None:
            ctx.spark.stop()
            _stop_gateway()
        shutil.rmtree(work, ignore_errors=True)
    phase("teardown")
    attempted = _ops(warm + steps)
    failed = sum(s.failed for s in warm + steps)
    record.update({
        "load1_end": host.load1(),
        "steal_share": host.steal_share(record.pop("cpu_ticks_start"), host.cpu_ticks()),
        "setups": setups,
        "setup_cold_s": setups[0]["setup_s"],
        "peak_rss_parts_mb": peak,
        "phase_s": phases,
        "ops": summary["n"],
        "op_tail_percentile": summary["tail_percentile"],
        "op_tail_beyond": summary["beyond_tail"],
        "attempted": attempted,
        "failed": failed,
        "failed_ratio": failed / attempted,
        "end_to_end": e2e,
        "per_layer": layers,
        "notes": wl.notes,
        # name, wall net of steal, steal share, traced
        "steps": [[s.name, s.wall, s.steal, s.traced] for s in steps],
        "mismatches": wl.mismatches,
    })
    record["load_exceeded_nproc"] = max(record["load1_start"], record["load1_end"]) > cores
    _save(record, ctx)
    chosen = layers if ctx.traced else e2e
    bench = benchmark()
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    print(json.dumps(record, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
    }))
    return 0


def _save(record: dict, ctx) -> None:
    """Write the record and the span log; the file name carries the CPU
    count and start time, so runs never overwrite each other."""
    out = os.path.join(ROOT, ".perfbench-out")
    os.makedirs(out, exist_ok=True)
    stem = (f"{record['workload']}-c{record['nproc']}-seed{record['seed']}"
            f"-trace{record['trace']}-{record['started']}-{os.getpid()}")
    with open(os.path.join(out, stem + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if ctx.traced:
        with open(os.path.join(out, stem + ".spans.json"), "w") as fh:
            json.dump(ctx.spans.records, fh)


def _stop_gateway() -> None:
    """Shut the py4j gateway down and wait until the JVM has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
