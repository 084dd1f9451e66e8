"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import datagen  # noqa: E402
import project_gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402

PRELUDE = "WITH parsed AS (SELECT 1)\n"


def _tree_digest(root: str) -> str:
    h = hashlib.sha1()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _project(tmp_path, seed: int, tag: str):
    out = tmp_path / f"{tag}-{seed}"
    oracles = project_gen.generate(str(out), seed, PRELUDE)
    return _tree_digest(str(out)), oracles


def _dataset(tmp_path, seed: int, tag: str) -> str:
    out = tmp_path / f"data-{tag}-{seed}"
    datagen.write_dataset(str(out), 0.001, seed)
    return _tree_digest(str(out))


def test_same_seed_same_project(tmp_path):
    assert _project(tmp_path, 7, "a") == _project(tmp_path, 7, "b")


def test_other_seed_other_project(tmp_path):
    a, oa = _project(tmp_path, 7, "a")
    b, ob = _project(tmp_path, 8, "b")
    assert a != b and oa != ob
    assert len(oa) == len(ob)  # the seed varies content, not size


def test_project_shape(tmp_path):
    out = tmp_path / "p"
    oracles = project_gen.generate(str(out), 3, PRELUDE)
    sql = [f for _d, _s, fs in os.walk(out) for f in fs if f.endswith(".sql")]
    assert len(sql) == project_gen.N_MODELS
    tables = project_gen.N_MARTS + project_gen.N_ROLLUPS + project_gen.N_SUMMARIES
    assert len(oracles) == tables
    assert all(q.startswith(PRELUDE) for q in oracles.values())


def test_same_seed_same_dataset(tmp_path):
    assert _dataset(tmp_path, 5, "a") == _dataset(tmp_path, 5, "b")


def test_other_seed_other_dataset(tmp_path):
    assert _dataset(tmp_path, 5, "a") != _dataset(tmp_path, 6, "b")


def test_dataset_row_counts_do_not_depend_on_seed():
    a = {k: v.num_rows for k, v in datagen.build_tables(0.001, 1).items()}
    b = {k: v.num_rows for k, v in datagen.build_tables(0.001, 2).items()}
    assert a == b == datagen.row_counts(0.001)


@pytest.mark.parametrize(
    "n, expected",
    [(5, 50.0), (19, 50.0), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_beyond(n, expected):
    assert stats.tail_percentile(n) == expected


def test_tail_percentile_is_highest_with_ten_beyond():
    for n in range(20, 3000):
        p = stats.tail_percentile(n)
        s = stats.latency_summary(list(range(n)))
        assert s["beyond_tail"] >= stats.MIN_BEYOND
        higher = [q for q in stats.TAIL_PERCENTILES if q > p]
        if higher:
            assert stats.latency_summary(list(range(n)))["tail_percentile"] == p
            assert n - stats._rank(higher[0], n) < stats.MIN_BEYOND


def test_latency_summary_values():
    s = stats.latency_summary([float(i) for i in range(1, 101)])
    assert s["p50"] == 50.0
    assert s["tail_percentile"] == 90.0 and s["tail"] == 90.0
    assert s["beyond_tail"] == 10


def _benchmark_json():
    return run.benchmark()


def _predictions():
    with open(os.path.join(BENCH, "predictions.json")) as fh:
        return json.load(fh)


def test_metric_names_are_well_formed():
    bench = _benchmark_json()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert all(stats.METRIC_NAME.fullmatch(n) for n in names)
    assert len(set(names)) == len(names)


def test_every_layer_metric_has_a_prediction():
    import workloads

    bench, pred = _benchmark_json(), _predictions()
    assert set(pred) == {m["name"] for m in bench["per_layer"]}
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    end_to_end = {m["name"] for m in bench["end_to_end"]}
    for row in pred.values():
        assert set(row["should_move"]) <= end_to_end
        assert set(row["on"]) | set(row["flat_on"]) <= set(workloads.WORKLOADS)


def test_dataset_has_every_oracle_table():
    from dbt_bigquery_udf_spark.testing import TABLES

    assert set(datagen.build_tables(0.001, 1)) == set(TABLES)


def test_tracing_off_installs_nothing():
    import workloads  # noqa: F401 - importing the harness installs nothing

    assert tracing.installed_wrappers() == []


def test_tracer_uninstall_restores_originals():
    from dbt_bigquery_udf_spark.operators import dedup, index_store

    before = (index_store.staged_overwrite, dedup.__dict__.get("staged_overwrite"))
    tracer = tracing.Tracer(tracing.Spans())
    tracer.install()
    try:
        assert "dbt_bigquery_udf_spark.operators.index_store.staged_overwrite" in (
            tracing.installed_wrappers()
        )
    finally:
        tracer.uninstall()
    assert tracing.installed_wrappers() == []
    assert (index_store.staged_overwrite, dedup.__dict__.get("staged_overwrite")) == before


def test_tracer_wraps_names_bound_by_from_import(monkeypatch):
    from dbt_bigquery_udf_spark.operators import dedup, index_store

    # a module-level ``from .index_store import move_table_files``
    monkeypatch.setattr(dedup, "move_table_files", index_store.move_table_files, raising=False)
    tracer = tracing.Tracer(tracing.Spans())
    tracer.install()
    try:
        assert dedup.move_table_files is index_store.move_table_files
        assert hasattr(dedup.move_table_files, "_perfbench_span")
    finally:
        tracer.uninstall()
    assert not hasattr(dedup.move_table_files, "_perfbench_span")


def test_spans_count_outermost_layer_time_once():
    spans = tracing.Spans()
    spans.op_id = 1
    with spans.span("index_store.staged_overwrite"):
        with spans.span("catalog.ddl"):
            with spans.span("index_store.clear_tables"):
                pass
    n, s = spans.layer_seconds("index_store.", 1)
    outer = spans.records[0]
    assert n == 2 and s == pytest.approx(outer["end"] - outer["start"])
    assert spans.layer_seconds("index_store.", 2) == (0, 0.0)


def test_union_and_fs_accounting(tmp_path):
    assert tracing.union_ms([(0, 10), (5, 20), (30, 40)], 0, 35) == 25
    (tmp_path / "a").write_bytes(b"x" * 10)
    before = tracing.fs_state(str(tmp_path))
    os.rename(tmp_path / "a", tmp_path / "b")  # a move is not a write
    (tmp_path / "c").write_bytes(b"y" * 7)
    assert tracing.fs_written(before, tracing.fs_state(str(tmp_path))) == (7, 1)


def test_reported_metrics_match_benchmark_json():
    import workloads

    class _Workload:
        def pass_steps(self):
            return 1

        def live_bytes(self):
            return 0

    steps = [
        workloads.Step([1.0], 0, 1.0, 0.5, traced, {}, "q") for traced in (True, False)
    ]
    setups = [{"session.start_s": 1.0, "sources.register_s": 1.0, "setup_s": 2.0}]
    bench = _benchmark_json()
    layers = run._per_layer(_Workload(), setups, steps)
    assert set(layers) == {m["name"] for m in bench["per_layer"]}
    e2e, _ = run._end_to_end(setups, steps, 100.0)
    assert list(e2e) == [m["name"] for m in bench["end_to_end"]]


def test_end_to_end_rates_are_run_totals():
    import workloads

    steps = [
        workloads.Step([1.0], 0, 1.0, 2.0, False, {}, "a"),
        workloads.Step([2.0, 1.0], 0, 3.0, 2.0, False, {"_ops": 2}, "b"),
    ]
    setups = [{"setup_s": s} for s in (9.0, 2.0, 3.0)]
    e2e, _ = run._end_to_end(setups, steps, 100.0)
    assert e2e["ops_per_s"] == pytest.approx(3 / 4.0)
    assert e2e["cpu_per_op_s"] == pytest.approx(4.0 / 3)
    assert e2e["setup_s"] == 3.0 and e2e["op_p50_s"] == 1.0


class _Tracer:
    def __init__(self):
        self.on = False
        self.calls = 0

    def install(self):
        assert not self.on
        self.on, self.calls = True, self.calls + 1

    def uninstall(self):
        self.on = False


class _Ctx:
    def __init__(self, traced: bool):
        self.traced = traced
        self.tracer = _Tracer() if traced else None


class _Passes:
    """Passes of ``n`` named steps, each taking 1 s, as a workload yields them."""

    pass_end = True

    def __init__(self, n: int, ctx: _Ctx):
        self.n, self.ctx = n, ctx
        self.pass_s = float(n)

    def pass_steps(self):
        return self.n

    def steps(self):
        import workloads

        while True:
            for i in range(self.n):
                self.pass_end = i == self.n - 1

                def step(traced, name=f"q{i}"):
                    assert traced == (self.ctx.tracer is not None and self.ctx.tracer.on)
                    return workloads.Step([1.0], 0, 1.0, 0.0, traced, {}, name)

                yield step


@pytest.mark.parametrize("n, passes", [(1, 3), (3, 2), (12, 2)])
def test_traced_loop_ends_with_every_step_on_both_sides(n, passes):
    ctx = _Ctx(True)
    steps = run._loop(ctx, _Passes(n, ctx), seconds=1.0)
    assert len(steps) == passes * n
    for i in range(n):
        assert {s.traced for s in steps if s.name == f"q{i}"} == {True, False}
    assert all(run._pairs(steps, n).values())
    assert not ctx.tracer.on


@pytest.mark.parametrize("seconds, passes", [(1.0, 1), (13.0, 1), (20.0, 2), (30.0, 2), (31.0, 3)])
def test_untraced_loop_makes_the_whole_passes_that_fit_seconds(seconds, passes):
    ctx = _Ctx(False)
    steps = run._loop(ctx, _Passes(12, ctx), seconds=seconds)
    assert len(steps) == passes * 12 and not any(s.traced for s in steps)


def test_overhead_removes_drift_between_passes():
    import workloads

    base = [3.0, 5.0, 1.0, 4.0, 2.0, 6.0, 2.5]
    steps = []
    for k, drift in enumerate((1.0, 0.7)):  # the second pass runs warmer
        for i, w in enumerate(base):
            traced = (k + i) % 2 == 0
            wall = w * drift * (1.1 if traced else 1.0)
            steps.append(workloads.Step([wall], 0, wall, 0.0, traced, {}, f"q{i}"))
    assert run._overhead(steps, len(base)) == pytest.approx(0.1)


def test_steal_share():
    import host

    assert host.steal_share((100, 10), (190, 20)) == pytest.approx(0.1)
    assert host.steal_share((5, 5), (5, 5)) == 0.0
    busy, steal = host.cpu_ticks()
    assert busy > 0 and steal >= 0
