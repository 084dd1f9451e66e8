"""The one directory commit (``index_store.mark_complete`` /
``commit_dir`` / ``recover_dir``) and its two newest users:
``sinks.compact_files`` and the IVF retrain's ``live_version`` pointer.

A crash is injected at every step of each commit through
``index_store.os.rename`` and ``index_store.shutil.rmtree``, as
``tests/test_layered_folds.py`` does, and the next call must end as an
uncrashed one would. A guard keeps every other file-moving commit out of
the operator, source and model packages.
"""

from __future__ import annotations

import io
import os
import shutil
import tokenize

import pytest

from dbt_bigquery_udf_spark import session
from dbt_bigquery_udf_spark.operators import index_store
from dbt_bigquery_udf_spark.operators import similarity as S
from dbt_bigquery_udf_spark.operators.index_store import (
    STAGE_COMPLETE_MARKER,
    commit_dir,
    recover_dir,
    staged_overwrite,
)
from dbt_bigquery_udf_spark.sources import sinks

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "dbt_bigquery_udf_spark")


class _Crash(RuntimeError):
    pass


def _crash_on(monkeypatch, name, target, land=False):
    """Make ``index_store.<os|shutil>.<name>`` raise when it acts on
    ``target`` (the rename's destination, the removal's path); with
    ``land`` the real call runs first, so the crash comes right after
    the step."""
    mod = index_store.os if name == "rename" else index_store.shutil
    real = getattr(mod, name)
    target = os.path.abspath(target)

    def step(*args, **kwargs):
        if os.path.abspath(args[-1 if name == "rename" else 0]) != target:
            return real(*args, **kwargs)
        if land:
            real(*args, **kwargs)
        raise _Crash(f"crash at {name} of {target}")

    monkeypatch.setattr(mod, name, step)


def _raise_crash(*_args, **_kwargs):
    raise _Crash("crash before the stage is marked")


def test_commit_dir_needs_the_marker_and_recover_dir_finishes_or_clears(tmp_path):
    live, stage = tmp_path / "live", tmp_path / "stage"
    live.mkdir()
    (live / "old").write_text("old")
    stage.mkdir()
    (stage / "new").write_text("new")
    with pytest.raises(RuntimeError, match=STAGE_COMPLETE_MARKER):
        commit_dir(str(stage), str(live))
    assert os.listdir(live) == ["old"] and os.listdir(stage) == ["new"]
    # unmarked: cut short while being written, the live side is whole
    assert recover_dir(str(stage), str(live)) is False
    assert not stage.exists() and os.listdir(live) == ["old"]
    stage.mkdir()
    (stage / "new").write_text("new")
    index_store.mark_complete(str(stage))
    assert recover_dir(str(stage), str(live)) is True
    assert not stage.exists()
    assert sorted(os.listdir(live)) == sorted(["new", STAGE_COMPLETE_MARKER])
    assert recover_dir(str(stage), str(live)) is False


# -- compact_files ------------------------------------------------------------


def _fragmented(spark, path):
    spark.range(100).repartition(8).write.parquet(path)


def _ids(spark, path):
    return sorted(r.id for r in spark.read.parquet(path).collect())


@pytest.mark.parametrize(
    "step", ["stage_write", "after_mark", "after_live_removal", "inside_rename"]
)
def test_compact_files_crash_at_every_step(spark, tmp_path, monkeypatch, step):
    """Crash while the stage is written (no marker), after the mark,
    after the live removal, and inside the rename: the next call ends
    with the same rows, no stage and the uncrashed file count."""
    twin = str(tmp_path / "twin")
    _fragmented(spark, twin)
    want = sinks.compact_files(spark, twin, target_file_bytes=1 << 30)

    path = str(tmp_path / "loc")
    stage = path + "__compact_staging"
    _fragmented(spark, path)
    if step == "stage_write":
        monkeypatch.setattr(sinks, "mark_complete", _raise_crash)
    elif step == "after_mark":
        _crash_on(monkeypatch, "rmtree", path)
    else:
        _crash_on(monkeypatch, "rename", path, land=step == "inside_rename")
    with pytest.raises(_Crash):
        sinks.compact_files(spark, path, target_file_bytes=1 << 30)
    monkeypatch.undo()
    if step == "stage_write":
        # a write cut short: no job commit and no part file yet, so
        # committing this stage would lose every row
        for f in os.listdir(stage):
            if f == "_SUCCESS" or f.endswith(".parquet"):
                os.remove(os.path.join(stage, f))
    assert os.path.isdir(stage) == (step != "inside_rename")
    assert os.path.isdir(path) == (step != "after_live_removal")

    got = sinks.compact_files(spark, path, target_file_bytes=1 << 30)
    assert _ids(spark, path) == list(range(100))
    assert not os.path.exists(stage)
    assert got["files_after"] == want["files_after"] == 1


def test_compact_files_rejects_a_non_local_path(spark):
    for fn in (sinks.compact_files, sinks.compact_if_fragmented):
        with pytest.raises(RuntimeError, match="s3a://bucket/events"):
            fn(spark, "s3a://bucket/events")


# -- the IVF pointer ------------------------------------------------------------


def _drop_db(spark, db):
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    index_store.invalidate_db_location(db)
    spark.sql(f"CREATE DATABASE {db}")
    shutil.rmtree(index_store.db_dir(spark, db), ignore_errors=True)
    spark.sql(f"DROP DATABASE {db} CASCADE")


def _pointer(spark, db, version):
    staged_overwrite(
        spark, db, "live_version", spark.createDataFrame([(version,)], "version int")
    )


def _pointer_rows(spark, db):
    return [int(r.version) for r in spark.table(f"{db}.live_version").collect()]


def _no_stage(spark, db):
    return not spark.catalog.tableExists(f"{db}.live_version__staged") and not (
        os.path.exists(os.path.join(index_store.db_dir(spark, db), "live_version__staged"))
    )


@pytest.mark.parametrize("land", [False, True], ids=["before_rename", "after_rename"])
def test_pointer_swap_crash_is_finished_by_the_next_retrain(
    spark, sf_small, monkeypatch, land
):
    """A crash inside the staged commit of the pointer bump leaves no
    live pointer; the next retrain finishes the commit instead of
    rebuilding v1 and ends with a one-row pointer reading 2."""
    db = S._rt_db(sf_small) + "_ptr_crash"
    _drop_db(spark, db)
    assert S.retrain_ivf_index(spark, sf_small, db=db)["live"] == 2
    _pointer(spark, db, 1)  # the bump has not run yet
    live = os.path.join(index_store.db_dir(spark, db), "live_version")
    _crash_on(monkeypatch, "rename", live, land=land)
    with pytest.raises(_Crash):
        S.retrain_ivf_index(spark, sf_small, db=db)
    monkeypatch.undo()
    assert not spark.catalog.tableExists(f"{db}.live_version")

    assert S.retrain_ivf_index(spark, sf_small, db=db) == {
        "v1": "reused",
        "v2": "reused",
        "live": 2,
    }
    assert _pointer_rows(spark, db) == [2]
    assert _no_stage(spark, db)
    spark.sql(f"DROP DATABASE {db} CASCADE")


def test_pointer_reset_crash_is_finished_by_the_next_gc(spark, sf_small, monkeypatch):
    """A crash inside GC's pointer reset, after v2 was dropped: the next
    GC finishes the staged commit before it reads the pointer, so it
    finds the reset done (noop) and the pointer reads 1."""
    db = S._rt_db(sf_small) + "_gc_crash"
    _drop_db(spark, db)
    assert S.retrain_ivf_index(spark, sf_small, db=db)["live"] == 2
    live = os.path.join(index_store.db_dir(spark, db), "live_version")
    _crash_on(monkeypatch, "rename", live)
    with pytest.raises(_Crash):
        S.gc_ivf_versions(spark, sf_small, db=db)
    monkeypatch.undo()
    assert not spark.catalog.tableExists(f"{db}.centroids_v2")
    assert not spark.catalog.tableExists(f"{db}.live_version")

    assert S.gc_ivf_versions(spark, sf_small, db=db) == {"gc": "noop"}
    assert _pointer_rows(spark, db) == [1]
    assert S._rt_live_version(spark, db) == 1
    assert _no_stage(spark, db)
    spark.sql(f"DROP DATABASE {db} CASCADE")


# -- where the commits live -------------------------------------------------------


def test_default_warehouse_is_the_checkouts_own(spark):
    want = os.path.join(REPO, ".spark-warehouse")
    assert session.WAREHOUSE_DIR == want
    got = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    assert got.rstrip("/") == os.environ.get("SPARK_WAREHOUSE_DIR", want).rstrip("/")


# Code (not docstrings or comments) that moves, links or deletes files as
# a commit step, which only operators/index_store.py may hold. lease.py's
# os.replace of its own lease file is not a directory commit.
_COMMIT_STEPS = ("os.rename(", "os.link(", "shutil.copy2(", ".rename(", ".delete(")


def _code(path: str) -> str:
    """The file's tokens without comments and string literals, joined
    without whitespace."""
    with open(path) as f:
        toks = tokenize.generate_tokens(io.StringIO(f.read()).readline)
        return "".join(
            t.string for t in toks if t.type not in (tokenize.COMMENT, tokenize.STRING)
        )


def test_directory_commits_live_in_index_store():
    own = os.path.join(PACKAGE, "operators", "index_store.py")
    assert all(p in _code(own) for p in _COMMIT_STEPS[:3])
    hits = []
    for sub in ("operators", "sources", "models"):
        for root, _, files in os.walk(os.path.join(PACKAGE, sub)):
            for f in files:
                path = os.path.join(root, f)
                if f.endswith(".py") and path != own:
                    code = _code(path)
                    hits += [
                        (os.path.relpath(path, REPO), p) for p in _COMMIT_STEPS if p in code
                    ]
    assert hits == []
