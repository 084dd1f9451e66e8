"""Cross-process maintenance lease (VERDICT r9 #2).

Unit layer: the lease protocol itself — acquire, bounded wait on a live
lease, steal-on-expiry, fencing-token monotonicity, heartbeat renew,
in-process reentrancy.

Integration layer: TWO real driver processes (two JVMs, each with its
own Derby metastore) sharing one warehouse — a maintainer folding the
exact gate's layered hash state in a loop while this process drives
admissions through ``_admit_exact_batch_df``. Without the lease a fold
could interleave with an admission's probe and append and lose rows;
the assertion is NO LOST ROWS: every hash ever admitted is present in
base ∪ delta afterwards.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time

import pytest

from dbt_bigquery_udf_spark.operators.lease import (
    LeaseLostError,
    LeaseUnavailableError,
    MaintenanceLease,
)


def test_lease_acquire_release(tmp_path):
    d = str(tmp_path / "idx")
    a = MaintenanceLease(d, owner="a", ttl=5.0)
    a.acquire(timeout=1.0)
    assert a.held()
    a.check()  # no raise
    a.release()
    assert not a.held()
    with pytest.raises(LeaseLostError):
        a.check()


def test_lease_blocks_second_owner_until_released(tmp_path):
    d = str(tmp_path / "idx")
    a = MaintenanceLease(d, owner="a", ttl=5.0)
    b = MaintenanceLease(d, owner="b", ttl=5.0)
    a.acquire(timeout=1.0)
    with pytest.raises(LeaseUnavailableError):
        b.acquire(timeout=0.3, poll=0.05)
    a.release()
    b.acquire(timeout=1.0)
    assert b.held() and not a.held()


def test_lease_steal_on_expiry_fences_zombie(tmp_path):
    """A crashed/stalled holder's lease expires; the next maintainer
    steals it with a HIGHER fencing token, and the zombie's next
    check()/renew() aborts instead of clobbering the new holder."""
    d = str(tmp_path / "idx")
    a = MaintenanceLease(d, owner="a", ttl=0.15)
    b = MaintenanceLease(d, owner="b", ttl=5.0)
    a.acquire(timeout=1.0)
    tok_a = a.token
    time.sleep(0.2)  # a's lease expires without release (the "crash")
    b.acquire(timeout=1.0)
    assert b.token > tok_a  # fencing token is monotone across steals
    with pytest.raises(LeaseLostError):
        a.check()
    with pytest.raises(LeaseLostError):
        a.renew()
    b.check()  # the live holder is unaffected
    b.renew()
    b.release()


def test_lease_reacquire_same_owner_and_renew(tmp_path):
    d = str(tmp_path / "idx")
    a = MaintenanceLease(d, owner="a", ttl=0.3)
    a.acquire(timeout=1.0)
    t1 = a.token
    a.renew()
    assert a.held()
    # same owner re-acquires its own live lease (idempotent, new token)
    a.acquire(timeout=1.0)
    assert a.token > t1 and a.held()
    a.release()


def test_maintenance_lease_reentrant_in_process(spark, tmp_path):
    """The contextmanager nests: a fold invoked by an admission that
    already holds the lease (the maybe_fold_delta path) must not
    self-deadlock, and the lease releases only at the outermost exit."""
    from dbt_bigquery_udf_spark.operators.lease import maintenance_lease

    db = "t_lease_reent"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    with maintenance_lease(spark, db, timeout=2.0) as outer:
        with maintenance_lease(spark, db, timeout=2.0) as inner:
            assert inner is outer
            assert outer.held()
        assert outer.held()  # inner exit must NOT release
    assert not outer.held()
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


_MAINTAINER = """\
import sys, time
sys.path.insert(0, {repo!r})
from dbt_bigquery_udf_spark import get_spark
from dbt_bigquery_udf_spark.operators.index_store import ensure_tables, fold_delta

base, delta, ready_file, n_folds = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
spark = get_spark(app_name="lease-maintainer", cpus=4)
boom = lambda: (_ for _ in ()).throw(AssertionError("must adopt, not rebuild"))
ensure_tables(spark, base, ("hashes",), boom, expect={{"hashes": ("h",)}})
ensure_tables(spark, delta, ("hashes",), boom, expect={{"hashes": ("h",)}})
open(ready_file, "w").write("ok")
for _ in range(n_folds):
    fold_delta(spark, base, delta, ("hashes",))
    time.sleep(0.05)
print("MAINTAINER_DONE", flush=True)
spark.stop()
"""


def test_cross_process_fold_vs_admission_no_lost_rows(spark, tmp_path):
    """Two concurrent driver PROCESSES on one warehouse — the adoption
    contract's own scenario (VERDICT r9 #2): a subprocess maintainer
    folds the layered exact-hash pair in a loop while this process
    admits batches. The lease serializes the writers; the invariant is
    that no admitted hash is ever lost (the unleased failure mode: a
    fold clears the delta AFTER reading it, discarding a concurrent
    admission's append)."""
    from pyspark.sql import functions as F

    from dbt_bigquery_udf_spark.operators.dedup import _admit_exact_batch_df
    from dbt_bigquery_udf_spark.operators.index_store import (
        db_location,
        fold_delta,
    )

    base, delta = "t_lease2p_base", "t_lease2p_delta"
    for db in (base, delta):
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        loc = db_location(spark, db).removeprefix("file:")
        spark.sql(f"DROP DATABASE {db} CASCADE")
        shutil.rmtree(loc, ignore_errors=True)
        spark.sql(f"CREATE DATABASE {db}")
    seed = spark.createDataFrame(
        [(i, f"seed-{i}") for i in range(20)], "doc_id long, text string"
    ).select(F.md5("text").alias("h")).distinct()
    seed.write.format("parquet").saveAsTable(f"{base}.hashes")
    spark.createDataFrame([], "h string").write.format("parquet").saveAsTable(
        f"{delta}.hashes"
    )
    expected = {r.h for r in spark.table(f"{base}.hashes").collect()}

    script = tmp_path / "maintainer.py"
    script.write_text(_MAINTAINER.format(repo="/root/repo"))
    ready = tmp_path / "ready"
    env = dict(
        os.environ,
        SPARK_WAREHOUSE_DIR=spark.conf.get("spark.sql.warehouse.dir"),
    )
    proc = subprocess.Popen(
        [sys.executable, str(script), base, delta, str(ready), "10"],
        cwd=str(tmp_path),  # own Derby metastore -> fresh foreign catalog
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
    )
    try:
        deadline = time.time() + 150
        while not ready.exists():
            if proc.poll() is not None or time.time() > deadline:
                out = proc.communicate(timeout=10)[0]
                pytest.fail(f"maintainer never became ready:\n{out[-4000:]}")
            time.sleep(0.5)
        # drive admissions WHILE the maintainer folds
        for i in range(12):
            docs = spark.createDataFrame(
                [(1000 + i * 10 + j, f"doc-{i}-{j}") for j in range(8)]
                # one cross-batch duplicate per batch: same text as the
                # previous batch's first doc -> must verdict is_dup
                + ([(2000 + i, f"doc-{i - 1}-0")] if i else []),
                "doc_id long, text string",
            )
            verdicts = _admit_exact_batch_df(
                spark, (base, delta), docs, write_db=delta
            )
            for r in verdicts.collect():
                if not r.is_dup:
                    expected.add(r.h)
        out, _ = proc.communicate(timeout=180)
        assert "MAINTAINER_DONE" in out, out[-4000:]
    finally:
        if proc.poll() is None:
            proc.kill()
    # settle with one final fold, then assert nothing was lost
    fold_delta(spark, base, delta, ("hashes",))
    for db in (base, delta):
        spark.catalog.refreshTable(f"{db}.hashes")
    state = {
        r.h
        for db in (base, delta)
        for r in spark.table(f"{db}.hashes").collect()
    }
    assert expected <= state, sorted(expected - state)[:10]
    for db in (base, delta):
        spark.sql(f"DROP DATABASE {db} CASCADE")
