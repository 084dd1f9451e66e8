"""Round-9 probe: admission latency before/after an AUTO-compaction
fold (VERDICT r8 #4 'done' evidence).

Builds a dedicated layered near-dup pair at $SPARK_GRAFT_SF_DIR
(default sf0.1), admits batch 1 into the delta WITHOUT folding, then
times the per-batch admission probe (signature-ize + score batch 2
against the layered index — the read path every arriving batch pays):

  1. pre-fold:  delta bloated with batch 1's survivors (base UNION delta)
  2. the size-ratio trigger fires (index_store.maybe_fold_delta)
  3. post-fold: same probe against (compacted base, empty delta)

Prints one JSON line with minima over N reps plus the fold cost.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("SPARK_GRAFT_PROBE_REPS", "5"))


def main() -> None:
    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from dbt_bigquery_udf_spark.operators import dedup as D
    from dbt_bigquery_udf_spark.operators.index_store import maybe_fold_delta
    from dbt_bigquery_udf_spark.session import apply_engine_confs

    apply_engine_confs(spark)

    import shutil

    base = D._near_index_db(SF_DIR) + "_r9p"
    delta = base + "d"
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for db in (base, delta):
        # catalog AND disk: a prior aborted probe leaves orphan parquet
        # a fresh session's catalog doesn't know about
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(os.path.join(wh, f"{db}.db"), ignore_errors=True)
    D.build_near_dup_index(spark, SF_DIR, db=base)
    spark.sql(f"CREATE DATABASE {delta}")
    spark.createDataFrame([], "doc_id bigint, hs array<bigint>").write.format(
        "parquet"
    ).saveAsTable(f"{delta}.sigs")
    spark.createDataFrame(
        [], "doc_id bigint, band int, key string"
    ).write.format("parquet").saveAsTable(f"{delta}.bands")

    batch1 = D._docs(spark, SF_DIR).filter(
        F.col("doc_id") % D.INCR_NEAR_MOD == D.INCR_IDX_BATCH1
    )
    batch2 = D._docs(spark, SF_DIR).filter(
        F.col("doc_id") % D.INCR_NEAR_MOD == D.INCR_IDX_BATCH2
    )
    D._admit_batch_df(spark, (base, delta), batch1, write_db=delta)
    n_base = spark.table(f"{base}.sigs").count()
    n_delta = spark.table(f"{delta}.sigs").count()

    def probe_once(dbs) -> float:
        t0 = time.perf_counter()
        D._score_batch_vs_index(
            spark, dbs, D._doc_signatures(batch2), anchor_docs=batch2
        ).count()
        return time.perf_counter() - t0

    pre = [probe_once((base, delta)) for _ in range(REPS)]
    t0 = time.perf_counter()
    # explicit ratio: the batch-1 overlay sits at ~0.17x the base here
    # (one arriving split vs five owned splits), under the conservative
    # 0.5 default — the probe wants the fold to fire NOW
    fold = maybe_fold_delta(spark, base, delta, D._NEAR_IDX_TABLES, ratio=0.1)
    fold_s = time.perf_counter() - t0
    assert fold is not None, "ratio=0.1 should have fired here"
    post = [probe_once((base, delta)) for _ in range(REPS)]

    print(
        json.dumps(
            {
                "sf_dir": SF_DIR,
                "n_base_sigs": n_base,
                "n_delta_sigs": n_delta,
                "reps": REPS,
                "pre_fold_probe_min_s": round(min(pre), 3),
                "post_fold_probe_min_s": round(min(post), 3),
                "fold_s": round(fold_s, 3),
                "fold_stats": fold,
            }
        )
    )
    for db in (base, delta):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


if __name__ == "__main__":
    main()
