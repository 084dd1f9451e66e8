"""Round-8 scaling probe: the targeted-erasure (tombstone) lifecycle
over the persisted near-dup index.

Protocol: shared _probe_common harness (staged shifted-id replicas,
>=32 write splits, per-op warmup). Per multiple, the probe measures the
four costs the erasure design trades between:

  build+forget+score  dedup_index_forget call 1 — index build + the
                      tombstone append + batch-1 scoring
  overlay score       call 2 — steady-state scoring THROUGH the
                      tombstone anti-join (index reused)
  forget replay       an idempotent re-forget of the same slice
                      (left_anti append of zero rows — pure probe cost)
  compact fold        fold tombstones into the base rewrite
  folded score        call 3 — scoring after the fold (no overlay):
                      the delta vs 'overlay score' is the read-time
                      price of deferring the rewrite

Usage: python scripts/scale_probe_r8.py [multiples...]
Results recorded in SCALE.md.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from _probe_common import stage  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

from dbt_bigquery_udf_spark import get_spark  # noqa: E402
from dbt_bigquery_udf_spark.operators.dedup import (  # noqa: E402
    _STAGE_MEMO,
    INCR_IDX_BATCH1,
    INCR_IDX_FORGET,
    INCR_NEAR_MOD,
    _doc_signatures,
    _docs,
    _near_index_db,
    _NEAR_IDX_TABLES,
    _score_batch_vs_index,
    dedup_index_forget,
)
from dbt_bigquery_udf_spark.operators.index_store import (  # noqa: E402
    fold_tombstones,
    forget,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    ns = [int(a) for a in sys.argv[1:]] or [1, 10, 30]
    spark = get_spark(app_name="scale-probe-r8")
    root = tempfile.mkdtemp(prefix="scale_probe_r8_")
    try:
        # warmup (JVM/codegen/broadcast), then drop the warmup state
        dedup_index_forget(spark, SF_DIR).count()
        spark.sql(
            f"DROP DATABASE IF EXISTS {_near_index_db(SF_DIR)}_fg CASCADE"
        )
        _STAGE_MEMO.clear()
        spark.catalog.clearCache()
        for n in ns:
            d = stage(spark, n, root, SF_DIR)
            db = _near_index_db(d) + "_fg"
            n_doc = spark.read.parquet(
                os.path.join(d, "documents.parquet")
            ).count()
            print(f"-- x{n}: {n_doc} docs")

            def t(label, fn):
                t0 = time.perf_counter()
                out = fn()
                w = round(time.perf_counter() - t0, 2)
                print({"x": n, "phase": label, "wall_s": w, "result": out})
                return w

            def score():
                batch1 = _docs(spark, d).filter(
                    F.col("doc_id") % INCR_NEAR_MOD == INCR_IDX_BATCH1
                )
                return _score_batch_vs_index(
                    spark, db, _doc_signatures(batch1), anchor_docs=batch1
                ).count()

            t("build+forget+score", lambda: dedup_index_forget(spark, d).count())
            # scoring THROUGH the populated tombstone overlay (the cost
            # a reader pays between a forget and the next compaction)
            t("overlay score", score)
            ids = (
                spark.read.parquet(os.path.join(d, "documents.parquet"))
                .filter(F.col("doc_id") % INCR_NEAR_MOD == INCR_IDX_FORGET)
                .select("doc_id")
            )
            t("forget replay", lambda: forget(spark, db, "doc_id", ids))
            t(
                "compact fold",
                lambda: fold_tombstones(spark, db, _NEAR_IDX_TABLES, "doc_id"),
            )
            # post-fold scoring: tombstones emptied, anti-join sees an
            # empty broadcast — the steady-state no-overlay cost
            t("folded score", score)
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
            _STAGE_MEMO.clear()
            spark.catalog.clearCache()
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
