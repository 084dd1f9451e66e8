"""Round-10 scaling probe (VERDICT r9 #3): the two costliest ADMISSION
paths and the erasure/trigger costs, over staged shifted-id document
replicas — extending the x1/x10/x30 replica methodology from the
retrain probe (scale_probe_r9c) to the admission side, so the claimed
O(|wave|) erasure and O(metadata) trigger scalings become measured
exponents instead of docstring claims.

Per multiple the probe measures:

  stream_adm cold   stream_near_dup_admission end to end on a fresh
                    corpus — pays the _sbase index build (signatures +
                    banding over the owned split) plus two micro-batch
                    admissions with serves between
  stream_adm warm   min-of-2 repeats — what every later run pays: the
                    base adopts, only the per-run delta + two
                    micro-batch probes + sink writes remain
  auto_comp cold/warm  dedup_near_auto_compacted — the two-batch
                    admission with the mid-run LSM fold (+ per-run
                    depollute on the warm path)
  trigger           maybe_fold_delta's below-threshold path on the
                    _ac pair: TWO table row counts (at scale a
                    parquet-footer metadata read) — the cost every
                    admission pays when the fold does NOT fire
  erasure cold/warm stream_near_dup_forget — two forget waves as
                    micro-batches (O(|wave|) tombstone appends) with a
                    full probe/serve between waves

plus the log-log exponent of each warm column vs the corpus multiple
(t ~ N^e): e ~ 1 = linear in corpus, e ~ 0 = flat/metadata-bound.

Usage: python scripts/scale_probe_r10.py [multiples...]
Results recorded in SCALE.md.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from _probe_common import stage  # noqa: E402

from dbt_bigquery_udf_spark import get_spark  # noqa: E402
from dbt_bigquery_udf_spark.operators import dedup as D  # noqa: E402
from dbt_bigquery_udf_spark.operators.index_store import (  # noqa: E402
    maybe_fold_delta,
)
from dbt_bigquery_udf_spark.queries import QUERIES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")

_OPS = (
    "stream_near_dup_admission",
    "dedup_near_auto_compacted",
    "stream_near_dup_forget",
)
_SUFFIXES = ("", "_sbase", "_sdelta", "_ac", "_acd", "_fgs")


def _drop_probe_dbs(spark, d: str) -> None:
    for suffix in _SUFFIXES:
        spark.sql(
            f"DROP DATABASE IF EXISTS {D._near_index_db(d)}{suffix} CASCADE"
        )


def _cold_warm(spark, name: str, d: str) -> tuple[float, float]:
    t0 = time.perf_counter()
    QUERIES[name](spark, d).count()
    cold = time.perf_counter() - t0
    warm = None
    for _ in range(2):
        t0 = time.perf_counter()
        QUERIES[name](spark, d).count()
        dt = time.perf_counter() - t0
        warm = dt if warm is None or dt < warm else warm
    return cold, warm


def main() -> None:
    multiples = [int(a) for a in sys.argv[1:]] or [1, 10, 30]
    spark = get_spark()
    root = tempfile.mkdtemp(prefix="r10_")
    warm_cols: dict[str, dict[int, float]] = {}
    try:
        # per-op warmup on the raw sf dir (JVM/codegen/broadcast)
        for name in _OPS:
            QUERIES[name](spark, SF_DIR).count()
        for n in multiples:
            d = stage(spark, n, root, SF_DIR)
            n_docs = spark.read.parquet(
                os.path.join(d, "documents.parquet")
            ).count()
            line = [f"x{n}: docs={n_docs}"]
            for name, tag in (
                ("stream_near_dup_admission", "stream_adm"),
                ("dedup_near_auto_compacted", "auto_comp"),
                ("stream_near_dup_forget", "erasure"),
            ):
                cold, warm = _cold_warm(spark, name, d)
                warm_cols.setdefault(tag, {})[n] = warm
                line.append(f"{tag}={cold:.2f}/{warm:.2f}s")
            # the below-threshold trigger: two row counts on the _ac
            # pair left behind by the auto-compacted run (delta is
            # empty post-fold, so the trigger cannot fire)
            base = D._near_index_db(d) + "_ac"
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                assert (
                    maybe_fold_delta(spark, base, base + "d", D._NEAR_IDX_TABLES)
                    is None
                )
                dt = time.perf_counter() - t0
                best = dt if best is None or dt < best else best
            warm_cols.setdefault("trigger", {})[n] = best
            line.append(f"trigger={best:.3f}s")
            print(" ".join(line), flush=True)
            _drop_probe_dbs(spark, d)
        lo, hi = min(multiples), max(multiples)
        if lo != hi:
            for tag, col in warm_cols.items():
                e = math.log(col[hi] / col[lo]) / math.log(hi / lo)
                print(f"exponent[{tag}] (warm, x{lo}->x{hi}): {e:.2f}")
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
