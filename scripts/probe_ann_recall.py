"""Measure ANN recall@10 vs the brute-force exact top-10 at a given
scale factor — the recall/cost dial documented at the bench scale
(round-7 VERDICT item: tests/test_recall.py pins MONOTONICITY at
sf0.01; this records the absolute numbers at sf0.1).

Usage: python scripts/probe_ann_recall.py [sf_dir]
Prints one row per ANN variant: recall@10 and wall (warm, min of 2).
Results recorded in SCALE.md ("ANN recall@10 at sf0.1").
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dbt_bigquery_udf_spark import get_spark  # noqa: E402
from dbt_bigquery_udf_spark import queries as Q  # noqa: E402
from dbt_bigquery_udf_spark.sources.registry import DEFAULT_SF_DIR  # noqa: E402

VARIANTS = [
    "sim_topk_brute",      # the exact baseline (recall 1.0 by definition)
    "sim_lsh_topk",        # LSH, single probe
    "sim_lsh_multiprobe",  # LSH, multi-probe
    "sim_ivf_topk",        # IVF, nprobe=1
    "sim_ivf_multiprobe",  # IVF, nprobe>1
    "sim_ivf_rerank",      # IVF multiprobe + truncated-dims shortlist
    "sim_ivfpq_adc",       # IVF + PQ asymmetric distance
    "sim_hamming_topk",    # 1-bit sign quantization + Hamming shortlist
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF_DIR
    spark = get_spark(app_name="ann-recall-probe")
    brute = {r.vec_id for r in Q.QUERIES["sim_topk_brute"](spark, sf_dir).collect()}
    assert len(brute) == 10
    print(f"sf_dir={sf_dir}")
    for name in VARIANTS:
        fn = Q.QUERIES[name]
        walls = []
        ids: set = set()
        for _ in range(2):
            t = time.perf_counter()
            ids = {r.vec_id for r in fn(spark, sf_dir).collect()}
            walls.append(time.perf_counter() - t)
        print(
            {
                "variant": name,
                "recall_at_10": round(len(brute & ids) / 10, 2),
                "wall_s": round(min(walls), 2),
                "n": len(ids),
            }
        )


if __name__ == "__main__":
    main()
