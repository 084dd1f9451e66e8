"""Scale probe: BPE training lineage growth vs checkpoint cadence.

Each merge step stacks one F.replace on the vocabulary plan; without
truncation the analyzer re-walks a deeper tree every step, so per-step
cost grows with step count even though the DATA work is constant
(vocabulary-sized). This probe times an N-merge training run at
several checkpoint cadences (0 = never, the control arm) and prints a
row per arm: total wall, wall of the FIRST third vs LAST third of
steps (the growth signal), and the final plan depth proxy.

Usage: python scripts/probe_bpe_checkpoint.py [steps] [sf_dir]
Results recorded in SCALE.md ("BPE training: lineage vs checkpoint").
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dbt_bigquery_udf_spark import get_spark  # noqa: E402
from dbt_bigquery_udf_spark.operators import text as T  # noqa: E402
from dbt_bigquery_udf_spark.sources.registry import DEFAULT_SF_DIR  # noqa: E402

def run_arm(base, steps: int, every: int) -> dict:
    t0 = time.perf_counter()
    marks = [t0]
    vocab = base
    rows = []
    # inline replica of _learn_merges' loop with per-step timestamps
    # (the operator itself returns no per-step timing)
    from pyspark.sql import functions as F

    for step in range(1, steps + 1):
        toks = vocab.select(
            "freq",
            F.expr("filter(split(state, '\\\\|\\\\|'), x -> x <> '')").alias("t"),
        )
        pairs = toks.filter(F.size("t") >= 2).select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "j -> struct(element_at(t, j) AS a, "
                    "element_at(t, j + 1) AS b))"
                )
            ).alias("p"),
        )
        best = (
            pairs.select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "freq")
            .groupBy("a", "b")
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b = best[0]["a"], best[0]["b"]
        rows.append((step, a, b))
        vocab = vocab.withColumn(
            "state",
            F.replace(F.col("state"), F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|")),
        )
        if every and step % every == 0 and step < steps:
            vocab = vocab.localCheckpoint(eager=True)
        marks.append(time.perf_counter())
    deltas = [marks[i + 1] - marks[i] for i in range(len(marks) - 1)]
    third = max(1, len(deltas) // 3)
    plan_lines = len(vocab._jdf.queryExecution().analyzed().toString().splitlines())
    return {
        "every": every,
        "steps_done": len(deltas),
        "total_s": round(sum(deltas), 2),
        "first_third_s": round(sum(deltas[:third]), 2),
        "last_third_s": round(sum(deltas[-third:]), 2),
        "growth_x": round(sum(deltas[-third:]) / max(sum(deltas[:third]), 1e-9), 2),
        "final_plan_lines": plan_lines,
        "n_merges": len(rows),
    }


def main() -> None:
    steps = int(sys.argv[1]) if len(sys.argv) > 1 else 24
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else DEFAULT_SF_DIR
    spark = get_spark(app_name="bpe-ckpt-probe")
    base = T._bpe_base_vocab(spark, sf_dir).persist()
    base.count()
    print(f"steps={steps} sf_dir={sf_dir} vocab_rows={base.count()}")
    for every in (0, 8, 4, 2):
        r = run_arm(base, steps, every)
        print(r)


if __name__ == "__main__":
    main()
