"""Benchmark harness: runs the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

Per-query time is end-to-end: plan construction + execution + collect
(matching how the driver consumes results). SparkSession startup is
excluded (paid once, reported separately inside the JSON for context).

Minima protocol (round 3): every query runs ``$SPARK_GRAFT_BENCH_RUNS``
times (default 3); ``queries`` holds the per-query MINIMUM and ``runs``
the raw per-run array, and the total is built from minima. Host noise
on this box swings identical single runs 0.5s->25s (SCALE.md), so
single-shot rounds were not comparable; minima over >=3 are.

Index isolation (round 8): ``--fresh-indexes`` (or
``SPARK_GRAFT_FRESH_INDEXES=1``) pre-drops every persisted-index
database for the bench corpus — catalog entries AND warehouse files —
plus any fingerprint-orphaned index directory, so the run exercises the
intended build-then-adopt path deterministically instead of whatever
state the last process left behind (VERDICT r7 #4; round 7's driver
bench died on exactly such leftover state). WITHOUT the flag the run
must also succeed — the round-8 shared bootstrap
(operators/index_store.py) adopts or migrates any leftover — which is
what the back-to-back double-run check verifies.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dbt_bigquery_udf_spark import get_spark  # noqa: E402
from dbt_bigquery_udf_spark import queries as Q  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPO = os.path.dirname(os.path.abspath(__file__))

# Bench coverage (round 10, VERDICT r9 #7): the FULL registry is
# benched — _CURATED holds the historical headline ordering (kept so
# per-query minima stay comparable across round sidecars), and every
# registered query not in it is appended in registration order at the
# end of the list below. Registry growth is therefore benched
# automatically; a name in _CURATED that leaves the registry fails
# loudly at startup.
_CURATED = [
    "ref_datamart_e2e",
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_nation_volume",
    "q6_revenue_forecast",
    "window_top_parts_per_brand",
    "events_sessionize",
    "asof_click_attribution",
    "stats_summary",
    "stream_hourly_rollup",
    "dedup_exact",
    "dedup_minhash_pairs",
    "text_token_stats",
    "text_quality_score",
    "text_vocab_topk",
    "text_tfidf_topk",
    "timeseries_gapfill",
    "full_outer_daily_activity",
    "q8_market_share",
    "q13_customer_distribution",
    "q19_disjunctive_revenue",
    "funnel_signup_purchase",
    "dedup_latest_version",
    "pipeline_corpus_curation",
    "sim_ivf_topk",
    "sim_ivfpq_adc",
    "sim_topk_brute",
    "sim_topk_batch",
    "mm_decode_features",
    "mm_props_extract",
    "q12_ship_priority",
    "train_split_shards",
    "emb_kmeans_step",
    "emb_kmeans_train",
    "emb_kcenter_init",
    "fuzzy_name_pairs",
    "pii_scan",
    "market_basket_pairs",
    "profile_columns",
    "bq_dialect_qualify",
    "dedup_semantic",
    "distinct_bitmap_users",
    "events_variant_extract",
    "graph_pagerank_step",
    "udtf_sentence_stats",
    "global_row_ids",
    "bq_dialect_hll_rollup",
    "text_bm25_topk",
    "retrieval_rrf_fusion",
    # round 3: data selection, tokenizer stats, contrastive mining,
    # LM scoring, iterative graph
    "dsir_importance_weights",
    "bpe_pair_counts",
    "emb_hard_negatives",
    "text_bigram_lm_nll",
    "graph_pagerank_converged",
    # round 5: quality gates, duplicate-shingle fraction, dup-cluster
    # histogram
    "quality_gopher_rules",
    "dedup_shingle_fraction",
    "dedup_cluster_stats",
    # round 6: C4 line-level cleaning, 1-bit Hamming ANN, DSIR
    # selection, the quality-funnel audit
    "quality_c4_rules",
    "sim_hamming_topk",
    "dsir_select_topk",
    "pipeline_quality_funnel",
    # round 6 (cont.): BPE trainer, substring-removal dedup, radius ANN,
    # containment scoring, cluster-blocked kNN graph
    "bpe_train_merges",
    "dedup_block_removal",
    "dedup_incremental_near",
    "sim_range_search",
    "dedup_containment",
    "emb_knn_graph",
    "emb_label_propagation",
    "pipeline_dedup_funnel",
    "pipeline_embedding_curation",
    "quality_classifier_score",
    "bpe_encode_corpus",
    "stream_quality_gate",
    # round 7: two-build admission against the persisted LSH index,
    # and its streaming composition (foreachBatch micro-batch admission)
    "dedup_incr_near_indexed",
    "stream_near_dup_admission",
    "dedup_incr_exact_indexed",
    "sim_ivf_trained_indexed",
    "sim_ivf_upsert",
    "pipeline_incremental_admission",
    "ccnet_perplexity_buckets",
    # round 8: the exact gate's streaming composition (foreachBatch
    # micro-batch hashing against the layered base+delta hash state)
    # and targeted erasure from the persisted LSH index (tombstone
    # overlay, fold-on-compaction)
    "stream_exact_admission",
    "dedup_index_forget",
    "sim_ivf_forget",
    "dedup_exact_forget",
    "sim_ivf_drift_stats",
    "dedup_lsh_bucket_stats",
    "dedup_minhash_capped",
    "stream_ivf_admission",
    # round 9: the retrain execution (versioned rebuild-and-swap + serve)
    # and the auto-compacted admission gates (LSM fold firing mid-run)
    "sim_ivf_retrain",
    "sim_ivf_retrain_epoch2",
    "sim_ann_eval_metrics",
    "stream_near_dup_forget",
    "stream_exact_forget",
    "stream_ivf_forget",
    "dedup_near_auto_compacted",
    "dedup_exact_auto_compacted",
]

# full-registry coverage: every registered query not in the curated
# prefix, appended in registration order (deterministic)
HEADLINE = _CURATED + [n for n in Q.QUERIES if n not in set(_CURATED)]
_unknown = [n for n in _CURATED if n not in Q.QUERIES]
if _unknown:  # a rename must update the curated prefix
    raise RuntimeError(f"bench curated names not registered: {_unknown}")

# Session-ordering pin (VERDICT r10 #8): index-LIFECYCLE queries —
# those registered with ``lifecycle=True`` (``queries.LIFECYCLE``) — run
# AFTER every serving/read query. They mutate sibling warehouse
# databases and accumulate heavy session state (micro-batch clones,
# staged writes, version swaps); r10 measured the warm serving reads
# (sim_ivf_trained_indexed et al.) swinging 2-4x between same-HEAD runs
# purely from preceding lifecycle work. Per-query minima are
# order-independent as COMPARISONS, so moving the mutators to the end
# de-noises round-over-round deltas at zero plan cost.
HEADLINE = [n for n in HEADLINE if n not in Q.LIFECYCLE] + [
    n for n in HEADLINE if n in Q.LIFECYCLE
]


_INDEX_DB_PREFIXES = ("dedup_near_idx_", "dedup_exact_idx_", "sim_ivf_idx_")


def _drop_databases(spark, names) -> None:
    """Drop each database, catalog AND warehouse directory, and forget
    its cached location."""
    import shutil

    from dbt_bigquery_udf_spark.operators.index_store import (
        invalidate_db_location,
    )

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for db in names:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        invalidate_db_location(db)
        shutil.rmtree(os.path.join(wh, db + ".db"), ignore_errors=True)


def _fresh_indexes(spark) -> None:
    """Drop every persisted-index database (catalog AND files): each
    name under ``_INDEX_DB_PREFIXES`` that the catalog lists or that
    only a warehouse directory still holds — the bench corpus' indexes
    and those of corpora since regenerated (new fingerprint, new name),
    so stale artifacts don't accumulate in the warehouse."""
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    dbs = {d.name for d in spark.catalog.listDatabases()}
    if os.path.isdir(wh):
        dbs |= {d.removesuffix(".db") for d in os.listdir(wh) if d.endswith(".db")}
    _drop_databases(spark, sorted(d for d in dbs if d.startswith(_INDEX_DB_PREFIXES)))


def _reset_epoch_dbs(spark, sf_dir: str = SF_DIR) -> None:
    """Drop the RETRAIN-EPOCH databases unconditionally (VERDICT r10
    #8): gc_ivf_versions advances the epoch, so a second bench over the
    same warehouse would measure epoch-2 work (training off promoted
    centroids) instead of epoch-1 — a DIFFERENT computation wearing the
    same query name. Resetting _rt/_rt_e2 pins every invocation to the
    epoch-1 lifecycle the oracles replay. The serving/admission index
    databases are deliberately kept (their adopt-vs-build split is the
    measurement; --fresh-indexes resets those)."""
    from dbt_bigquery_udf_spark.operators import similarity as S

    _drop_databases(spark, (S._rt_db(sf_dir), S._rt_db(sf_dir) + "_e2"))


def sidecar_file(cores: int) -> str:
    """The per-query sidecar a bench on ``cores`` cores writes."""
    return f"BENCH_RUNS_c{cores}.json"


def time_query(spark, fn, runs: int, sf_dir: str = SF_DIR) -> list[float]:
    """``runs`` end-to-end timings of ``fn(spark, sf_dir).collect()``
    (plan construction + execution + collect), rounded to the ms."""
    per_run: list[float] = []
    for _ in range(runs):
        t = time.perf_counter()
        fn(spark, sf_dir).collect()
        per_run.append(round(time.perf_counter() - t, 3))
    return per_run


def main() -> None:
    t0 = time.perf_counter()
    spark = get_spark(app_name="bench")
    startup = time.perf_counter() - t0
    if "--fresh-indexes" in sys.argv[1:] or os.environ.get(
        "SPARK_GRAFT_FRESH_INDEXES"
    ) == "1":
        _fresh_indexes(spark)
    _reset_epoch_dbs(spark)

    try:
        sf = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    # Reduced-reps tail (VERDICT r9 #7): the curated headline prefix
    # keeps the full minima protocol; the appended full-registry tail
    # runs SPARK_GRAFT_BENCH_TAIL_RUNS times so complete coverage
    # doesn't triple the bench wall — tail entries are coverage/audit
    # rows, cross-round drift is graded on the curated minima.
    # Round 11 measurement fix (guide §1, documented in
    # OPTIMIZATION_r11.md): default raised 1 -> 2. Single-shot tail
    # entries were exposed to this host's multi-second stall windows —
    # the round-11 baseline recorded 20.9s for a query whose isolated
    # min-of-3 is 1.0s, pure host noise booked as query cost. Min-of-2
    # bounds that exposure; the metric definition (sum of per-query
    # minima) is unchanged, values only get closer to true cost.
    tail_runs = max(
        1, int(os.environ.get("SPARK_GRAFT_BENCH_TAIL_RUNS", "2"))
    )
    curated = set(_CURATED)
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    for name in HEADLINE:
        per_run = time_query(
            spark, Q.QUERIES[name], n_runs if name in curated else tail_runs
        )
        runs[name] = per_run
        timings[name] = min(per_run)
        spark.catalog.clearCache()  # keep per-query persists from compounding

    total = round(sum(timings.values()), 3)
    # Raw per-run arrays AND the per-query minima map go to the sidecar
    # file; stdout carries (a) one per-query-minima line for humans and
    # (b) a compact totals-only FINAL line. Round 6's final line inlined
    # the 73-entry queries map and overflowed the driver's stdout tail
    # capture ("parsed": null in BENCH_r06) — the LAST stdout line is the
    # one the driver grades, so it must stay short (<~500 bytes).
    sidecar = {
        "runs": runs,
        "queries": timings,
        "n_runs": n_runs,
        "tail_runs": tail_runs,
        "n_curated": len(_CURATED),
        "sf": sf,
    }
    # one sidecar per core count, so a c8 run does not overwrite c32's
    sidecar_name = sidecar_file(spark.sparkContext.defaultParallelism)
    try:
        with open(os.path.join(REPO, sidecar_name), "w") as fh:
            json.dump(sidecar, fh)
    except OSError:
        pass
    print(json.dumps({"queries": timings}))
    sys.stdout.flush()
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "n_runs": n_runs,
                "sf": sf,
                "startup_sec": round(startup, 3),
                "cpus": os.environ.get("SPARK_GRAFT_CPUS", "auto"),
                "per_query": sidecar_name,
            }
        )
    )


if __name__ == "__main__":
    main()
