"""Doc-count drift guard (VERDICT r8 #5): README/COVERAGE registry
counts are ASSERTED against the live registry in CI, ending the
stale-count drift class (round 7 shipped '202', round 8 shipped '203'
against a 204-query registry). Any registry growth now fails this test
until the docs are re-synced — the 'generate the number from the
registry' fix in test form.

No SparkSession needed: importing the registry module populates QUERIES
(operators register on import).
"""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _registry_size() -> int:
    from dbt_bigquery_udf_spark.queries import QUERIES

    return len(QUERIES)


def test_readme_and_coverage_counts_match_registry():
    n = _registry_size()
    claims: list[tuple[str, int, str]] = []
    for doc in ("README.md", "COVERAGE.md"):
        text = open(os.path.join(REPO, doc)).read()
        for m in re.finditer(r"(\d+)\s+registered queries", text):
            claims.append((doc, int(m.group(1)), m.group(0)))
        for m in re.finditer(r"(\d+)\s+queries total", text):
            claims.append((doc, int(m.group(1)), m.group(0)))
        # full-registry sweep claims of the form "205/205"
        for m in re.finditer(r"(\d+)/(\d+)(?=\s*[—\-)]|\s+and\b)", text):
            if m.group(1) == m.group(2) and int(m.group(1)) > 100:
                claims.append((doc, int(m.group(1)), m.group(0)))
    assert claims, "expected at least one registry-count claim in the docs"
    stale = [(d, v, ctx) for d, v, ctx in claims if v != n]
    assert not stale, (
        f"registry holds {n} queries but these doc claims disagree "
        f"(re-sync README.md/COVERAGE.md): {stale}"
    )


def test_curated_window_is_exactly_the_driver_prefix():
    """The curated window must stay exactly 50 names (the driver checks
    list(queries())[:50]) and every name must be registered — a rename
    or resize fails here before it fails in the driver."""
    from dbt_bigquery_udf_spark.queries import QUERIES, _CURATED_WINDOW

    assert len(_CURATED_WINDOW) == 50
    assert len(set(_CURATED_WINDOW)) == 50
    missing = [q for q in _CURATED_WINDOW if q not in QUERIES]
    assert not missing, missing


# Every query registered with ``lifecycle=True``: admissions, folds,
# retrains, upserts, erasures, the streaming pipelines and the audits
# composing them.
_LIFECYCLE_NAMES = {
    # operators/dedup.py
    "dedup_incr_near_indexed", "stream_near_dup_admission",
    "dedup_incr_exact_indexed", "dedup_near_auto_compacted",
    "dedup_exact_auto_compacted", "dedup_index_forget",
    "stream_near_dup_forget", "pipeline_incremental_admission",
    "stream_exact_admission", "dedup_exact_forget", "stream_exact_forget",
    # operators/similarity.py
    "sim_ivf_forget", "stream_ivf_forget", "sim_ivf_upsert",
    "sim_ivf_retrain", "sim_ivf_retrain_epoch2", "sim_ivf_retrain_policy",
    "stream_ivf_admission",
    # streaming/pipelines.py
    "stream_hourly_rollup", "stream_sessionize", "stream_user_state",
    "stream_dedup", "stream_static_join", "stream_stream_join",
    "stream_foreachbatch_sink", "stream_topk_trending",
    "stream_transform_with_state", "stream_recovery_resume",
    "stream_quality_gate",
}


def test_lifecycle_flag_orders_the_bench(monkeypatch):
    """The registry's ``lifecycle=True`` flag, not the query names,
    decides which queries bench.py runs last: HEADLINE is its serving
    reads, then its lifecycle queries, each group in curated-then-
    registration order."""
    monkeypatch.syspath_prepend(REPO)
    import bench
    from dbt_bigquery_udf_spark.queries import LIFECYCLE, QUERIES

    assert LIFECYCLE == _LIFECYCLE_NAMES
    assert "sim_ivf_trained_indexed" not in LIFECYCLE
    order = bench._CURATED + [n for n in QUERIES if n not in bench._CURATED]
    assert bench.HEADLINE == [n for n in order if n not in LIFECYCLE] + [
        n for n in order if n in LIFECYCLE
    ]


def test_perfbench_index_queries_are_lifecycle(monkeypatch):
    """perfbench picks its index-mutating queries by its own name rule;
    every pick is a lifecycle query except the trained-IVF serving read,
    which builds its index when absent (a write perfbench times) but
    serves reads in bench.py. A new drift between the two rules fails
    here."""
    monkeypatch.syspath_prepend(os.path.join(REPO, "perfbench"))
    import workloads

    from dbt_bigquery_udf_spark.queries import LIFECYCLE, QUERIES

    picked = set(workloads.index_queries(QUERIES))
    assert picked - LIFECYCLE == {"sim_ivf_trained_indexed"}
