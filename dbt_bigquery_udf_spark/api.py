"""High-level entry points: bootstrap a session against a scale-factor
directory and build the reference DAG.

This is the engine analogue of ``dbt run`` (SURVEY.md §3 E1/E2): load
sources, compile models, materialize in dependency order.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

from .models.core import Engine
from .models.reference import (
    REFERENCE_MODELS,
    reference_exposures,
    reference_metrics,
    register_test_table,
)
from .session import apply_engine_confs
from .sources.registry import register_sources, register_sources_catalog

__all__ = ["bootstrap", "build_reference_dag", "prepared_engine"]

_bootstrap_lock = threading.Lock()
_bootstrap_state: dict[tuple[int, str, str | None], Engine] = {}
# Last sf_dir each session was bootstrapped against — catalog objects
# (src tables, datamart) are session-global, so switching scale factors
# invalidates them and forces a re-bootstrap.
_session_sf: dict[int, str] = {}


def bootstrap(
    spark: SparkSession,
    sf_dir: str,
    env: str | None = None,
    catalog_sources: bool = True,
    vars: dict[str, object] | None = None,
) -> Engine:
    """Prepare a session: engine confs, source registration, model registry.

    Sources are registered as temp views and, with ``catalog_sources``,
    as ``src.*`` external tables. Both share one schema per source, read
    from the parquet footer on the driver and cached on the session (see
    :mod:`.sources.registry`), so no call runs a Spark job: the first
    call in a session reads one footer per source file, and a repeat
    reads none unless a file changed. The ``src.*`` DDL runs only for a
    table that is missing or whose files or schema changed.
    """
    apply_engine_confs(spark)
    register_sources(spark, sf_dir)
    if catalog_sources:
        register_sources_catalog(spark, sf_dir)
        register_test_table(spark, persistent=True)
    engine = Engine(spark, env=env, vars=vars)
    engine.register(*REFERENCE_MODELS)
    engine.register_exposures(*reference_exposures())
    from .models.metrics import MetricRegistry

    engine.metric_registry = MetricRegistry(engine).register(*reference_metrics())
    return engine


def build_reference_dag(
    spark: SparkSession, sf_dir: str, env: str | None = None
) -> Engine:
    engine = bootstrap(spark, sf_dir, env=env)
    engine.build()
    return engine


def prepared_engine(
    spark: SparkSession, sf_dir: str, env: str | None = None
) -> Engine:
    """Memoized :func:`build_reference_dag` per (session, sf_dir, env) —
    driver verify calls many ``queries()`` entries against one session;
    the DAG only needs to materialize once per scale factor."""
    key = (id(spark), sf_dir, env)
    with _bootstrap_lock:
        engine = _bootstrap_state.get(key)
        if engine is None or _session_sf.get(id(spark)) != sf_dir:
            engine = build_reference_dag(spark, sf_dir, env=env)
            _bootstrap_state[key] = engine
            _session_sf[id(spark)] = sf_dir
        return engine
