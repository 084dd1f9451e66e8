"""Catalog management: databases, environment routing, conflict checks.

Reference behaviors re-expressed here:

- **Environment-scoped namespaces** (reference: README.md:178-193, 325-327):
  the same logical dataset (``udf``, ``datamart``) exists per environment
  (``udf``, ``udf_staging``, ``udf_dev``, ``udf_ci``). dbt got this from
  target schemas; we get it from one Spark database per (dataset, env),
  selected via ``USE`` — mandatory anyway because Spark SQL table-function
  *invocation* must be unqualified (probed on 4.1.2: ``db.tvf(...)`` is a
  parse error, while ``USE db; tvf(...)`` resolves).

- **Shared-namespace conflict rule** (reference: macros/udf/function.sql:4-7):
  BigQuery functions and tables share the dataset namespace, and the
  reference hard-fails if the target name already exists. Spark happily
  co-names a table and a function, so the rule is enforced here in
  :func:`check_name_conflict`.
"""

from __future__ import annotations

import threading

from pyspark.sql import SparkSession

__all__ = [
    "EngineError",
    "NameConflictError",
    "env_database",
    "target_context",
    "ensure_database",
    "relation_exists",
    "check_name_conflict",
    "catalog_lock",
]

# ``USE <db>`` mutates session-global state; parallel DAG workers guard
# current-database-sensitive statement batches with this lock.
catalog_lock = threading.RLock()

SOURCE_DATABASE = "src"
ENVIRONMENTS = ("prod", "ci", "staging", "dev")


class EngineError(RuntimeError):
    """Engine-level build failure (the analogue of dbt's compiler error)."""


class NameConflictError(EngineError):
    """Raised when a relation name already exists in the target dataset.

    Mirrors the reference's pre-create check
    (reference: macros/udf/function.sql:4-7 / table_function.sql:4-7).
    """


def env_database(logical: str, env: str | None = None) -> str:
    """Map a logical dataset + environment to a physical database name.

    ``prod``/None keeps the bare name, matching the reference where the
    production dataset is unsuffixed (reference: README.md:186-191).
    """
    if env in (None, "", "prod"):
        return logical
    if env not in ENVIRONMENTS:
        raise EngineError(f"unknown environment {env!r}; expected one of {ENVIRONMENTS}")
    return f"{logical}_{env}"


def target_context(env: str | None = None) -> dict:
    """The dbt ``{{ target }}`` context dict for an engine environment.

    dbt's env-routing idiom (``{% if target.name == 'prod' %}``) is the
    sibling of the var-based switching the reference documents
    (reference: README.md:178-193); ``--env`` surfaces here as
    ``target.name``, with prod/None the unsuffixed default exactly as
    :func:`env_database` routes relations.
    """
    if env not in (None, "", "prod") and env not in ENVIRONMENTS:
        raise EngineError(
            f"unknown environment {env!r}; expected one of {ENVIRONMENTS}"
        )
    return {
        "name": env or "prod",
        "schema": env_database("udf", env),
        "database": "spark_catalog",
        "type": "spark",
        "threads": 1,
    }


def ensure_database(spark: SparkSession, database: str) -> bool:
    """``CREATE DATABASE IF NOT EXISTS`` behind a cheap existence probe:
    ``databaseExists`` is a direct catalog call (~4ms) where the SQL
    command pays a full parse and plan. Returns True if it created the
    database."""
    if spark.catalog.databaseExists(database):
        return False
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    return True


def relation_exists(spark: SparkSession, database: str, name: str) -> str | None:
    """Return 'table' / 'function' if ``database.name`` exists, else None."""
    if spark.catalog.tableExists(f"{database}.{name}"):
        return "table"
    if spark.catalog.functionExists(f"{database}.{name}"):
        return "function"
    return None


def check_name_conflict(spark: SparkSession, database: str, name: str) -> None:
    kind = relation_exists(spark, database, name)
    if kind is not None:
        raise NameConflictError(
            f"relation {database}.{name} already exists (as a {kind}); "
            "BigQuery datasets have one namespace for tables and routines, "
            "so the engine refuses to create over it (pass replace=True to rebuild)"
        )
