"""Schema tests — the dbt generic-test surface (`dbt test`).

The reference configures a test path (`/root/reference/dbt_project.yml:17`
``test-paths: ["tests"]``) and its production log shows 387 tests
running (`dbt_run_result.png`), but ships none — so this module
implements dbt's four built-in generic tests, which is what those
hundreds of tests overwhelmingly are:

- ``unique``            — no key value appears twice
- ``not_null``          — no NULLs in the column
- ``accepted_values``   — column values drawn from a closed set
- ``relationships``     — referential integrity against a parent model

A test compiles to ONE aggregate query returning the number of
violating rows (dbt's convention: a test passes when it returns zero
rows; we count instead of materializing them). Each is a scan +
aggregate with partial aggregation — no test ever collects data, so the
suite parallelizes across models exactly like the build DAG (F17) and
scales with the warehouse, not the driver.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession

from .core import Engine, EngineError

__all__ = [
    "SchemaTest",
    "SingularTest",
    "unique",
    "not_null",
    "accepted_values",
    "relationships",
    "TestResult",
    "run_tests",
]


def _relation_for(engine, model: str):
    """Built relation for ``model``, resolving versioned-entry bare
    names (and ``name.vN`` pins) through the engine's ref rules — a
    schema.yml test on a versioned model addresses the entry name, and
    dbt runs it against the latest version."""
    rel = engine.relations.get(model)
    if rel is not None:
        return rel
    try:
        return engine.relations.get(engine._ref_key(model))
    except EngineError:
        return None


@dataclass(frozen=True)
class SchemaTest:
    """One generic test bound to a model column.

    ``severity`` is dbt's test config: ``'error'`` (default) fails the
    run on violations; ``'warn'`` reports them without failing —
    the standard dial for advisory checks on known-dirty sources.
    """

    test_type: str  # 'unique' | 'not_null' | 'accepted_values' | 'relationships'
    model: str
    column: str
    values: tuple[str, ...] = ()  # accepted_values only
    to_model: str = ""  # relationships only: parent model
    to_column: str = ""  # relationships only: parent key
    severity: str = "error"  # 'error' | 'warn'

    @property
    def name(self) -> str:
        suffix = ""
        if self.test_type == "relationships":
            suffix = f"__{self.to_model}_{self.to_column}"
        return f"{self.test_type}_{self.model}_{self.column}{suffix}"

    def failing_rows_sql(self, engine: Engine) -> str:
        """The dbt-compiled test query: one row per violation (or per
        violating value for the grouped tests). ``failures_sql`` counts
        it; ``store_failures`` materializes it."""
        rel = _relation_for(engine, self.model)
        if rel is None:
            raise EngineError(f"test {self.name}: model {self.model!r} not built")
        q = rel.qualified
        c = self.column
        if self.test_type == "unique":
            # One row per duplicated value, n = its row count — and the
            # FAILURE COUNT is this query's row count (one per
            # duplicated VALUE), matching upstream dbt, whose failures
            # number is `count(*)` over the compiled test query
            # (ADVICE r10 — the previous sum-of-group-counts was a
            # stricter deviation misdocumented as dbt's semantics).
            # NULLs exempt — that's not_null's job.
            return (
                f"SELECT {c} AS value, count(*) AS n "
                f"FROM {q} WHERE {c} IS NOT NULL GROUP BY {c} "
                f"HAVING count(*) > 1"
            )
        if self.test_type == "not_null":
            return f"SELECT * FROM {q} WHERE {c} IS NULL"
        if self.test_type == "accepted_values":
            quoted = ", ".join("'" + v.replace("'", "''") + "'" for v in self.values)
            return (
                f"SELECT {c} AS value, count(*) AS n FROM {q} "
                f"WHERE {c} IS NOT NULL AND {c} NOT IN ({quoted}) GROUP BY {c}"
            )
        if self.test_type == "relationships":
            parent = _relation_for(engine, self.to_model)
            if parent is None and "." in self.to_model:
                # A dotted name addresses a catalog relation directly —
                # how a test points at a *source* (dbt's
                # relationships-to-source), which has no model entry.
                parent_qualified = self.to_model
            elif parent is None:
                raise EngineError(
                    f"test {self.name}: parent model {self.to_model!r} not built"
                )
            else:
                parent_qualified = parent.qualified
            # Anti-join: child keys with no parent. Catalyst plans a
            # broadcast anti join when the parent key set is small; at
            # scale both sides shuffle on the key — same story as any
            # integrity check.
            return (
                f"SELECT c.{c} AS value FROM (SELECT {c} FROM {q} "
                f"WHERE {c} IS NOT NULL) c LEFT ANTI JOIN "
                f"{parent_qualified} p ON c.{self.column} = p.{self.to_column}"
            )
        raise EngineError(f"unknown test type {self.test_type!r}")

    def failures_sql(self, engine: Engine) -> str:
        # dbt's failure count is the ROW COUNT of the compiled test
        # query — for the grouped tests (unique / accepted_values) that
        # is one per violating VALUE, not one per violating row. The
        # per-value row counts still surface through store_failures
        # (the audit table materializes failing_rows_sql with its `n`
        # column intact).
        return f"SELECT count(*) FROM ({self.failing_rows_sql(engine)})"


def unique(model: str, column: str) -> SchemaTest:
    return SchemaTest("unique", model, column)


def not_null(model: str, column: str) -> SchemaTest:
    return SchemaTest("not_null", model, column)


def accepted_values(model: str, column: str, values: list[str]) -> SchemaTest:
    return SchemaTest("accepted_values", model, column, values=tuple(values))


def relationships(model: str, column: str, to_model: str, to_column: str) -> SchemaTest:
    return SchemaTest(
        "relationships", model, column, to_model=to_model, to_column=to_column
    )


@dataclass(frozen=True)
class SingularTest:
    """dbt singular (data) test: a hand-written SQL query whose result
    rows ARE the violations (dbt: a .sql file under test-paths — the
    reference configures ``test-paths: ["tests"]`` but ships the
    directory empty). ``{{ ref('model') }}`` placeholders resolve
    against the engine exactly as in model bodies.
    """

    name: str
    sql: str  # returns violating rows; empty result = pass
    severity: str = "error"

    test_type: str = "singular"

    def failing_rows_sql(self, engine: Engine) -> str:
        # Reuse the engine's own ref()/source() grammar (models/core.py
        # _REF_RE/_SOURCE_RE) — one syntax definition, and singular
        # tests may address sources exactly as dbt allows.
        from .core import _REF_RE, _SOURCE_RE

        sql = _REF_RE.sub(
            lambda m: engine._resolve_ref(
                m.group(1),
                version=int(m.group(2)) if m.group(2) else None,
                for_call=False,
            ),
            self.sql,
        )
        sql = _SOURCE_RE.sub(
            lambda m: engine._resolve_source(*m.groups()), sql
        )
        return sql.strip().rstrip(";")

    def failures_sql(self, engine: Engine) -> str:
        return f"SELECT count(*) FROM ({self.failing_rows_sql(engine)})"


@dataclass
class TestResult:
    test: object  # SchemaTest | SingularTest
    n_failures: int
    audit_table: str | None = None  # store_failures target, when written

    @property
    def passed(self) -> bool:
        return self.n_failures == 0

    @property
    def status(self) -> str:
        """dbt's three-state outcome: severity='warn' violations warn
        instead of failing the run."""
        if self.n_failures == 0:
            return "pass"
        return "warn" if self.test.severity == "warn" else "fail"


def run_tests(
    spark: SparkSession,
    engine: Engine,
    tests: list,
    store_failures: bool = False,
    audit_database: str = "dbt_test__audit",
) -> list[TestResult]:
    """Execute a test suite against the engine's built relations.

    LEFT ANTI JOIN in relationships needs no database switch: relations
    are addressed fully qualified, so the current database is irrelevant
    (unlike TVF calls — F14).

    ``store_failures=True`` is dbt's config of the same name: each
    failing test's violating rows are materialized to
    ``<audit_database>.<test_name>`` (dbt's dbt_test__audit schema) for
    post-mortem without re-running the query. Only failing tests write
    — the audit schema stays O(problems), not O(tests).
    """
    results = []
    for t in tests:
        n = int(spark.sql(t.failures_sql(engine)).collect()[0][0])
        audit = None
        if store_failures and n > 0:
            from ..catalog import ensure_database
            from ..operators import index_store

            ensure_database(spark, audit_database)
            table = t.name.replace(".", "_")
            audit = f"{audit_database}.{table}"
            # the table AND a directory a previous process left behind,
            # which would fail the CTAS with LOCATION_ALREADY_EXISTS
            index_store.clear_tables(spark, audit_database, (table,))
            spark.sql(
                f"CREATE TABLE {audit} USING parquet AS {t.failing_rows_sql(engine)}"
            )
        results.append(TestResult(t, n, audit))
    return results


@dataclass
class FreshnessResult:
    relation: str
    ts_column: str
    max_ts: object
    age_hours: float
    status: str  # 'pass' | 'warn' | 'error'


def check_source_freshness(
    spark: SparkSession,
    relation: str,
    ts_column: str,
    warn_after_hours: float = 24.0,
    error_after_hours: float = 72.0,
    as_of=None,
) -> FreshnessResult:
    """dbt `source freshness` analogue: age of the newest row in a
    source relation vs warn/error thresholds.

    ``as_of`` defaults to the current clock; tests pin it for
    determinism. One max() aggregate — scan-bound, no shuffle.
    """
    from datetime import datetime, timezone

    row = spark.sql(f"SELECT max({ts_column}) FROM {relation}").collect()[0]
    max_ts = row[0]
    if as_of is None:
        as_of = datetime.now(timezone.utc).replace(tzinfo=None)
    if max_ts is None:
        return FreshnessResult(relation, ts_column, None, float("inf"), "error")
    age = (as_of - max_ts).total_seconds() / 3600.0
    status = "pass" if age <= warn_after_hours else (
        "warn" if age <= error_after_hours else "error"
    )
    return FreshnessResult(relation, ts_column, max_ts, round(age, 2), status)
