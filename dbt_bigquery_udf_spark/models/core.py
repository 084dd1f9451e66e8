"""The model build system — the engine's re-expression of the reference's
custom dbt materializations.

Reference surface covered here (SURVEY.md §2.1 numbering):

- F1/F2: ``function`` / ``table_function`` materializations
  (reference: macros/udf/function.sql:1-32, macros/udf/table_function.sql:1-32)
- F3/F4: DDL generation
  (reference: macros/udf/get_create_function_as_sql.sql:13-17,
  get_create_table_function_as_sql.sql:11-15)
- F5: shared-namespace conflict check (reference: function.sql:4-7)
- F6: pre/post hooks (reference: function.sql:10,13,22,27)
- F7/F8: statement execution + commit — collapses to in-process
  ``spark.sql`` (Spark catalog DDL auto-commits)
- F9: relation registry (reference: function.sql:29-30)
- F10: description persistence via ``COMMENT`` (reference: function.sql:16,
  get_create_function_as_sql.sql:14 — BQ ``OPTIONS(description=...)``)
- F11: model contract ``params`` / ``return_type``
  (reference: models/udf/function/parse_datetime.sql:1-8)
- F12/F13: ``ref()`` / ``source()`` resolution + DAG edges
  (reference: models/udf/table_function/test_table_function.sql:10-12)
- F14: environment-scoped namespaces (reference: README.md:178-193)
- F15: ``table`` materialization + persist_docs
  (reference: dbt_project.yml:40-43, models/datamart/schema.yml:4-10)
- F16/F17: selective + parallel DAG builds (reference: README.md:322-337)

Design stance (SURVEY.md §7): models compile to Spark SQL DDL strings and
``spark.sql`` executes them — Catalyst is the parser/optimizer/executor.
SQL UDF and TVF bodies are *inlined by the analyzer* into consuming plans,
so a datamart CTAS through a TVF through a scalar UDF optimizes as one
flat scan-filter-project with predicate pushdown into the parquet scan
(verified via ``.explain``). No per-row function-call boundary exists at
execution time, which is exactly BigQuery's behavior (SURVEY.md §3 E3).
"""

from __future__ import annotations

import re
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, SparkSession

from ..catalog import (
    EngineError,
    catalog_lock,
    check_name_conflict,
    ensure_database,
    env_database,
    target_context,
)
from ..functions.dialect import translate_param_list, transpile_bq_expr

__all__ = ["ModelSpec", "Engine", "Exposure"]

# {{ ref('m') }} plus dbt 1.5's versioned form {{ ref('m', v=2) }} /
# {{ ref('m', version=2) }} — group 2 carries the version when present.
_REF_RE = re.compile(
    r"\{\{\s*ref\(\s*'([^']+)'\s*"
    r"(?:,\s*(?:v|version)\s*=\s*(\d+)\s*)?\)\s*\}\}"
)
_SOURCE_RE = re.compile(r"\{\{\s*source\(\s*'([^']+)'\s*,\s*'([^']+)'\s*\)\s*\}\}")
_THIS_RE = re.compile(r"\{\{\s*this\s*\}\}")
# dbt's var(): {{ var('name') }} / {{ var('name', <default>) }} where
# the default is a quoted string or a bare number/identifier token.
_VAR_RE = re.compile(
    r"\{\{\s*var\(\s*'([^']+)'\s*(?:,\s*('[^']*'|[^)\s]+)\s*)?\)\s*\}\}"
)
_JINJA_SPAN_RE = re.compile(r"\{\{.*?\}\}", re.S)
_REF_TOKEN_RE = re.compile(
    r"\bref\(\s*['\"]([^'\"]+)['\"]\s*"
    r"(?:,\s*(?:v|version)\s*=\s*(\d+)\s*)?\)"
)
# Opt-in marker for the build-time dbt_utils introspection env (see
# _render_sql): binding it unconditionally would make every model pay
# catalog lookups it never uses.
_UTILS_JINJA_RE = re.compile(
    r"\b(?:star|get_column_values|union_relations|pivot|run_query)\s*\("
    r"|\badapter\.|\bdbt_utils\."
)
# dbt invocation context: the audit-column idiom
# (`'{{ invocation_id }}' AS batch_id, '{{ run_started_at }}' AS loaded_at`).
_INVOCATION_RE = re.compile(r"\{\{\s*(invocation_id|run_started_at)\s*\}\}")
def _parse_deprecation_date(name: str, value: str):
    """Parse a model's ``deprecation_date`` (ISO date or datetime) to a
    timezone-aware datetime, raising EngineError on garbage — dbt
    validates the field at parse time too."""
    from datetime import datetime, timezone

    for fmt in ("%Y-%m-%d", "%Y-%m-%d %H:%M:%S", "%Y-%m-%dT%H:%M:%S"):
        try:
            return datetime.strptime(str(value), fmt).replace(
                tzinfo=timezone.utc
            )
        except ValueError:
            continue
    raise EngineError(
        f"model {name}: deprecation_date {value!r} is not an ISO date "
        "(YYYY-MM-DD[ HH:MM:SS])"
    )


def _partition_epoch(value: str) -> float | None:
    """Epoch seconds for a civil date-ish partition value ('2026-01-01',
    '2026-01-01 08' possibly URL-encoded, '2026-01'), else None."""
    import calendar
    from datetime import datetime
    from urllib.parse import unquote

    v = unquote(value)
    for fmt in ("%Y-%m-%d %H", "%Y-%m-%d", "%Y-%m"):
        try:
            return calendar.timegm(datetime.strptime(v, fmt).timetuple())
        except ValueError:
            continue
    return None


# dbt's incremental guard `{% if is_incremental() %}` is evaluated by the
# general control-flow subset (macros.py::render_control_flow, which also
# handles its {% else %} branch) — is_incremental() is just a boolean in
# that evaluator; see Engine.render().


@dataclass(frozen=True)
class ModelSpec:
    """A build unit: named SQL materialized into the Spark catalog.

    ``sql`` may use ``{{ ref('model') }}`` / ``{{ source('ds','table') }}``
    placeholders (the reference's dbt surface, minus full Jinja — which is
    incidental to its semantics, SURVEY.md §7) and, for function kinds,
    refer to declared parameters by name. ``dialect='bigquery'`` runs the
    body through the BQ->Spark transpiler first.
    """

    name: str
    kind: str  # 'function' | 'table_function' | 'table' | 'view' | 'seed'
    #           | 'incremental' | 'snapshot' | 'ephemeral' | 'python' | 'copy'
    sql: str  # model body; for kind='seed', the CSV file path; '' for python
    database: str = "udf"  # logical dataset; env suffix applied at build
    # dbt's `alias` config: the PHYSICAL relation name when it differs
    # from the model name (ref()/selectors/registry always use `name`;
    # every warehouse-facing statement uses `relation_name`).
    alias: str | None = None
    params: tuple[str, ...] = ()  # 'name TYPE' (BQ types), function kinds only
    return_type: str | None = None  # scalar functions only (BQ type)
    description: str = ""
    columns: dict[str, str] = field(default_factory=dict)  # col -> doc
    tags: tuple[str, ...] = ()
    pre_hooks: tuple[str, ...] = ()
    post_hooks: tuple[str, ...] = ()
    dialect: str = "bigquery"  # 'bigquery' | 'spark'
    # Seeds only: declared column -> BQ type (dbt's `column_types` seed
    # config). Empty = infer from the CSV (small files by definition).
    seed_column_types: tuple[tuple[str, str], ...] = ()
    # Incremental only (dbt's incremental materialization):
    # 'append' inserts the body's rows (optionally only new unique_key
    # values); 'insert_overwrite' replaces exactly the partitions the
    # body produced (requires partition_by); 'merge' upserts on
    # unique_key (dbt-bigquery's DEFAULT strategy — BigQuery MERGE;
    # here a partition-scoped or full rewrite, models/incremental.py).
    incremental_strategy: str = "append"  # | 'insert_overwrite' | 'merge'
    partition_by: tuple[str, ...] = ()
    # dbt-bigquery's `partitions` config (insert_overwrite only): a
    # STATIC list of partition values to replace this run. Unlike
    # dynamic mode (replace whatever partitions the batch produced),
    # the listed partitions are cleared even if the batch has no rows
    # for them — the semantics a fixed-date-range backfill needs
    # ("rebuild the last 3 days" must erase a day that went empty).
    partitions: tuple[str, ...] = ()
    # dbt's on_schema_change config (incremental runs only):
    # 'ignore' | 'fail' | 'append_new_columns' | 'sync_all_columns'.
    on_schema_change: str = "ignore"
    # dbt-bigquery's merge_update_columns: restrict which columns a
    # MATCHED row takes from the batch (empty = all columns).
    merge_update_columns: tuple[str, ...] = ()
    # dbt's incremental_predicates (merge strategy): SQL predicates over
    # target columns that bound the target-side join input — rows they
    # exclude are carried through the rewrite untouched, never deleted.
    incremental_predicates: tuple[str, ...] = ()
    # Microbatch strategy only (dbt >= 1.9): the model is processed one
    # time batch at a time, each batch replacing its own partition
    # (models/incremental.py::run_microbatch).
    event_time: str | None = None
    batch_size: str = "day"  # 'hour' | 'day' | 'month'
    lookback: int = 1  # batches re-processed behind the high-water mark
    begin: str | None = None  # first-run start timestamp (dbt's `begin`)
    # dbt-bigquery's cluster_by: BigQuery clusters table blocks by these
    # columns; the Spark equivalent is a global range sort on write, so
    # each parquet file covers a narrow key range and scan-time min/max
    # (row-group) pruning does what BQ's block pruning does. Applies to
    # 'table' and 'incremental' kinds.
    cluster_by: tuple[str, ...] = ()
    unique_key: str | None = None
    # Snapshots only (dbt SCD2): change-detection strategy.
    snapshot_strategy: str = "timestamp"  # 'timestamp' | 'check'
    updated_at: str | None = None  # timestamp strategy
    check_cols: tuple[str, ...] = ()  # check strategy
    # dbt's invalidate_hard_deletes snapshot config: close the history
    # row (at the run clock) for keys the source no longer returns.
    invalidate_hard_deletes: bool = False
    # dbt model contracts (dbt 1.5 `contract: {enforced: true}` +
    # per-column data_type): the declared (column, BQ type) list is
    # checked against the ANALYZED schema of the rendered body BEFORE
    # anything materializes — a drifted upstream fails the build, not
    # the downstream consumer. Order-insensitive; extra or missing
    # columns fail like dbt's contract error.
    contract_columns: tuple[tuple[str, str], ...] = ()
    # Python models only (dbt's python-model surface: def model(dbt,
    # session) -> DataFrame, materialized as a table). The callable
    # receives (spark, ctx) where ctx.ref()/ctx.source() resolve
    # upstream relations to DataFrames. Refs cannot be discovered by
    # regex in Python source, so they are declared in python_refs — the
    # engine uses them for DAG edges exactly like SQL {{ ref() }}.
    python_body: object | None = None  # Callable[[SparkSession, Any], DataFrame]
    python_refs: tuple[str, ...] = ()
    # dbt-bigquery's labels config (BQ table labels) -> TBLPROPERTIES,
    # prefixed 'label.' to keep them distinct from engine properties.
    labels: tuple[tuple[str, str], ...] = ()
    # dbt-bigquery lifecycle configs (BQ table options), persisted as
    # TBLPROPERTIES and acted on by Engine.sweep_expired /
    # Engine.enforce_partition_filters:
    #   hours_to_expiration      -> whole-table TTL from build time;
    #   partition_expiration_days-> per-partition TTL on the first
    #                               partition_by column (date-valued);
    #   require_partition_filter -> queries scanning the table must
    #                               prune partitions.
    hours_to_expiration: int | None = None
    partition_expiration_days: int | None = None
    require_partition_filter: bool = False
    # dbt's grants config. OSS Spark has no SQL ACL engine, so grants
    # persist as TBLPROPERTIES ('grant.<privilege>' = grantees) — the
    # audit trail an external enforcer (Ranger, Unity, etc.) consumes.
    grants: tuple[tuple[str, str], ...] = ()  # (privilege, grantee-csv)
    # dbt 1.5 model versions: ``version`` marks this spec as version N
    # of the model entry ``name`` (schema.yml ``versions: [{v: N}]``).
    # Versioned specs register under the key ``<name>.v<N>`` with a
    # default physical alias ``<name>_v<N>`` (dbt's default); the BARE
    # name stays a logical handle — ``ref('name')`` resolves to the
    # entry's latest version, ``ref('name', v=N)`` to that version.
    # ``latest_version`` is the entry-level pin (dbt's schema.yml key
    # of the same name); unset = highest registered version. It may be
    # declared on any (or every) version spec of the entry; conflicting
    # declarations are an error at register time.
    version: int | None = None
    latest_version: int | None = None
    # dbt's model-level deprecation_date (ISO date / datetime): refs
    # and builds after this date record a deprecation warning on the
    # engine (dbt raises the same as a warning event, never an error).
    deprecation_date: str | None = None
    # dbt's sql_header config — statements executed in the same session
    # immediately before the main statement. On BigQuery this is THE
    # documented mechanism for temporary UDFs a single model needs
    # (`CREATE TEMP FUNCTION ...` prefixed to the script), i.e. the
    # lightweight cousin of the reference's whole persistent-UDF
    # framework. Spark analogue: `CREATE TEMPORARY FUNCTION` (SQL-bodied
    # temp UDFs, session-scoped rather than statement-scoped — the one
    # semantic difference, documented here). Only table-producing kinds
    # may use it: persistent functions and views cannot reference temp
    # objects (probed on 4.1.2: INVALID_TEMP_OBJ_REFERENCE), exactly
    # why the reference built persistent UDFs instead.
    sql_header: tuple[str, ...] = ()

    @property
    def relation_name(self) -> str:
        if self.alias:
            return self.alias
        if self.version is not None:
            # dbt's default alias for a versioned model: <name>_v<N>
            # (every version carries the suffix unless aliased — the
            # documented way to give the latest version the bare name).
            return f"{self.name}_v{self.version}"
        return self.name

    @property
    def registry_key(self) -> str:
        """The engine-registry key: ``<name>.v<N>`` for versioned specs
        (so every version of a model entry coexists), the bare name
        otherwise."""
        if self.version is not None:
            return f"{self.name}.v{self.version}"
        return self.name

    def __post_init__(self) -> None:
        if self.kind not in (
            "function",
            "table_function",
            "table",
            "view",
            "seed",
            "incremental",
            "snapshot",
            "ephemeral",
            "python",
            "copy",
        ):
            raise EngineError(f"model {self.name}: unknown kind {self.kind!r}")
        if self.kind == "copy" and not _REF_RE.fullmatch(
            self.sql.strip()
        ) and not _SOURCE_RE.fullmatch(self.sql.strip()):
            raise EngineError(
                f"model {self.name}: copy models take exactly one "
                "{{ ref(...) }} or {{ source(...) }} as their body"
            )
        if self.kind == "python" and not callable(self.python_body):
            raise EngineError(f"model {self.name}: python models require python_body")
        if self.kind == "incremental":
            if self.incremental_strategy not in (
                "append",
                "insert_overwrite",
                "merge",
                "microbatch",
            ):
                raise EngineError(
                    f"model {self.name}: unknown incremental_strategy "
                    f"{self.incremental_strategy!r}"
                )
            if self.incremental_strategy == "insert_overwrite" and not self.partition_by:
                raise EngineError(
                    f"model {self.name}: insert_overwrite requires partition_by"
                )
            if self.incremental_strategy == "merge" and not self.unique_key:
                raise EngineError(
                    f"model {self.name}: merge requires unique_key"
                )
            if self.incremental_strategy == "microbatch" and not self.event_time:
                raise EngineError(
                    f"model {self.name}: microbatch requires event_time"
                )
            if self.partitions and self.incremental_strategy != "insert_overwrite":
                raise EngineError(
                    f"model {self.name}: the static `partitions` config is "
                    "only valid with insert_overwrite"
                )
        if (
            self.partition_expiration_days is not None
            or self.require_partition_filter
        ) and not (self.partition_by or self.incremental_strategy == "microbatch"):
            raise EngineError(
                f"model {self.name}: partition_expiration_days / "
                "require_partition_filter need a partitioned table"
            )
        if self.kind == "snapshot" and not self.unique_key:
            raise EngineError(f"model {self.name}: snapshots require unique_key")
        if self.version is not None:
            if not isinstance(self.version, int) or self.version < 1:
                raise EngineError(
                    f"model {self.name}: version must be a positive integer "
                    f"(got {self.version!r})"
                )
            if "." in self.name:
                raise EngineError(
                    f"model {self.name}: versioned model names must not "
                    "contain '.' (reserved for the <name>.v<N> registry key)"
                )
            if self.kind in ("function", "table_function"):
                raise EngineError(
                    f"model {self.name}: versions apply to relation-producing "
                    "kinds (dbt models), not functions"
                )
        if self.latest_version is not None and self.version is None:
            raise EngineError(
                f"model {self.name}: latest_version is only meaningful on "
                "versioned specs (set version as well)"
            )
        if self.deprecation_date is not None:
            _parse_deprecation_date(self.name, self.deprecation_date)
        if self.kind == "function" and not self.return_type:
            # Mirrors config.require('return_type')
            # (reference: macros/udf/get_create_function_as_sql.sql:3-5).
            raise EngineError(f"model {self.name}: scalar functions require return_type")
        if self.contract_columns and self.kind in ("function", "table_function"):
            raise EngineError(
                f"model {self.name}: contracts apply to relation-producing kinds "
                "(function signatures are already declared via params/return_type)"
            )
        if self.sql_header and self.kind in ("function", "table_function", "view"):
            raise EngineError(
                f"model {self.name}: sql_header is only valid on table-producing "
                "kinds — persistent functions/views cannot reference the temp "
                "objects a header creates (INVALID_TEMP_OBJ_REFERENCE)"
            )

    @property
    def refs(self) -> tuple[str, ...]:
        # Standalone {{ ref('x') }} spans PLUS ref('x') tokens nested
        # inside any other Jinja span — dbt records an edge for every
        # ref() call, including arguments to introspective macros
        # ({{ dbt_utils.union_relations(relations=[ref('a'), ref('b')])
        # }} must build a/b first or the build-time column introspection
        # finds nothing). Scoped to {{ }} spans so a ref(...) mention in
        # SQL comments or string literals cannot invent an edge.
        def _token(name: str, ver: str) -> str:
            # A versioned ref edges to that exact version's registry key
            # (`name.vN` — see Engine.register); an unversioned ref
            # edges to the bare name, resolved to the latest version at
            # graph time (Engine._ref_key).
            return f"{name}.v{int(ver)}" if ver else name

        nested = (
            _token(*m)
            for span in _JINJA_SPAN_RE.findall(self.sql)
            for m in _REF_TOKEN_RE.findall(span)
        )
        return tuple(
            dict.fromkeys(
                (
                    *(_token(*m) for m in _REF_RE.findall(self.sql)),
                    *nested,
                    *self.python_refs,
                )
            )
        )

    @property
    def sources(self) -> tuple[tuple[str, str], ...]:
        return tuple(dict.fromkeys(_SOURCE_RE.findall(self.sql)))


@dataclass(frozen=True)
class Exposure:
    """dbt exposure: a declared downstream consumer of the DAG — a
    dashboard, ML pipeline, or application fed by built models. Pure
    metadata (nothing materializes), but it participates in lineage:
    the docs manifest lists it, and ``Engine.exposures_affected_by``
    answers the operational question exposures exist for — "which
    dashboards break if this model changes?".
    """

    name: str
    exposure_type: str  # 'dashboard' | 'ml' | 'application' | 'analysis' | 'notebook'
    depends_on: tuple[str, ...]  # model names (ref()s)
    # source()-fed inputs ('dataset.table') — lineage-only; sources are
    # externally managed so they never gate registration like model deps
    depends_on_sources: tuple[str, ...] = ()
    owner: str = ""
    url: str = ""
    description: str = ""
    maturity: str = ""  # 'low' | 'medium' | 'high'

    def __post_init__(self) -> None:
        if self.exposure_type not in (
            "dashboard",
            "ml",
            "application",
            "analysis",
            "notebook",
        ):
            raise EngineError(
                f"exposure {self.name}: unknown type {self.exposure_type!r}"
            )
        if not self.depends_on and not self.depends_on_sources:
            raise EngineError(f"exposure {self.name}: depends_on is required")


@dataclass
class BuiltRelation:
    """Relation-cache entry (reference: macros/udf/function.sql:29-30)."""

    model: str
    database: str
    identifier: str
    kind: str

    @property
    def qualified(self) -> str:
        return f"{self.database}.{self.identifier}"


class _PythonModelContext:
    """The ``dbt`` object a python model's body receives: ``ref()`` and
    ``source()`` resolve upstream relations to DataFrames (dbt python
    models: ``def model(dbt, session)``; here ``body(session, dbt)``).
    """

    def __init__(self, engine: "Engine") -> None:
        self._engine = engine

    def ref(self, name: str) -> DataFrame:
        target = self._engine.models.get(name)
        if target is None:
            raise EngineError(f"ref('{name}') does not match any registered model")
        if target.kind == "table_function":
            raise EngineError(
                f"python model ref('{name}'): table functions cannot be read as "
                "DataFrames — call them from a SQL model instead"
            )
        if target.kind == "ephemeral":
            return self._engine.spark.sql(self._engine.render(target))
        return self._engine.spark.table(
            f"{self._engine.database_for(target)}.{target.relation_name}"
        )

    def source(self, dataset: str, table: str) -> DataFrame:
        return self._engine.spark.table(
            self._engine._resolve_source(dataset, table)
        )


class Engine:
    """Loads model specs, resolves the DAG, and materializes into Spark.

    One engine instance per (SparkSession, environment). Sources are
    expected to be registered as tables/views in the ``src`` database
    (see sources/registry.py) because persistent SQL functions may not
    reference temp objects (probed on 4.1.2).
    """

    def __init__(
        self,
        spark: SparkSession,
        env: str | None = None,
        source_database: str = "src",
        on_run_start: tuple[str, ...] = (),
        on_run_end: tuple[str, ...] = (),
        vars: dict[str, object] | None = None,
    ) -> None:
        self.spark = spark
        env_database("udf", env)  # validate env eagerly, not at build time
        self.env = env
        self.source_database = source_database
        # dbt's --vars: {{ var('name'[, default]) }} in model bodies
        # resolves from here (reference invocation: `dbt run --vars
        # '{env: staging}'`, README.md:325-327). Values render as SQL
        # literals: strings quoted, numbers/bools bare.
        self.vars: dict[str, object] = dict(vars or {})
        self.models: dict[str, ModelSpec] = {}
        self.exposures: dict[str, Exposure] = {}
        self.relations: dict[str, BuiltRelation] = {}  # F9 relation cache
        self._fingerprints: dict[str, str] = {}  # incremental-build state (§4)
        self.timings: dict[str, float] = {}  # last build's per-model wall (s)
        self.elapsed: float = 0.0  # last build's total wall (s)
        self.skipped: set[str] = set()  # models skipped by the last build
        # Keep-going run state (reset per build; initialized here so a
        # build that fails before the loop leaves them inspectable, not
        # AttributeError/stale).
        self.errors: dict[str, Exception] = {}
        self.skipped_errors: set[str] = set()
        # dbt's deprecation warnings (model deprecation_date passed):
        # accumulated across renders/builds, never raised.
        self.deprecation_warnings: list[str] = []
        # dbt's project-level hooks (dbt_project.yml on-run-start /
        # on-run-end): run once per build() invocation, bracketing the
        # whole DAG — unlike per-model pre/post hooks (F6).
        self.on_run_start = tuple(on_run_start)
        self.on_run_end = tuple(on_run_end)
        # dbt invocation context ({{ invocation_id }} / {{ run_started_at }}
        # — the standard audit-column idiom): stamped at engine creation so
        # compile-outside-build renders, refreshed per build().
        self._stamp_invocation()

    def _stamp_invocation(self) -> None:
        import uuid
        from datetime import datetime, timezone

        self.invocation_id = uuid.uuid4().hex
        self.run_started_at = (
            datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S+00:00")
        )

    # -- registration -----------------------------------------------------

    def register(self, *specs: ModelSpec, replace: bool = False) -> "Engine":
        """Add model specs. Re-registering a name is an error unless
        ``replace=True`` (the dbt analogue: each run re-parses the
        project, so an updated model file replaces the old definition —
        used by incremental models whose body evolves between runs)."""
        for spec in specs:
            key = spec.registry_key
            if key in self.models and not replace:
                raise EngineError(f"duplicate model name {key!r}")
            if spec.version is None and any(
                s.version is not None and s.name == spec.name
                for s in self.models.values()
            ):
                raise EngineError(
                    f"model {spec.name!r}: an unversioned spec cannot share "
                    "a name with a versioned model entry"
                )
            if spec.version is not None and spec.name in self.models:
                raise EngineError(
                    f"model {spec.name!r}: a versioned spec cannot share a "
                    "name with an unversioned model"
                )
            self.models[key] = spec
        return self

    def register_exposures(self, *exposures: Exposure) -> "Engine":
        """Declare downstream consumers. depends_on is validated lazily
        at registration against already-registered models (register
        exposures after their models, as dbt parses models first)."""
        def _known(m: str) -> bool:
            try:
                self._ref_key(m)
                return True
            except EngineError:
                return False

        for e in exposures:
            missing = [m for m in e.depends_on if not _known(m)]
            if missing:
                raise EngineError(
                    f"exposure {e.name}: depends_on unknown models {missing}"
                )
            self.exposures[e.name] = e
        return self

    def exposures_affected_by(self, model_names: list[str]) -> list[str]:
        """Which exposures sit downstream of these models (directly or
        transitively) — the blast-radius answer for a proposed change,
        and the lineage edge dbt draws in its docs site."""
        closure = self._downstream_closure(set(model_names))
        return sorted(
            e.name
            for e in self.exposures.values()
            if closure & set(e.depends_on)
        )

    # -- name resolution (F12/F13/F14) ------------------------------------

    def database_for(self, spec: ModelSpec) -> str:
        return env_database(spec.database, self.env)

    # -- model versions (dbt 1.5) ------------------------------------------

    def versions_of(self, base: str) -> dict[int, ModelSpec]:
        """Every registered version of model entry ``base`` (empty for
        unversioned names)."""
        return {
            s.version: s
            for s in self.models.values()
            if s.version is not None and s.name == base
        }

    def latest_version_of(self, base: str) -> int:
        """The entry's pinned ``latest_version``, defaulting to the
        highest registered version (dbt's rule)."""
        vs = self.versions_of(base)
        if not vs:
            raise EngineError(f"model {base!r} has no registered versions")
        declared = {
            s.latest_version
            for s in vs.values()
            if s.latest_version is not None
        }
        if len(declared) > 1:
            raise EngineError(
                f"model {base!r}: conflicting latest_version declarations "
                f"{sorted(declared)}"
            )
        latest = next(iter(declared)) if declared else max(vs)
        if latest not in vs:
            raise EngineError(
                f"model {base!r}: latest_version={latest} is not a "
                f"registered version (have {sorted(vs)})"
            )
        return latest

    def _ref_key(self, name: str, version: int | None = None) -> str:
        """Resolve a ref token to its registry key. ``name`` may be a
        bare model name (unversioned model, or a versioned entry —
        resolved to its latest version), an explicit ``name.vN`` token
        (as emitted by :attr:`ModelSpec.refs`), or a bare name plus the
        ``version`` kwarg (``ref('m', v=N)``)."""
        if version is None:
            if name in self.models:
                return name
            m = re.fullmatch(r"(.+)\.v(\d+)", name)
            if m:
                name, version = m.group(1), int(m.group(2))
        vs = self.versions_of(name)
        if not vs:
            raise EngineError(
                f"ref('{name}') does not match any registered model"
            )
        if version is None:
            version = self.latest_version_of(name)
        if version not in vs:
            raise EngineError(
                f"ref('{name}', v={version}) does not match a registered "
                f"version (have {sorted(vs)})"
            )
        return vs[version].registry_key

    def _edge_keys(self, spec: ModelSpec) -> set[str]:
        """DAG edges for ``spec``: its ref tokens resolved to registry
        keys (unversioned refs to versioned entries edge to the LATEST
        version). Unresolvable tokens pass through — they surface as
        the proper EngineError at render time."""
        keys: set[str] = set()
        for t in spec.refs:
            try:
                keys.add(self._ref_key(t))
            except EngineError:
                keys.add(t)
        return keys

    def _note_deprecation(self, spec: ModelSpec) -> None:
        if not spec.deprecation_date:
            return
        from datetime import datetime, timezone

        dep = _parse_deprecation_date(spec.name, spec.deprecation_date)
        if datetime.now(timezone.utc) >= dep:
            msg = (
                f"model {spec.registry_key} passed its deprecation_date "
                f"{spec.deprecation_date}"
            )
            if msg not in self.deprecation_warnings:
                self.deprecation_warnings.append(msg)

    def _resolve_ref(
        self, name: str, *, version: int | None = None, for_call: bool
    ) -> str:
        key = self._ref_key(name, version)
        target = self.models[key]
        # dbt warns (never errors) on refs to deprecated models.
        self._note_deprecation(target)
        db = self.database_for(target)
        if target.kind == "table_function":
            # TVF invocation must be unqualified (probed); the caller is
            # responsible for USE <db> — the engine does it during builds.
            return target.relation_name
        if target.kind == "ephemeral":
            # dbt ephemeral: never materialized — the rendered body
            # inlines into the caller as a subquery (recursively, so
            # ephemerals may ref ephemerals). Catalyst then optimizes
            # across the inlined boundary exactly as with a CTE.
            return f"({self.render(target)})"
        qualified = f"{db}.{target.relation_name}"
        # dbt --defer --state (set up by build(defer=True)): a ref to a
        # model OUTSIDE the current selection resolves to the STATE
        # manifest's relation instead of the target env's — unless the
        # relation already exists in the target (dbt's default; pass
        # favor_state=True to always prefer the state relation, dbt's
        # --favor-state).
        d = getattr(self, "_defer", None)
        if d is not None and key not in d["selected"]:
            deferred = d["relations"].get(key)
            if deferred and deferred != qualified:
                try:
                    exists = (
                        self.spark.catalog.functionExists(qualified)
                        if target.kind == "function"
                        else self.spark.catalog.tableExists(qualified)
                    )
                except Exception:
                    # the env database itself may not exist yet (nothing
                    # built there) — Spark raises SCHEMA_NOT_FOUND where
                    # a missing table would just return False
                    exists = False
                if d["favor_state"] or not exists:
                    return deferred
        return qualified

    def _resolve_source(self, dataset: str, table: str) -> str:
        # All external sources live in the source database regardless of
        # the reference's BQ dataset name (recorded for traceability).
        return f"{self.source_database}.{table}"

    def _resolve_var(self, spec: ModelSpec, m: re.Match) -> str:
        name, default = m.group(1), m.group(2)
        if name in self.vars:
            v = self.vars[name]
            if isinstance(v, bool):
                return "true" if v else "false"
            if isinstance(v, (int, float)):
                return repr(v)
            return "'" + str(v).replace("'", "''") + "'"
        if default is not None:
            return default  # already SQL-literal-shaped (quoted or bare)
        raise EngineError(
            f"model {spec.name}: var('{name}') has no value and no default "
            "(dbt: Required var not found)"
        )

    def render(self, spec: ModelSpec) -> str:
        """Compile the model body: dialect transpile + ref/source resolution.

        The dbt analogue is Jinja compile (SURVEY.md §3 step 3); here it is
        two regex passes over a plain SQL string.
        """
        sql = spec.sql
        if spec.kind == "seed":
            return sql.strip()  # a CSV path, not SQL — no transpile/resolve
        if spec.kind == "python":
            return ""  # body is a callable, not SQL
        if "{#" in sql:
            from ..macros import strip_jinja_comments

            sql = strip_jinja_comments(sql)
        if spec.dialect == "bigquery":
            sql = transpile_bq_expr(sql)
        # dbt incremental surface: `{% if is_incremental() %}` blocks are
        # kept on incremental runs (target exists) and stripped on full
        # builds; `{{ this }}` resolves to the target relation.
        is_incremental = spec.kind == "incremental" and self.spark.catalog.tableExists(
            f"{self.database_for(spec)}.{spec.relation_name}"
        )
        from ..macros import render_control_flow, var_lookup

        cf_extra: dict = {"target": target_context(self.env)}
        if _UTILS_JINJA_RE.search(sql):
            # dbt_utils' INTROSPECTIVE macros (star / union_relations /
            # get_column_values / pivot, plus adapter.* and run_query)
            # need the live catalog, so they bind here — at BUILD time,
            # exactly when dbt resolves them. ref()/source() become
            # callables resolving through the SAME resolvers as the
            # post-render regex passes, so early resolution inside these
            # models is output-equivalent.
            from ..utils_compat import build_utils_env

            cf_extra.update(
                build_utils_env(
                    self.spark,
                    lambda n: self._resolve_ref(n, for_call=True),
                    self._resolve_source,
                )
            )
        # Jinja control flow ({% if %}/{% for %}/{% set %}, macros.py
        # subset) and the {{ }} spans led by a bound name ({{ target.name
        # }}, the build-time helpers): is_incremental() is just a boolean
        # in the same evaluator — which, unlike the round-1 regex strip,
        # makes `{% if is_incremental() %}...{% else %}...{% endif %}`
        # pick the right branch. Runs before var()/ref() substitution so
        # emitted text keeps its placeholders for the passes below.
        sql = render_control_flow(
            sql,
            var_lookup(self.vars, f"model {spec.name}"),
            origin=f"model {spec.name}",
            is_incremental=is_incremental,
            extra_env=cf_extra,
        )
        sql = _INVOCATION_RE.sub(
            lambda m: (
                self.invocation_id
                if m.group(1) == "invocation_id"
                else self.run_started_at
            ),
            sql,
        )
        sql = _VAR_RE.sub(lambda m: self._resolve_var(spec, m), sql)
        sql = _THIS_RE.sub(f"{self.database_for(spec)}.{spec.relation_name}", sql)
        sql = _REF_RE.sub(
            lambda m: self._resolve_ref(
                m.group(1),
                version=int(m.group(2)) if m.group(2) else None,
                for_call=True,
            ),
            sql,
        )
        sql = _SOURCE_RE.sub(lambda m: self._resolve_source(*m.groups()), sql)
        sql = sql.strip().rstrip(";")
        if spec.cluster_by and spec.kind in ("table", "incremental"):
            # ORDER BY on write = repartitionByRange + in-partition sort:
            # disjoint key ranges per output file, the layout min/max
            # pruning needs. (SORT BY alone would leave hash-scattered
            # ranges; CLUSTER BY hash-distributes — neither prunes.)
            sql = f"SELECT * FROM ({sql}) ORDER BY {', '.join(spec.cluster_by)}"
        return sql

    # -- materializations (F1/F2/F15) --------------------------------------

    def _spark_params(self, spec: ModelSpec) -> str:
        return ", ".join(f"{n} {t}" for n, t in translate_param_list(list(spec.params)))

    def _comment_clause(self, spec: ModelSpec) -> str:
        if not spec.description:
            return ""
        escaped = spec.description.strip().replace("'", "''")
        return f" COMMENT '{escaped}'"

    def _enforce_contract(self, spec: ModelSpec, schema) -> None:
        """dbt model contract: declared (column, type) set must equal
        the produced schema exactly (order-insensitive). Runs BEFORE
        the write — contract violations fail the build, never the
        downstream reader."""
        if not spec.contract_columns:
            return
        declared = {
            c: t
            for c, t in translate_param_list(
                [f"{c} {t}" for c, t in spec.contract_columns]
            )
        }
        actual = {f.name: f.dataType.simpleString() for f in schema.fields}
        missing = sorted(set(declared) - set(actual))
        extra = sorted(set(actual) - set(declared))
        if missing or extra:
            raise EngineError(
                f"model {spec.name}: contract violated — missing columns "
                f"{missing}, undeclared columns {extra}"
            )
        bad = [
            (c, declared[c], actual[c])
            for c in declared
            if declared[c].lower() != actual[c].lower()
        ]
        if bad:
            raise EngineError(
                f"model {spec.name}: contract violated — type mismatches "
                + ", ".join(f"{c}: declared {d}, got {a}" for c, d, a in bad)
            )

    def _check_contract_sql(self, spec: ModelSpec, body: str) -> None:
        if spec.contract_columns:
            self._enforce_contract(
                spec, self.spark.sql(f"SELECT * FROM ({body}) LIMIT 0").schema
            )

    def _materialize(self, spec: ModelSpec, replace: bool) -> BuiltRelation:
        db = self.database_for(spec)
        if spec.kind == "ephemeral":
            # Never materialized: downstream refs inline the body
            # (_resolve_ref). Registered in the relation cache so DAG
            # bookkeeping and selection still see the node.
            rel = BuiltRelation(spec.name, db, spec.relation_name, "ephemeral")
            self.relations[spec.registry_key] = rel
            return rel
        body = self.render(spec)
        with catalog_lock:
            ensure_database(self.spark, db)
            if not replace:
                check_name_conflict(self.spark, db, spec.relation_name)  # F5
            for hook in spec.pre_hooks:  # F6
                self.spark.sql(hook)
            for stmt in spec.sql_header:
                # dbt sql_header: runs immediately before the main
                # statement (BQ prefixes it to the same script; Spark
                # temp functions are session-scoped — see ModelSpec).
                self.spark.sql(transpile_bq_expr(stmt) if spec.dialect == "bigquery" else stmt)

            if spec.kind == "function":
                params = self._spark_params(spec)
                rtype = translate_param_list([f"x {spec.return_type}"])[0][1]
                ddl = (
                    f"CREATE OR REPLACE FUNCTION {db}.{spec.relation_name}({params}) "
                    f"RETURNS {rtype}{self._comment_clause(spec)} RETURN {body}"
                )
                self.spark.sql(ddl)
            elif spec.kind == "table_function":
                # BigQuery infers a TVF's output schema from its body
                # (reference: get_create_table_function_as_sql.sql:11
                # emits no RETURNS); so does Spark for a bare ``RETURNS
                # TABLE``, and it stores the inferred return type.
                prev_db = self.spark.catalog.currentDatabase()
                self.spark.catalog.setCurrentDatabase(db)
                try:
                    params = self._spark_params(spec)
                    ddl = (
                        f"CREATE OR REPLACE FUNCTION {db}.{spec.relation_name}({params}) "
                        f"RETURNS TABLE{self._comment_clause(spec)} RETURN {body}"
                    )
                    self.spark.sql(ddl)
                finally:
                    self.spark.catalog.setCurrentDatabase(prev_db)
            elif spec.kind == "incremental":
                # dbt incremental materialization. First run = CTAS (the
                # is_incremental() blocks were stripped by render);
                # subsequent runs insert only the body's delta:
                #   append          — INSERT INTO, with unique_key
                #                     dedupe via anti join (the
                #                     MERGE-less upsert-new-keys form);
                #   insert_overwrite— INSERT OVERWRITE in dynamic mode:
                #                     replaces exactly the partitions
                #                     present in the delta (idempotent
                #                     backfills at 100 TB: re-running a
                #                     day rewrites that day only);
                #   merge           — upsert on unique_key (dbt-bigquery's
                #                     default; models/incremental.py).
                # Incremental runs route through reconcile_schema first
                # (dbt's on_schema_change).
                from ..operators import index_store

                target = f"{db}.{spec.relation_name}"
                self._check_contract_sql(spec, body)
                # a merge rewrite cut short is finished, not taken for a
                # missing table (which would rebuild it from the body)
                index_store.recover_staged(self.spark, db, (spec.relation_name,))
                if spec.incremental_strategy == "microbatch":
                    # Owns its own first-run path (batch-by-batch from
                    # `begin`), so it never takes the CTAS below.
                    from .incremental import run_microbatch

                    run_microbatch(
                        self.spark,
                        target,
                        body,
                        event_time=spec.event_time,
                        batch_size=spec.batch_size,
                        lookback=spec.lookback,
                        begin=spec.begin,
                    )
                elif not self.spark.catalog.tableExists(target):
                    self._replace_table(spec, db, body)
                else:
                    from .incremental import merge_upsert, reconcile_schema

                    batch = reconcile_schema(
                        self.spark,
                        target,
                        self.spark.sql(body),
                        spec.on_schema_change,
                        spec.incremental_strategy,
                        partitioned=bool(spec.partition_by),
                    )
                    if spec.incremental_strategy == "merge":
                        merge_upsert(
                            self.spark,
                            target,
                            batch,
                            spec.unique_key,
                            partition_by=spec.partition_by,
                            update_columns=spec.merge_update_columns,
                            predicates=spec.incremental_predicates,
                        )
                    elif spec.incremental_strategy == "append":
                        if spec.unique_key:
                            # New-keys-only insert: the MERGE-less upsert
                            # form (existing keys are never touched).
                            keys = [k.strip() for k in spec.unique_key.split(",")]
                            existing = (
                                self.spark.table(target).select(*keys).distinct()
                            )
                            batch = batch.join(existing, keys, "left_anti")
                        batch.write.insertInto(target)
                    elif spec.partitions:
                        # insert_overwrite with STATIC partitions
                        # (dbt-bigquery `partitions` config): clear the
                        # listed partitions unconditionally, then append
                        # the batch — a listed day with no batch rows
                        # still empties (dynamic mode would keep it).
                        pcol = spec.partition_by[0]
                        for val in spec.partitions:
                            quoted = str(val).replace("'", "''")
                            self.spark.sql(
                                f"ALTER TABLE {target} DROP IF EXISTS "
                                f"PARTITION ({pcol}='{quoted}')"
                            )
                        # Rows outside the declared list never write —
                        # they would duplicate partitions this run did
                        # not clear (dbt expects the model body to
                        # produce only the listed partitions; enforce
                        # instead of trusting). Values compare after an
                        # ENGINE-side cast to the partition column's
                        # type — the same coercion DROP PARTITION's
                        # literal got, so '2025-1-3' means the same
                        # day in both places.
                        from functools import reduce

                        from pyspark.sql import functions as _F

                        ptype = dict(batch.dtypes)[pcol]
                        match = reduce(
                            lambda a, b: a | b,
                            [
                                _F.col(pcol).eqNullSafe(
                                    _F.lit(str(v)).cast(ptype)
                                )
                                for v in spec.partitions
                            ],
                        )
                        batch.filter(match).write.insertInto(target)
                    else:  # insert_overwrite, dynamic partition mode
                        from .incremental import overwrite_partitions

                        overwrite_partitions(self.spark, target, batch)
                self._persist_docs(spec, db)
            elif spec.kind == "snapshot":
                from ..operators import index_store
                from .snapshots import build_snapshot

                # finish a rewrite cut short first: taken for a missing
                # table, the snapshot would restart and lose its history
                index_store.recover_staged(self.spark, db, (spec.relation_name,))
                build_snapshot(
                    self.spark,
                    f"{db}.{spec.relation_name}",
                    body,
                    unique_key=spec.unique_key,
                    strategy=spec.snapshot_strategy,
                    updated_at=spec.updated_at,
                    check_cols=spec.check_cols,
                    invalidate_hard_deletes=spec.invalidate_hard_deletes,
                )
                self._persist_docs(spec, db)
            elif spec.kind == "seed":
                # dbt seed: a version-controlled CSV loaded as a table
                # (the reference ships an empty seeds/ dir — dbt built-in
                # surface, reference: dbt_project.yml seed-paths). Seeds
                # are small by contract, so the load is a single-task
                # CSV scan; schema comes from declared column_types when
                # given (inference is acceptable only here, where dbt
                # itself infers).
                reader = self.spark.read.option("header", "true")
                if spec.seed_column_types:
                    cols = translate_param_list(
                        [f"{c} {t}" for c, t in spec.seed_column_types]
                    )
                    reader = reader.schema(
                        ", ".join(f"{c} {t}" for c, t in cols)
                    )
                else:
                    reader = reader.option("inferSchema", "true")
                self._replace_table(spec, db, reader.csv(body))
                self._persist_docs(spec, db)
            elif spec.kind == "python":
                df = spec.python_body(self.spark, _PythonModelContext(self))
                if not isinstance(df, DataFrame):
                    raise EngineError(
                        f"model {spec.name}: python_body must return a DataFrame, "
                        f"got {type(df).__name__}"
                    )
                self._enforce_contract(spec, df.schema)
                self._replace_table(spec, db, df)
                self._persist_docs(spec, db)
            elif spec.kind == "copy":
                # dbt-bigquery's `copy` materialization (BQ table copy
                # jobs). Spark has no server-side copy for managed
                # parquet; a SELECT * CTAS is the honest equivalent —
                # still zero transform logic, and partitioning carries
                # via partition_by. body is the resolved relation name.
                self._replace_table(spec, db, f"SELECT * FROM {body}")
                self._persist_docs(spec, db)
            elif spec.kind in ("table", "view"):
                # The body may invoke TVFs, which resolve against the
                # *referenced model's* database — switch there for the build.
                call_db = self._tvf_call_database(spec)
                prev_db = self.spark.catalog.currentDatabase()
                if call_db:
                    self.spark.catalog.setCurrentDatabase(call_db)
                try:
                    self._check_contract_sql(spec, body)
                    if spec.kind == "table":
                        self._replace_table(spec, db, body)
                    else:
                        self.spark.sql(
                            f"CREATE OR REPLACE VIEW {db}.{spec.relation_name} AS {body}"
                        )
                finally:
                    if call_db:
                        self.spark.catalog.setCurrentDatabase(prev_db)
                self._persist_docs(spec, db)  # F15 persist_docs
            for hook in spec.post_hooks:  # F6
                self.spark.sql(hook)

        rel = BuiltRelation(spec.name, db, spec.relation_name, spec.kind)
        self.relations[spec.registry_key] = rel  # F9
        return rel

    def _replace_table(self, spec: ModelSpec, db: str, rows: str | DataFrame) -> None:
        """Drop and replace: clear the old table and its directory with
        ``index_store.clear_tables`` (a directory a previous process left
        behind would fail the create with LOCATION_ALREADY_EXISTS), then
        create it from ``rows``: a SELECT (one CTAS, partitioned by
        ``partition_by``) or a DataFrame (seeds and python models)."""
        from ..operators import index_store

        target = f"{db}.{spec.relation_name}"
        index_store.clear_tables(self.spark, db, (spec.relation_name,))
        if isinstance(rows, DataFrame):
            rows.write.format("parquet").saveAsTable(target)
            return
        part = (
            f" PARTITIONED BY ({', '.join(spec.partition_by)})" if spec.partition_by else ""
        )
        self.spark.sql(f"CREATE TABLE {target} USING parquet{part} AS {rows}")

    def _tvf_call_database(self, spec: ModelSpec) -> str | None:
        for ref in spec.refs:
            target = self.models.get(ref)
            if target and target.kind == "table_function":
                db = self.database_for(target)
                # --defer: an unselected TVF resolves to the state
                # manifest's database (its name is unqualified in the
                # body; USE <db> is how the call routes) when the target
                # env doesn't have it.
                d = getattr(self, "_defer", None)
                if d is not None and ref not in d["selected"]:
                    deferred = d["relations"].get(ref)
                    if deferred and "." in deferred:
                        try:
                            exists = self.spark.catalog.functionExists(
                                f"{db}.{target.relation_name}"
                            )
                        except Exception:
                            exists = False
                        if d["favor_state"] or not exists:
                            return deferred.rsplit(".", 1)[0]
                return db
        return None

    def _persist_docs(self, spec: ModelSpec, db: str) -> None:
        """Relation + column descriptions pushed to the catalog
        (reference: dbt_project.yml:41-43 persist_docs;
        models/datamart/schema.yml:4-10). Function descriptions are
        embedded in the CREATE (F10) because, as in BigQuery, they cannot
        be altered after the fact."""
        if spec.kind not in ("table", "view", "seed", "incremental", "snapshot", "python", "copy"):
            return
        props: list[str] = []
        if spec.kind != "view":
            props += [
                "'label.{}' = '{}'".format(k, str(v).replace("'", "''"))
                for k, v in spec.labels
            ]
            # dbt-bigquery lifecycle options. The absolute expiry stamp
            # is resolved at build time (BQ stores expirationTime the
            # same way); sweep_expired() is the reaper.
            if spec.hours_to_expiration is not None:
                expires = time.time() + spec.hours_to_expiration * 3600.0
                props.append(f"'bigquery.expiration_epoch' = '{expires:.0f}'")
            if spec.partition_expiration_days is not None:
                props.append(
                    "'bigquery.partition_expiration_days' = "
                    f"'{int(spec.partition_expiration_days)}'"
                )
            if spec.require_partition_filter:
                props.append("'bigquery.require_partition_filter' = 'true'")
            props += [
                "'grant.{}' = '{}'".format(priv, str(who).replace("'", "''"))
                for priv, who in spec.grants
            ]
        if props:
            self.spark.sql(
                f"ALTER TABLE {db}.{spec.relation_name} SET TBLPROPERTIES ({', '.join(props)})"
            )
        if spec.description:
            escaped = spec.description.strip().replace("'", "''")
            self.spark.sql(f"COMMENT ON TABLE {db}.{spec.relation_name} IS '{escaped}'")
        if spec.kind in ("table", "seed", "incremental", "snapshot", "python", "copy"):
            for col, doc in spec.columns.items():
                escaped = doc.strip().replace("'", "''")
                self.spark.sql(
                    f"ALTER TABLE {db}.{spec.relation_name} ALTER COLUMN {col} COMMENT '{escaped}'"
                )

    def catalog_info(self) -> dict[str, dict]:
        """dbt `docs generate` catalog analogue: per built relation, the
        warehouse-observed columns (name, type, comment) and, for
        physical tables, size/row statistics via ANALYZE TABLE — the
        half of dbt docs that comes from the warehouse rather than the
        project files (the manifest half is the CLI `docs` payload).

        Cost model matches BigQuery's metadata endpoints: ANALYZE on a
        parquet table is a file-metadata pass (row counts come from
        parquet footers, not a scan)."""
        out: dict[str, dict] = {}
        for name, rel in self.relations.items():
            if rel.kind == "ephemeral":
                continue
            if rel.kind in ("function", "table_function"):
                rows = self.spark.sql(
                    f"DESCRIBE FUNCTION EXTENDED {rel.qualified}"
                ).collect()
                out[name] = {
                    "kind": rel.kind,
                    "function_info": [r[0] for r in rows],
                }
                continue
            entry: dict = {"kind": rel.kind, "columns": {}}
            if rel.kind != "view":
                self.spark.sql(
                    f"ANALYZE TABLE {rel.qualified} COMPUTE STATISTICS"
                )
            # DESCRIBE EXTENDED prints the column rows first, then a
            # '#'-headed detail section (Catalog/Provider/Statistics/…).
            in_columns = True
            for r in self.spark.sql(
                f"DESCRIBE TABLE EXTENDED {rel.qualified}"
            ).collect():
                cname = (r.col_name or "").strip()
                if not cname or cname.startswith("#"):
                    in_columns = False
                    continue
                if in_columns:
                    entry["columns"][cname] = {
                        "type": r.data_type,
                        "comment": r.comment,
                    }
                elif cname == "Statistics":
                    m = re.search(r"(\d+) bytes(?:, (\d+) rows)?", r.data_type or "")
                    if m:
                        entry["num_bytes"] = int(m.group(1))
                        if m.group(2):
                            entry["num_rows"] = int(m.group(2))
            out[name] = entry
        return out

    # -- lifecycle (dbt-bigquery table options) -----------------------------

    def sweep_expired(self, now: float | None = None) -> dict[str, list[str]]:
        """Reap expired objects, the engine-side analogue of BigQuery's
        automatic TTL enforcement (dbt-bigquery's hours_to_expiration /
        partition_expiration_days configs).

        Reads TBLPROPERTIES from the catalog — not in-process specs — so
        a scheduled sweep in a fresh session still honors stamps written
        by earlier runs. Partition expiry parses the FIRST partition
        value as a civil date/hour/month (the microbatch batch_key
        formats) and drops partitions older than the TTL; unparseable
        values are left alone. Each drop is a metadata operation plus
        one directory delete — O(expired objects), never a scan. Tables
        rewritten in place (snapshots, merges) are EXTERNAL after their
        first rewrite, so every table is swept; only views are skipped.
        """
        from ..operators import index_store

        now = time.time() if now is None else now
        out: dict[str, list[str]] = {"tables": [], "partitions": []}
        dbs = sorted({self.database_for(s) for s in self.models.values()})
        for db in dbs:
            if not self.spark.catalog.databaseExists(db):
                continue
            for t in self.spark.catalog.listTables(db):
                if t.tableType in ("VIEW", "TEMPORARY"):
                    continue
                full = f"{db}.{t.name}"
                props = {
                    r[0]: r[1]
                    for r in self.spark.sql(f"SHOW TBLPROPERTIES {full}").collect()
                }
                exp = props.get("bigquery.expiration_epoch")
                if exp and float(exp) <= now:
                    index_store.clear_tables(self.spark, db, (t.name,))
                    out["tables"].append(full)
                    continue
                pdays = props.get("bigquery.partition_expiration_days")
                if pdays:
                    cutoff = now - float(pdays) * 86400.0
                    for prow in self.spark.sql(f"SHOW PARTITIONS {full}").collect():
                        first = prow[0].split("/")[0]
                        col, _, val = first.partition("=")
                        ts = _partition_epoch(val)
                        if ts is not None and ts < cutoff:
                            self.spark.sql(
                                f"ALTER TABLE {full} DROP IF EXISTS "
                                f"PARTITION ({col}='{val}')"
                            )
                            out["partitions"].append(f"{full}/{first}")
        return out

    def delete_rows(self, model_name: str, keys, key_col: str | None = None) -> int:
        """Targeted deletion (GDPR erasure) from a built model's table:
        rewrites only the partitions the keys live in
        (models/incremental.py::delete_keys). ``key_col`` defaults to
        the model's unique_key."""
        from .incremental import delete_keys

        spec = self.models.get(model_name)
        if spec is None:
            raise EngineError(f"delete_rows: no model {model_name!r}")
        col = key_col or spec.unique_key
        if not col:
            raise EngineError(
                f"delete_rows: {model_name} has no unique_key; pass key_col"
            )
        return delete_keys(
            self.spark,
            f"{self.database_for(spec)}.{spec.relation_name}",
            col,
            keys,
            partition_by=spec.partition_by
            or (("batch_key",) if spec.incremental_strategy == "microbatch" else ()),
        )

    def enforce_partition_filters(self, df: DataFrame) -> None:
        """Raise if ``df``'s plan scans a require_partition_filter table
        without pruning partitions (BigQuery rejects such queries at
        submission; Spark would happily full-scan 100 TB — this guard is
        the submission-time check)."""
        from ..plans.inspect import plan_text

        guarded = set()
        for spec in self.models.values():
            if spec.require_partition_filter:
                full = f"{self.database_for(spec)}.{spec.relation_name}"
                if self.spark.catalog.tableExists(full):
                    guarded.add(full)
        if not guarded:
            return
        text = plan_text(df)
        # formatted explain: one "(n) Scan parquet <catalog>.<db>.<table>"
        # block per scan, each carrying its own PartitionFilters line.
        for header, block in re.findall(
            r"\(\d+\) Scan parquet (\S+)((?:\n(?!\(\d+\) ).*)*)", text
        ):
            name = ".".join(header.split(".")[-2:])
            if name not in guarded:
                continue
            pf = re.search(r"PartitionFilters: \[(.*?)\]", block)
            if pf is None or not pf.group(1).strip():
                raise EngineError(
                    f"{name}: require_partition_filter is set but the query "
                    "scans it without a partition filter"
                )

    # -- state comparison (dbt Slim CI: --state / state:modified) -----------

    def write_state(self, path: str) -> None:
        """Persist every registered model's content fingerprint — the
        engine's analogue of dbt's manifest artifact. A later build in
        ANY process can select ``state:modified`` against this file and
        rebuild only what changed (dbt's Slim CI pattern: at 1000+
        models — the reference author's production scale — CI builds
        the diff, not the world).

        Besides fingerprints, the state records each model's QUALIFIED
        RELATION (derivable from the spec, like dbt's manifest) — the
        resolution table ``--defer`` reads so an unselected upstream ref
        can point at the production relation instead of rebuilding it."""
        import json

        state = {
            "fingerprints": {
                n: self._model_fingerprint(s) for n, s in self.models.items()
            },
            "relations": {
                # always db-qualified — the TVF defer path splits the
                # database back off for its USE routing
                n: f"{self.database_for(s)}.{s.relation_name}"
                for n, s in self.models.items()
                if s.kind != "ephemeral"
            },
        }
        with open(path, "w") as f:
            json.dump(state, f, indent=0, sort_keys=True)

    @staticmethod
    def _load_state(state_path: str) -> dict:
        """Read a state file in either format: the round-10 flat
        ``{name: fingerprint}`` shape or the current
        ``{"fingerprints": ..., "relations": ...}``."""
        import json

        with open(state_path) as f:
            saved = json.load(f)
        if "fingerprints" in saved and isinstance(
            saved.get("fingerprints"), dict
        ):
            return saved
        return {"fingerprints": saved, "relations": {}}

    def modified_models(self, state_path: str) -> list[str]:
        """Models whose fingerprint differs from the saved state (new
        models count as modified; deletions are ignored — they have
        nothing to build)."""
        saved = self._load_state(state_path)["fingerprints"]
        return [
            n
            for n, s in self.models.items()
            if saved.get(n) != self._model_fingerprint(s)
        ]

    def _downstream_closure(self, roots: set[str]) -> set[str]:
        out = set(roots)
        changed = True
        while changed:
            changed = False
            for n, s in self.models.items():
                if n not in out and out & self._edge_keys(s):
                    out.add(n)
                    changed = True
        return out

    # -- DAG build (F12/F16/F17) -------------------------------------------

    def _subgraph(
        self,
        select: list[str] | None,
        state: str | None = None,
        exclude: list[str] | None = None,
        closure: bool = True,
    ) -> dict[str, ModelSpec]:
        if select is None:
            out = dict(self.models)
            for name in exclude or ():
                out.pop(name, None)
            return out
        out: dict[str, ModelSpec] = {}
        stack: list[str] = []
        for sel in select:
            if sel.endswith("+") and sel not in ("state:modified+",):
                # dbt graph operator `X+`: the selection and everything
                # downstream of it (its blast radius). X may be a model
                # or a tag: selector. Upstream deps of every selected
                # node still join via the closure below, so the
                # subgraph is always buildable.
                root = sel[:-1]
                if root.startswith("tag:"):
                    tag = root[4:]
                    roots = {n for n, s in self.models.items() if tag in s.tags}
                    if not roots:
                        raise EngineError(f"--select {sel}: no model carries that tag")
                else:
                    try:
                        roots = {self._ref_key(root)}
                    except EngineError:
                        raise EngineError(f"--select {sel}: no such model")
                stack.extend(self._downstream_closure(roots))
            elif sel.startswith("+"):
                # dbt `+model`: the model and its ancestors — which is
                # exactly the default closure; accepted for parity.
                stack.append(sel[1:])
            elif sel in ("state:modified", "state:modified+"):
                # dbt state selector: diff against a saved manifest.
                # The bare form selects the modified nodes; the '+'
                # suffix adds everything downstream of them (Slim CI
                # builds the change and its blast radius).
                if not state:
                    raise EngineError(f"--select {sel} requires --state PATH")
                modified = set(self.modified_models(state))
                if sel.endswith("+"):
                    modified = self._downstream_closure(modified)
                stack.extend(modified)
            elif sel.startswith("tag:"):
                # dbt tag selector: every model carrying the tag
                # (reference: dbt_project.yml +tags, `--select tag:udf`).
                tag = sel[4:]
                tagged = [n for n, s in self.models.items() if tag in s.tags]
                if not tagged:
                    raise EngineError(f"--select {sel}: no model carries that tag")
                stack.extend(tagged)
            else:
                stack.append(sel)
        while stack:
            name = stack.pop()
            if name in out:
                continue
            try:
                # _ref_key lets --select address a versioned entry by
                # its bare name (resolving to the latest version, dbt's
                # rule) or pin one with `name.vN`.
                key = self._ref_key(name)
            except EngineError:
                raise EngineError(f"--select {name}: no such model")
            if key in out:
                continue
            spec = self.models[key]
            out[key] = spec
            if closure:
                stack.extend(self._edge_keys(spec))  # upstream closure
        for name in exclude or ():
            # dbt --exclude: dropped AFTER closure — an excluded
            # upstream is assumed already built (dbt's own contract).
            out.pop(name, None)
        return out

    def _model_fingerprint(self, spec: ModelSpec) -> str:
        """Content hash of everything that affects the materialized object:
        rendered SQL (so an upstream rename changes it), kind, signature,
        docs, hooks, and target database."""
        import hashlib

        python_fp = ""
        if spec.kind == "python":
            # Bytecode + constants capture body changes the way rendered
            # SQL does for SQL models (closure cells excluded: models
            # should be self-contained functions).
            code = getattr(spec.python_body, "__code__", None)
            python_fp = (
                code.co_code.hex() + repr(code.co_consts)
                if code is not None
                else repr(spec.python_body)  # e.g. functools.partial
            ) + repr(spec.python_refs)
        payload = "\x1f".join(
            [
                spec.kind,
                self.database_for(spec),
                self.render(spec),
                python_fp,
                ",".join(spec.params),
                spec.return_type or "",
                spec.description,
                repr(sorted(spec.columns.items())),
                repr(spec.pre_hooks),
                repr(spec.post_hooks),
                repr(spec.sql_header),
                repr(spec.partition_by),
                repr(spec.cluster_by),
                repr(spec.labels),
                spec.incremental_strategy,
                spec.on_schema_change,
                repr(spec.merge_update_columns),
                repr((spec.event_time, spec.batch_size, spec.lookback, spec.begin)),
                repr(spec.incremental_predicates),
                repr(spec.grants),
                repr(spec.contract_columns),
                repr(spec.invalidate_hard_deletes),
                repr(spec.partitions),
                repr(spec.alias),
                repr(
                    (
                        spec.hours_to_expiration,
                        spec.partition_expiration_days,
                        spec.require_partition_filter,
                    )
                ),
                repr(
                    (
                        spec.version,
                        spec.latest_version,
                        spec.deprecation_date,
                    )
                ),
            ]
        )
        return hashlib.sha256(payload.encode()).hexdigest()

    def build(
        self,
        select: list[str] | None = None,
        replace: bool = True,
        threads: int = 8,
        skip_unchanged: bool = False,
        full_refresh: bool = False,
        state: str | None = None,
        exclude: list[str] | None = None,
        fail_fast: bool = True,
        defer: bool = False,
        favor_state: bool = False,
    ) -> dict[str, BuiltRelation]:
        """Topologically build the (selected closure of the) model DAG.

        Independent nodes build concurrently, matching dbt's threaded
        executor (the reference ran 8 threads — dbt_run_result.png).
        ``replace=False`` restores the reference's strict conflict
        behavior (F5) for fresh deployments.

        ``skip_unchanged=True`` enables the reference's build-level
        incrementality ("don't rebuild every UDF every run" —
        SURVEY.md §4): a model whose content fingerprint matches the
        previous successful build in this engine is skipped. Skips are
        transitive-safe because the fingerprint covers *rendered* SQL —
        any upstream change that alters a referenced name re-renders
        downstream bodies and changes their fingerprints.

        ``full_refresh=True`` (dbt's --full-refresh) drops incremental
        and snapshot targets first, so they rebuild from scratch with
        their is_incremental() blocks stripped — the recovery path for
        schema changes or corrupted state.

        ``fail_fast=False`` is dbt's default run semantics: a failing
        model records an ERROR (``self.errors``), its descendants are
        SKIPped (``self.skipped_errors``), and every independent branch
        still builds — at 1000+ models one broken model must not sink
        the nightly run. ``fail_fast=True`` (this API's default, kept
        for programmatic callers) re-raises the first failure.

        ``defer=True`` (dbt's --defer --state, requires ``state``): the
        selection is taken EXACTLY (no upstream closure — dbt builds
        only what's selected under defer), and refs to unselected
        models resolve to the state manifest's recorded relations when
        the target env lacks them (``favor_state=True`` = dbt's
        --favor-state: always prefer the state relation). This is the
        Slim-CI completion: CI builds the changed child against
        production parents instead of rebuilding the world.
        """
        self.skipped = set()
        self.errors = {}
        self.skipped_errors = set()
        self.timings = {}
        self._stamp_invocation()  # fresh {{ invocation_id }} per build (dbt)
        build_started = time.perf_counter()
        if defer:
            if not state:
                raise EngineError("build(defer=True) requires state=PATH")
            graph = self._subgraph(
                select, state=state, exclude=exclude, closure=False
            )
            self._defer = {
                "relations": self._load_state(state)["relations"],
                "selected": set(graph),
                "favor_state": favor_state,
            }
        else:
            graph = self._subgraph(select, state=state, exclude=exclude)
        for hook in self.on_run_start:  # dbt on-run-start
            self.spark.sql(hook)
        try:
            if full_refresh:
                from ..operators import index_store

                for spec in graph.values():
                    if spec.kind in ("incremental", "snapshot"):
                        db = self.database_for(spec)
                        ensure_database(self.spark, db)
                        index_store.clear_tables(self.spark, db, (spec.relation_name,))
            ts = TopologicalSorter(
                {n: self._edge_keys(s) & graph.keys() for n, s in graph.items()}
            )
            ts.prepare()
            results: dict[str, BuiltRelation] = {}

            def _build_one(spec: ModelSpec) -> tuple[BuiltRelation, bool]:
                fp = self._model_fingerprint(spec)
                if (
                    skip_unchanged
                    and self._fingerprints.get(spec.registry_key) == fp
                    and spec.registry_key in self.relations
                ):
                    return self.relations[spec.registry_key], True
                started = time.perf_counter()
                try:
                    rel = self._materialize(spec, replace)
                finally:
                    # recorded on failure too: a model that grinds before
                    # erroring must not report 0.0 in run_results
                    self.timings[spec.registry_key] = time.perf_counter() - started
                self._fingerprints[spec.registry_key] = fp
                return rel, False

            with ThreadPoolExecutor(max_workers=threads) as pool:
                while ts.is_active():
                    ready = list(ts.get_ready())
                    if not ready:
                        break
                    runnable = []
                    for n in ready:
                        bad = self.errors.keys() | self.skipped_errors
                        if self._edge_keys(graph[n]) & bad:
                            # Descendant of a failure: SKIP (dbt's
                            # status), but mark done so the sorter
                            # keeps feeding unrelated branches.
                            self.skipped_errors.add(n)
                            ts.done(n)
                        else:
                            runnable.append(n)
                    if not runnable:
                        continue
                    futures = {n: pool.submit(_build_one, graph[n]) for n in runnable}
                    for n, fut in futures.items():
                        try:
                            results[n], was_skipped = fut.result()
                            if was_skipped:
                                self.skipped.add(n)
                        except Exception as exc:  # noqa: BLE001 — dbt keep-going
                            if fail_fast:
                                raise
                            self.errors[n] = exc
                        ts.done(n)
            return results
        finally:
            self._defer = None  # defer resolution is scoped to this build
            self.elapsed = time.perf_counter() - build_started
            for hook in self.on_run_end:  # dbt on-run-end (even on failure)
                self.spark.sql(hook)

    def run_results(self) -> dict:
        """dbt ``run_results.json`` analogue for the last :meth:`build`:
        per-node status (success / skipped / error / skip-upstream) with
        wall-clock execution time, plus total elapsed — the artifact CI
        systems diff to spot regressing models (the reference's run log,
        dbt_run_result.png, is exactly this rendered as text)."""
        nodes = []
        for name, rel in sorted(self.relations.items()):
            if name in self.errors:
                continue  # reported below (stale relation from a prior build)
            if name in self.skipped:
                status, t = "skipped", 0.0
            elif name in self.timings:
                status, t = "success", round(self.timings[name], 3)
            else:
                continue  # built in an earlier run, not this one
            nodes.append(
                {
                    "name": name,
                    "status": status,
                    "execution_time": t,
                    "relation": rel.qualified,
                    "kind": rel.kind,
                }
            )
        for name, exc in sorted(self.errors.items()):
            nodes.append(
                {
                    "name": name,
                    "status": "error",
                    "execution_time": round(self.timings.get(name, 0.0), 3),
                    "message": str(exc)[:300],
                }
            )
        for name in sorted(self.skipped_errors):
            nodes.append({"name": name, "status": "skip-upstream"})
        return {
            "elapsed": round(getattr(self, "elapsed", 0.0), 3),
            "invocation_id": self.invocation_id,  # dbt run_results.json field
            "results": nodes,
        }
