"""Framework tests (SURVEY.md §5.4): DAG build, conflict check, env
routing, description persistence, selective build."""

from __future__ import annotations

import pytest

from dbt_bigquery_udf_spark.api import bootstrap, build_reference_dag
from dbt_bigquery_udf_spark.catalog import NameConflictError, env_database
from dbt_bigquery_udf_spark.models.core import Engine, ModelSpec


@pytest.fixture(scope="module")
def built(spark, sf_small):
    return build_reference_dag(spark, sf_small)


def test_dag_relations(built):
    assert built.relations["parse_datetime"].qualified == "udf.parse_datetime"
    assert built.relations["test_table_function"].qualified == "udf.test_table_function"
    assert built.relations["test_datamart"].qualified == "datamart.test_datamart"


def test_datamart_schema_and_rows(spark, built):
    # Output schema pinned by reference: models/datamart/schema.yml:6-10.
    df = spark.table("datamart.test_datamart")
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("column1", "bigint"),
        ("datetime", "timestamp_ntz"),
    ]
    assert df.count() > 0


def test_function_description_persisted(spark, built):
    # F10: BQ OPTIONS(description=...) -> Spark COMMENT, retrievable
    # (reference: macros/udf/get_create_function_as_sql.sql:14).
    rows = spark.sql("DESCRIBE FUNCTION EXTENDED udf.parse_datetime").collect()
    text = "\n".join(r[0] for r in rows)
    assert "convert a string to a civil datetime" in text


def test_table_docs_persisted(spark, built):
    rows = spark.sql("DESCRIBE TABLE datamart.test_datamart").collect()
    by_col = {r.col_name: r.comment for r in rows}
    assert "unique event identifier" in (by_col.get("column1") or "")


def test_conflict_check(spark, built):
    # F5: shared-namespace rule (reference: macros/udf/function.sql:4-7).
    eng = Engine(spark)
    eng.register(
        ModelSpec(
            name="parse_datetime",
            kind="function",
            database="udf",
            params=("x STRING",),
            return_type="STRING",
            sql="x",
            dialect="spark",
        )
    )
    with pytest.raises(NameConflictError):
        eng.build(replace=False)
    # replace=True succeeds and leaves a working function
    build_reference_dag(spark, "/root/testdata/sf0.001")


def test_env_routing(spark, sf_small):
    # F14: same logical model in an env-suffixed database
    # (reference: README.md:178-193).
    assert env_database("udf", None) == "udf"
    assert env_database("udf", "prod") == "udf"
    assert env_database("udf", "staging") == "udf_staging"
    eng = bootstrap(spark, sf_small, env="staging")
    eng.build()
    assert spark.catalog.functionExists("udf_staging.parse_datetime")
    assert spark.table("datamart_staging.test_datamart").count() > 0


def test_selective_build(spark, sf_small):
    # F16: --select closure only builds the upstream subgraph.
    eng = bootstrap(spark, sf_small, env="dev")
    eng.build(select=["test_table_function"])
    assert set(eng.relations) == {"parse_datetime", "test_table_function"}
    assert spark.catalog.functionExists("udf_dev.test_table_function")
    assert not spark.catalog.tableExists("datamart_dev.test_datamart")


def test_tvf_inlines_with_pushdown(spark, built):
    # The TVF + UDF must inline into a single scan with the filter pushed
    # to parquet (SURVEY.md §4) — the 100 TB design point.
    from dbt_bigquery_udf_spark.catalog import catalog_lock

    with catalog_lock:
        prev = spark.catalog.currentDatabase()
        spark.sql("USE udf")
        try:
            df = spark.sql("SELECT * FROM test_table_function('click')")
        finally:
            spark.sql(f"USE {prev}")
    qe = df._jdf.queryExecution()
    plan = qe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "EqualTo(event_type,click)" in plan  # predicate reached the scan
    assert "Exchange" not in plan  # scan->filter->project is shuffle-free


def test_pre_post_hooks_run(spark, sf_small):
    """F6: pre/post hooks execute around the materialization in order
    (reference: macros/udf/function.sql:10,13,22,27)."""
    engine = bootstrap(spark, sf_small, env="ci")
    engine.register(
        ModelSpec(
            name="hooked_view",
            kind="view",
            sql="SELECT 1 AS one",
            database="datamart",
            dialect="spark",
            pre_hooks=(
                "CREATE DATABASE IF NOT EXISTS hook_evidence",
                "CREATE OR REPLACE VIEW hook_evidence.pre_marker AS SELECT 1 AS x",
            ),
            post_hooks=(
                "CREATE OR REPLACE VIEW hook_evidence.post_marker AS "
                "SELECT * FROM hook_evidence.pre_marker",
            ),
        )
    )
    engine.build(select=["hooked_view"])
    assert spark.table("hook_evidence.pre_marker").count() == 1
    assert spark.table("hook_evidence.post_marker").count() == 1
    assert spark.table("datamart_ci.hooked_view").collect()[0][0] == 1


def test_cli_list_and_build(spark, sf_small):
    """F16 CLI surface: `list` enumerates the registry; `build --select`
    materializes a subgraph (exercised in-process)."""
    from dbt_bigquery_udf_spark.__main__ import main
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        assert main(["list"]) == 0
    out = buf.getvalue()
    assert "ref_datamart_e2e\toracle" in out
    # every registry entry is oracle-checked since round 2 (the former
    # rows-only sketch queries now emit exact values + tolerance flags)
    assert "rows-only" not in out


def test_incremental_skip_unchanged(spark, sf_small):
    """Build-level incrementality (SURVEY.md §4): unchanged models skip;
    editing a model (or anything upstream that re-renders it) rebuilds."""
    engine = bootstrap(spark, sf_small, env="dev")
    engine.build(skip_unchanged=True)
    assert engine.skipped == set()
    engine.build(skip_unchanged=True)
    assert engine.skipped == {"parse_datetime", "test_table_function", "test_datamart"}
    # Change one model: it and only it rebuilds (its rendered SQL changed).
    spec = engine.models["test_datamart"]
    from dataclasses import replace as dc_replace

    engine.models["test_datamart"] = dc_replace(
        spec, sql=spec.sql.replace("'click'", "'view'")
    )
    engine.build(skip_unchanged=True)
    assert engine.skipped == {"parse_datetime", "test_table_function"}


def test_ephemeral_models_inline(spark, sf_small):
    """dbt ephemeral materialization: the model never hits the catalog;
    downstream refs inline its body as a subquery (recursively)."""
    from dbt_bigquery_udf_spark.api import prepared_engine
    from dbt_bigquery_udf_spark.models.core import ModelSpec

    engine = prepared_engine(spark, sf_small)
    engine.register(
        ModelSpec(
            name="big_events_eph",
            kind="ephemeral",
            database="datamart",
            dialect="spark",
            sql="SELECT user_id, value FROM"
            " {{ source('joshua_dataset', 'events') }} WHERE value > 100",
        ),
        ModelSpec(
            name="biggest_events_eph",
            kind="ephemeral",
            database="datamart",
            dialect="spark",
            sql="SELECT user_id, value FROM {{ ref('big_events_eph') }}"
            " WHERE value > 150",
        ),
        ModelSpec(
            name="user_value_tbl",
            kind="table",
            database="datamart",
            dialect="spark",
            sql="SELECT user_id, round(sum(value), 2) AS total FROM"
            " {{ ref('biggest_events_eph') }} GROUP BY user_id",
        ),
        replace=True,
    )
    engine.build(select=["user_value_tbl"])
    # Ephemeral nodes never became catalog objects...
    assert not spark.catalog.tableExists("datamart.big_events_eph")
    assert not spark.catalog.tableExists("datamart.biggest_events_eph")
    # ...but the downstream table computed through both inlined bodies.
    got = spark.table("datamart.user_value_tbl")
    want = spark.sql(
        "SELECT user_id, round(sum(value), 2) AS total FROM src.events"
        " WHERE value > 150 GROUP BY user_id"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_tag_selection(spark, sf_small):
    """dbt tag selector: build --select tag:<t> expands to all tagged
    models plus upstream closure."""
    from dbt_bigquery_udf_spark.api import prepared_engine
    from dbt_bigquery_udf_spark.models.core import EngineError, ModelSpec
    import pytest as _pytest

    engine = prepared_engine(spark, sf_small)
    engine.register(
        ModelSpec(
            name="tagged_view",
            kind="view",
            database="datamart",
            dialect="spark",
            tags=("nightly",),
            sql="SELECT count(*) AS n FROM {{ source('joshua_dataset', 'events') }}",
        ),
        replace=True,
    )
    rels = engine.build(select=["tag:nightly"])
    assert set(rels) == {"tagged_view"}
    with _pytest.raises(EngineError, match="no model carries"):
        engine.build(select=["tag:nope"])


def test_parallel_build_many_models(spark, sf_small):
    """F17 at width: 24 independent models + 1 downstream build through
    the 8-thread pool; every relation lands and the downstream sees all
    upstreams (exercises the catalog lock under real contention)."""
    from dbt_bigquery_udf_spark.api import prepared_engine
    from dbt_bigquery_udf_spark.models.core import ModelSpec

    engine = prepared_engine(spark, sf_small)
    names = [f"wide_v{i}" for i in range(24)]
    engine.register(
        *[
            ModelSpec(
                name=n,
                kind="view",
                database="datamart",
                dialect="spark",
                sql=f"SELECT {i} AS part_id, count(*) AS n FROM"
                " {{ source('joshua_dataset', 'events') }}"
                f" WHERE event_id % 24 = {i}",
            )
            for i, n in enumerate(names)
        ],
        ModelSpec(
            name="wide_union",
            kind="table",
            database="datamart",
            dialect="spark",
            sql=" UNION ALL ".join(
                "SELECT * FROM {{ ref('" + n + "') }}" for n in names
            ),
        ),
        replace=True,
    )
    rels = engine.build(select=["wide_union"], threads=8)
    assert len(rels) == 25
    rows = spark.table("datamart.wide_union").collect()
    assert len(rows) == 24
    total = sum(r.n for r in rows)
    assert total == spark.table("src.events").count()


def test_python_model_in_dag(spark, sf_small):
    """Python models (dbt's python-model surface): a callable body
    receiving (spark, ctx) with ctx.ref()/ctx.source(), materialized as
    a table, usable as an upstream ref by SQL models, docs persisted,
    and fingerprint-skipped on unchanged rebuilds."""
    from pyspark.sql import functions as F

    from dbt_bigquery_udf_spark.api import bootstrap

    eng = bootstrap(spark, sf_small, env="ci")

    def body(session, dbt):
        ev = dbt.source("joshua_dataset", "test_table")
        return ev.groupBy("id").agg(F.count(F.lit(1)).alias("n"))

    eng.register(
        ModelSpec(
            name="py_event_counts",
            kind="python",
            sql="",
            database="datamart",
            python_body=body,
            python_refs=(),
            description="per-type event counts (python model)",
            columns={"n": "rows per id"},
        ),
        ModelSpec(
            name="py_downstream",
            kind="table",
            sql="SELECT id, n FROM {{ ref('py_event_counts') }} WHERE n > 0",
            database="datamart",
        ),
    )
    eng.build(select=["py_downstream"])
    assert eng.relations["py_event_counts"].kind == "python"
    out = spark.table("datamart_ci.py_downstream")
    assert out.count() > 0
    # DAG edge came from python_refs-free source + SQL ref; downstream
    # equality against a direct aggregate:
    direct = spark.table("src.test_table").groupBy("id").count().count()
    assert out.count() == direct
    # docs persisted like any table materialization
    desc = spark.sql("DESCRIBE TABLE EXTENDED datamart_ci.py_event_counts").collect()
    text = "\n".join(str(r) for r in desc)
    assert "per-type event counts (python model)" in text
    # unchanged rebuild is fingerprint-skipped
    eng.build(select=["py_event_counts"], skip_unchanged=True)
    assert "py_event_counts" in eng.skipped


def test_python_model_ref_and_validation(spark, sf_small):
    from dbt_bigquery_udf_spark.api import bootstrap
    from dbt_bigquery_udf_spark.models.core import EngineError

    eng = bootstrap(spark, sf_small, env="ci")

    # python_refs declare DAG edges: upstream SQL table ref'd via ctx.ref
    eng.register(
        ModelSpec(
            name="py_base",
            kind="table",
            sql="SELECT id, column1 FROM {{ source('joshua_dataset','test_table') }}",
            database="datamart",
        ),
        ModelSpec(
            name="py_top",
            kind="python",
            sql="",
            database="datamart",
            python_body=lambda session, dbt: dbt.ref("py_base").limit(5),
            python_refs=("py_base",),
        ),
    )
    built = eng.build(select=["py_top"])
    assert set(built) == {"py_base", "py_top"}  # closure followed python_refs
    assert spark.table("datamart_ci.py_top").count() == 5

    # a python body that returns a non-DataFrame fails loudly
    eng.register(
        ModelSpec(
            name="py_bad",
            kind="python",
            sql="",
            database="datamart",
            python_body=lambda session, dbt: 42,
        )
    )
    with pytest.raises(EngineError, match="must return a DataFrame"):
        eng.build(select=["py_bad"])

    # missing body fails at spec construction
    with pytest.raises(EngineError, match="require python_body"):
        ModelSpec(name="py_nobody", kind="python", sql="")


def test_cli_adhoc_sql_bigquery_dialect(spark, sf_small):
    """The `sql` command runs ad-hoc BigQuery-dialect SQL against the
    registered sources — the reference user's day-to-day surface."""
    import io
    from contextlib import redirect_stdout

    from dbt_bigquery_udf_spark.__main__ import main

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(
            [
                "sql",
                "SELECT event_type, SAFE_CAST(COUNT(*) AS INT64) AS n "
                "FROM events WHERE REGEXP_CONTAINS(event_type, 'cl') "
                "GROUP BY event_type",
                "--sf-dir",
                sf_small,
            ]
        )
    assert rc == 0
    import json as _json

    rows = [_json.loads(line) for line in buf.getvalue().strip().splitlines()]
    assert len(rows) == 1 and rows[0]["event_type"] == "click"
    assert rows[0]["n"] > 0


def test_cluster_by_produces_disjoint_file_ranges(spark, sf_small):
    """dbt-bigquery's cluster_by: the table's parquet files must cover
    disjoint key ranges (range-sorted on write), which is what makes
    scan-time min/max pruning equivalent to BQ block pruning."""
    from pyspark.sql import functions as F

    from dbt_bigquery_udf_spark.api import bootstrap

    eng = bootstrap(spark, sf_small, env="ci")
    eng.register(
        ModelSpec(
            name="orders_clustered",
            kind="table",
            sql="SELECT o_orderkey, o_custkey, o_totalprice "
            "FROM {{ source('joshua_dataset', 'orders') }}",
            database="datamart",
            cluster_by=("o_orderkey",),
            dialect="spark",
        )
    )
    # orders isn't part of the reference source set: register it directly
    # (clearing any orphaned location a previous process left behind).
    import os
    import shutil

    from dbt_bigquery_udf_spark.sources.registry import read_source

    spark.sql("DROP TABLE IF EXISTS src.orders")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(os.path.join(warehouse, "src.db", "orders"), ignore_errors=True)
    read_source(spark, sf_small, "orders").write.saveAsTable("src.orders")
    # sf0.001 fits one AQE-coalesced partition; shrink the advisory AND
    # minimum coalesce sizes (parallelismFirst coalescing respects the
    # 1MB min, not the advisory) so the range write produces several
    # files to check against.
    sizes = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4kb",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1kb",
    }
    prev = {k: spark.conf.get(k) for k in sizes}
    for k, v in sizes.items():
        spark.conf.set(k, v)
    try:
        eng.build(select=["orders_clustered"])
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    t = spark.table("datamart_ci.orders_clustered")
    per_file = (
        t.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(per_file) > 1, "expected multiple files to check disjointness"
    for prev, cur in zip(per_file, per_file[1:]):
        assert prev["hi"] <= cur["lo"], (prev, cur)


def test_labels_persisted_as_tblproperties(spark, sf_small):
    """dbt-bigquery's labels config: BQ table labels land as
    'label.'-prefixed TBLPROPERTIES, retrievable from the catalog."""
    from dbt_bigquery_udf_spark.api import bootstrap

    eng = bootstrap(spark, sf_small, env="ci")
    eng.register(
        ModelSpec(
            name="labeled_tbl",
            kind="table",
            sql="SELECT 1 AS one",
            database="datamart",
            dialect="spark",
            labels=(("team", "data-eng"), ("cost_center", "ml-42")),
        )
    )
    eng.build(select=["labeled_tbl"])
    props = {
        r.key: r.value
        for r in spark.sql(
            "SHOW TBLPROPERTIES datamart_ci.labeled_tbl"
        ).collect()
    }
    assert props.get("label.team") == "data-eng"
    assert props.get("label.cost_center") == "ml-42"


# -- dbt Slim CI: --state / state:modified --------------------------------


def test_state_modified_selects_changed_and_downstream(spark, sf_small, tmp_path):
    from dataclasses import replace as dc_replace

    import pytest

    from dbt_bigquery_udf_spark.catalog import EngineError
    from dbt_bigquery_udf_spark.models.reference import TEST_TABLE_FUNCTION

    engine = bootstrap(spark, sf_small)
    state = str(tmp_path / "state.json")
    engine.write_state(state)
    assert engine.modified_models(state) == []

    # Touch the TVF body: it becomes modified; the datamart refs it.
    engine.register(
        dc_replace(
            TEST_TABLE_FUNCTION,
            sql=TEST_TABLE_FUNCTION.sql.replace(
                "id = id_param", "id = id_param AND 1 = 1"
            ),
        ),
        replace=True,
    )
    assert engine.modified_models(state) == ["test_table_function"]

    built = engine.build(select=["state:modified"], state=state)
    # Upstream closure comes along (parse_datetime is an input), but the
    # datamart (downstream) is NOT selected by the bare form.
    assert "test_table_function" in built
    assert "test_datamart" not in built

    built_plus = engine.build(select=["state:modified+"], state=state)
    assert {"test_table_function", "test_datamart"} <= set(built_plus)

    # Selector without --state is an explicit error.
    with pytest.raises(EngineError, match="requires --state"):
        engine.build(select=["state:modified"])

    # Re-saving the state clears the diff.
    engine.write_state(state)
    assert engine.modified_models(state) == []


def test_on_run_start_end_hooks(spark, sf_small, tmp_path):
    """dbt's project-level on-run-start / on-run-end hooks bracket the
    whole build exactly once (per-model hooks are separate, F6)."""
    from dbt_bigquery_udf_spark.models.reference import REFERENCE_MODELS
    from dbt_bigquery_udf_spark.sources.registry import register_sources_catalog

    engine = Engine(
        spark,
        on_run_start=(
            "CREATE TABLE IF NOT EXISTS datamart.run_audit (ev STRING) USING parquet",
            "INSERT INTO datamart.run_audit VALUES ('start')",
        ),
        on_run_end=("INSERT INTO datamart.run_audit VALUES ('end')",),
    )
    from dbt_bigquery_udf_spark.operators.index_store import clear_tables

    spark.sql("CREATE DATABASE IF NOT EXISTS datamart")
    clear_tables(spark, "datamart", ("run_audit",))  # stale-dir gotcha
    register_sources_catalog(spark, sf_small)
    engine.register(*REFERENCE_MODELS, replace=True)
    engine.build()
    evs = sorted(r.ev for r in spark.table("datamart.run_audit").collect())
    assert evs == ["end", "start"]


def test_copy_materialization_and_grants(spark, sf_small):
    """dbt-bigquery's `copy` materialization: body is exactly one ref;
    the table is a zero-transform duplicate. grants persist as
    TBLPROPERTIES (OSS Spark has no ACL engine — the properties are the
    enforcement hand-off)."""
    from dbt_bigquery_udf_spark.api import prepared_engine
    from dbt_bigquery_udf_spark.catalog import EngineError

    engine = prepared_engine(spark, sf_small)
    engine.register(
        ModelSpec(
            name="datamart_copy",
            kind="copy",
            database="datamart",
            dialect="spark",
            sql="{{ ref('test_datamart') }}",
            grants=(("select", "analyst_role"),),
        ),
        replace=True,
    )
    engine.build(select=["datamart_copy"])
    src = spark.table("datamart.test_datamart")
    cp = spark.table("datamart.datamart_copy")
    assert cp.schema == src.schema and cp.count() == src.count()
    props = {
        r[0]: r[1]
        for r in spark.sql("SHOW TBLPROPERTIES datamart.datamart_copy").collect()
    }
    assert props.get("grant.select") == "analyst_role"

    with pytest.raises(EngineError, match="exactly one"):
        ModelSpec(
            name="bad_copy",
            kind="copy",
            database="datamart",
            dialect="spark",
            sql="SELECT * FROM {{ ref('test_datamart') }}",
        )


def test_sql_header_temp_function(spark, sf_small):
    """dbt's sql_header config — BigQuery's temp-UDF mechanism. Header
    statements run in-session right before the main statement; a CTAS
    may call the temp function (the body inlines at analysis), while
    persistent kinds reject the config up front."""
    from dbt_bigquery_udf_spark.models.core import EngineError

    engine = bootstrap(spark, sf_small)
    engine.register(
        ModelSpec(
            name="hdr_scored_events",
            kind="table",
            database="datamart",
            dialect="spark",
            sql_header=(
                "CREATE OR REPLACE TEMPORARY FUNCTION hdr_score(v DOUBLE) "
                "RETURNS DOUBLE RETURN round(v * 2.0, 2)",
            ),
            sql="""
                SELECT event_id, hdr_score(value) AS score
                FROM {{ source('joshua_dataset', 'events') }} LIMIT 50
            """,
        )
    )
    engine.build(select=["hdr_scored_events"])
    df = spark.table("datamart.hdr_scored_events")
    assert df.count() == 50
    row = df.filter("score IS NOT NULL").first()
    assert row is not None  # temp fn actually evaluated
    # Persistent function/view kinds cannot take a header (Spark:
    # INVALID_TEMP_OBJ_REFERENCE) — rejected at spec construction.
    with pytest.raises(EngineError, match="sql_header"):
        ModelSpec(
            name="bad_view",
            kind="view",
            database="datamart",
            dialect="spark",
            sql="SELECT 1",
            sql_header=("CREATE TEMPORARY FUNCTION f() RETURNS INT RETURN 1",),
        )
    # sql_header participates in the content fingerprint (a header
    # change must rebuild the model under skip_unchanged).
    spec = engine.models["hdr_scored_events"]
    import dataclasses

    changed = dataclasses.replace(
        spec,
        sql_header=(
            "CREATE OR REPLACE TEMPORARY FUNCTION hdr_score(v DOUBLE) "
            "RETURNS DOUBLE RETURN round(v * 3.0, 2)",
        ),
    )
    assert engine._model_fingerprint(spec) != engine._model_fingerprint(changed)


def test_exposures_lineage(spark, sf_small):
    """dbt exposures: declared downstream consumers participate in
    lineage (blast-radius queries) and are validated against the DAG."""
    from dbt_bigquery_udf_spark.models.core import EngineError, Exposure

    engine = bootstrap(spark, sf_small)
    assert "click_events_dashboard" in engine.exposures
    # The dashboard sits downstream of the whole reference chain:
    # changing the UDF reaches it transitively.
    assert engine.exposures_affected_by(["parse_datetime"]) == [
        "click_events_dashboard"
    ]
    assert engine.exposures_affected_by(["test_datamart"]) == [
        "click_events_dashboard"
    ]
    # An unrelated model touches nothing.
    engine.register(
        ModelSpec(
            name="island", kind="view", database="datamart",
            dialect="spark", sql="SELECT 1 AS one",
        )
    )
    assert engine.exposures_affected_by(["island"]) == []
    with pytest.raises(EngineError, match="unknown models"):
        engine.register_exposures(
            Exposure(
                name="bad", exposure_type="dashboard", depends_on=("ghost",)
            )
        )
    with pytest.raises(EngineError, match="unknown type"):
        Exposure(name="bad2", exposure_type="tv-show", depends_on=("test_datamart",))


def test_model_contract_enforced(spark, sf_small):
    """dbt model contracts: the declared (column, type) set is checked
    against the analyzed body BEFORE materialization; drift fails the
    build and nothing is written."""
    from dbt_bigquery_udf_spark.models.core import EngineError

    engine = bootstrap(spark, sf_small)
    good = ModelSpec(
        name="contracted_events",
        kind="table",
        database="datamart",
        dialect="spark",
        contract_columns=(("event_id", "INT64"), ("value", "FLOAT64")),
        sql="SELECT event_id, value FROM {{ source('joshua_dataset', 'events') }} LIMIT 10",
    )
    engine.register(good)
    engine.build(select=["contracted_events"])
    assert spark.table("datamart.contracted_events").count() == 10

    import dataclasses

    # Type drift (value declared INT64 but body yields DOUBLE).
    bad_type = dataclasses.replace(
        good, contract_columns=(("event_id", "INT64"), ("value", "INT64"))
    )
    engine.register(bad_type, replace=True)
    with pytest.raises(EngineError, match="type mismatches"):
        engine.build(select=["contracted_events"])
    # Column drift (undeclared column in the body).
    bad_cols = dataclasses.replace(
        good, contract_columns=(("event_id", "INT64"),)
    )
    engine.register(bad_cols, replace=True)
    with pytest.raises(EngineError, match="undeclared columns"):
        engine.build(select=["contracted_events"])
    # Contracts are meaningless on function kinds.
    with pytest.raises(EngineError, match="contract"):
        ModelSpec(
            name="f", kind="function", database="udf", params=("x STRING",),
            return_type="STRING", sql="x", dialect="spark",
            contract_columns=(("x", "STRING"),),
        )


def test_graph_selectors_and_exclude(spark, sf_small):
    """dbt graph operators: NAME+ selects the downstream closure,
    --exclude drops nodes after closure."""
    engine = bootstrap(spark, sf_small)
    # parse_datetime+ must reach the whole reference chain.
    g = engine._subgraph(["parse_datetime+"])
    assert set(g) == {"parse_datetime", "test_table_function", "test_datamart"}
    # +test_datamart == upstream closure (the default select semantics).
    g2 = engine._subgraph(["+test_datamart"])
    assert set(g2) == {"parse_datetime", "test_table_function", "test_datamart"}
    # exclude drops a node from the closed selection.
    g3 = engine._subgraph(["+test_datamart"], exclude=["test_datamart"])
    assert set(g3) == {"parse_datetime", "test_table_function"}
    g4 = engine._subgraph(None, exclude=["test_datamart"])
    assert "test_datamart" not in g4 and "parse_datetime" in g4


def test_cli_compile(spark, sf_small, capsys):
    """`compile` prints rendered SQL without materializing."""
    import json as _json

    from dbt_bigquery_udf_spark.__main__ import main

    rc = main(["compile", "--select", "test_table_function", "--sf-dir", sf_small])
    assert rc == 0
    lines = [
        _json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
        if line.startswith("{")
    ]
    by_name = {r["model"]: r for r in lines}
    assert set(by_name) == {"parse_datetime", "test_table_function"}
    body = by_name["test_table_function"]["compiled_sql"]
    assert "src.test_table" in body  # source() resolved
    assert "try_to_timestamp" not in body  # function body not inlined here
    assert "udf.parse_datetime" in body or "parse_datetime" in body


def test_catalog_info(spark, sf_small):
    """dbt catalog analogue: warehouse-observed columns + ANALYZE
    statistics for every built relation."""
    from dbt_bigquery_udf_spark.api import prepared_engine

    engine = prepared_engine(spark, sf_small)
    cat = engine.catalog_info()
    dm = cat["test_datamart"]
    assert dm["kind"] == "table"
    assert set(dm["columns"]) == {"column1", "datetime"}
    assert dm["columns"]["column1"]["type"] == "bigint"
    assert "unique event identifier" in (dm["columns"]["column1"]["comment"] or "")
    assert dm.get("num_rows", 0) > 0 and dm.get("num_bytes", 0) > 0
    fn = cat["parse_datetime"]
    assert fn["kind"] == "function"
    assert any("convert a string" in line for line in fn["function_info"])


def test_keep_going_build(spark, sf_small):
    """dbt run semantics: a failing model ERRORs, its descendants SKIP,
    independent branches still build; fail_fast=True re-raises."""
    from dbt_bigquery_udf_spark.models.core import EngineError

    engine = bootstrap(spark, sf_small)
    engine.register(
        ModelSpec(
            name="broken_base", kind="view", database="datamart",
            dialect="spark", sql="SELECT no_such_column FROM src.events",
        ),
        ModelSpec(
            name="broken_child", kind="view", database="datamart",
            dialect="spark", sql="SELECT * FROM {{ ref('broken_base') }}",
        ),
        ModelSpec(
            name="healthy_island", kind="view", database="datamart",
            dialect="spark", sql="SELECT 1 AS one",
        ),
    )
    sel = ["broken_child", "healthy_island", "test_datamart"]
    rels = engine.build(select=sel, fail_fast=False)
    assert "healthy_island" in rels and "test_datamart" in rels
    assert "broken_base" in engine.errors
    assert engine.skipped_errors == {"broken_child"}
    assert "broken_base" not in rels and "broken_child" not in rels
    # fail_fast re-raises the underlying failure.
    with pytest.raises(Exception):
        engine.build(select=["broken_base"], fail_fast=True)
    # EngineError sanity: selecting junk still raises regardless of mode.
    with pytest.raises(EngineError, match="no such model"):
        engine.build(select=["ghost"], fail_fast=False)


def test_vars_resolution(spark, sf_small):
    """dbt --vars: {{ var('name'[, default]) }} renders to SQL
    literals; missing var without default fails like dbt."""
    from dbt_bigquery_udf_spark.models.core import Engine, EngineError

    engine = bootstrap(spark, sf_small)
    engine.vars.update({"min_value": 50, "channel": "click", "flag": True})
    engine.register(
        ModelSpec(
            name="vars_model", kind="view", database="datamart",
            dialect="spark",
            sql="""
                SELECT event_id FROM {{ source('joshua_dataset', 'events') }}
                WHERE value > {{ var('min_value') }}
                  AND event_type = {{ var('channel') }}
                  AND {{ var('flag') }}
                  AND user_id >= {{ var('floor', 0) }}
            """,
        )
    )
    body = engine.render(engine.models["vars_model"])
    assert "value > 50" in body and "event_type = 'click'" in body
    assert "AND true" in body and "user_id >= 0" in body
    engine.build(select=["vars_model"])
    assert spark.table("datamart.vars_model").count() >= 0
    # A var change re-renders -> refingerprints (Slim CI correctness).
    fp1 = engine._model_fingerprint(engine.models["vars_model"])
    engine.vars["min_value"] = 60
    assert engine._model_fingerprint(engine.models["vars_model"]) != fp1
    # Missing var without default fails loudly.
    e2 = Engine(spark)
    e2.register(
        ModelSpec(
            name="vm2", kind="view", database="datamart", dialect="spark",
            sql="SELECT {{ var('nope') }} AS x",
        )
    )
    with pytest.raises(EngineError, match="var\\('nope'\\)"):
        e2.render(e2.models["vm2"])


def test_tag_plus_selector(spark, sf_small):
    """`tag:T+` composes the tag selector with the downstream graph
    operator (dbt selector syntax)."""
    engine = bootstrap(spark, sf_small)
    tagged = [n for n, s in engine.models.items() if "udf" in s.tags]
    if not tagged:  # reference models carry no tags by default: add one
        import dataclasses

        spec = dataclasses.replace(
            engine.models["parse_datetime"], tags=("udf",)
        )
        engine.register(spec, replace=True)
    g = engine._subgraph(["tag:udf+"])
    assert {"parse_datetime", "test_table_function", "test_datamart"} <= set(g)


def test_cli_show(spark, sf_small, capsys):
    """`show` runs a model's compiled SQL inline without materializing
    (dbt show): rows print, nothing new lands in the catalog."""
    import json as _json

    from dbt_bigquery_udf_spark.__main__ import main

    build_reference_dag(spark, sf_small)  # upstream relations exist
    rc = main(["show", "test_datamart", "--limit", "3", "--sf-dir", sf_small])
    assert rc == 0
    rows = [
        _json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
        if line.startswith("{")
    ]
    assert len(rows) == 3 and "column1" in rows[0]
    # Unsupported kinds are a clear error, not a crash.
    assert main(["show", "parse_datetime", "--sf-dir", sf_small]) == 2


def test_multi_param_tvf(spark, sf_small):
    """F2/F4 beyond the reference's single-param TVF: two typed
    parameters (STRING + INT64), schema inferred by Spark from the body,
    invoked with two literals from a downstream table."""
    engine = bootstrap(spark, sf_small)
    engine.register(
        ModelSpec(
            name="top_events_by_type",
            kind="table_function",
            database="udf",
            dialect="spark",
            params=("kind_param STRING", "min_value INT64"),
            sql="""
                SELECT event_id, value
                FROM {{ source('joshua_dataset', 'events') }}
                WHERE event_type = kind_param AND value >= min_value
            """,
        ),
        ModelSpec(
            name="big_clicks",
            kind="table",
            database="datamart",
            dialect="spark",
            sql="SELECT * FROM {{ ref('top_events_by_type') }}('click', 50)",
        ),
    )
    engine.build(select=["big_clicks"])
    got = spark.table("datamart.big_clicks")
    expected = spark.sql(
        "SELECT count(*) FROM src.events WHERE event_type = 'click' AND value >= 50"
    ).collect()[0][0]
    assert got.count() == expected
    assert dict(got.dtypes) == {"event_id": "bigint", "value": "double"}


def test_tvf_param_named_like_a_column_or_literal(spark, sf_small):
    """A TVF parameter spelled like a qualified column (``e.user_id``)
    or a string literal (``'user_id'``) in the body: Spark infers the
    return schema from the body as written, so neither is rewritten."""
    engine = bootstrap(spark, sf_small)
    engine.register(
        ModelSpec(
            name="events_of_user",
            kind="table_function",
            database="udf",
            dialect="spark",
            params=("user_id INT64",),
            sql="""
                SELECT e.event_id, e.user_id, 'user_id' AS label
                FROM {{ source('joshua_dataset', 'events') }} e
                WHERE e.user_id = events_of_user.user_id
            """,
        ),
        ModelSpec(
            name="events_of_user_7",
            kind="table",
            database="datamart",
            dialect="spark",
            sql="SELECT * FROM {{ ref('events_of_user') }}(7)",
        ),
    )
    engine.build(select=["events_of_user_7"])
    got = spark.table("datamart.events_of_user_7")
    assert dict(got.dtypes) == {
        "event_id": "bigint",
        "user_id": "bigint",
        "label": "string",
    }
    expected = spark.sql("SELECT count(*) FROM src.events WHERE user_id = 7").first()[0]
    assert expected > 0
    assert got.count() == expected
    assert {(r.user_id, r.label) for r in got.collect()} == {(7, "user_id")}


def test_run_results_artifact(spark, sf_small, tmp_path):
    """dbt run_results.json analogue: per-model status + timing from the
    last build, including error and skip-upstream statuses."""
    engine = bootstrap(spark, sf_small, env="dev")
    engine.build()
    rr = engine.run_results()
    assert rr["elapsed"] > 0
    by_name = {n["name"]: n for n in rr["results"]}
    assert by_name["parse_datetime"]["status"] == "success"
    assert by_name["parse_datetime"]["execution_time"] >= 0
    assert by_name["test_datamart"]["kind"] == "table"
    # error path: a broken model records error, its consumer skip-upstream
    from dbt_bigquery_udf_spark.models.core import ModelSpec

    engine.register(
        ModelSpec(name="rr_broken", kind="table", database="datamart",
                  sql="SELECT no_such_col FROM {{ source('joshua_dataset','test_table') }}"),
        ModelSpec(name="rr_child", kind="table", database="datamart",
                  sql="SELECT * FROM {{ ref('rr_broken') }}"),
        replace=True,
    )
    engine.build(select=["rr_child"], fail_fast=False)
    rr2 = engine.run_results()
    by_name2 = {n["name"]: n for n in rr2["results"]}
    assert by_name2["rr_broken"]["status"] == "error"
    assert by_name2["rr_child"]["status"] == "skip-upstream"


def test_number_by_key_edge_ranges(spark):
    """Ordinal assignment must stay correct on hash-like key ranges
    spanning most of int64 (the overflow case double-space bucketing
    exists for), negative keys, and k > n."""
    import pytest as _pytest

    from dbt_bigquery_udf_spark.operators.spark_native import _number_by_key

    cases = [
        [0, 1, 2, 3, 4],  # dense
        [-(2**62), -5, 0, 7, 2**62, 2**62 + 9],  # near-full int64 span
        [-10, -3, -1],  # all negative
        [42],  # singleton, k > n
    ]
    for keys in cases:
        df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
        got = {
            r["doc_id"]: r["global_id"]
            for r in _number_by_key(df, "doc_id", k=8).collect()
        }
        expected = {k: i + 1 for i, k in enumerate(sorted(keys))}
        assert got == expected, (keys, got)
    # empty input -> empty output, stable schema
    empty = spark.createDataFrame([], "doc_id long")
    out = _number_by_key(empty, "doc_id", k=8)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["doc_id", "global_id"]


def test_baseline_materialization_targets(spark, sf_small):
    """BASELINE.md pins the only reference numbers that exist: a DDL
    materialization must beat BigQuery's 1.39s round-trip (target <=2s)
    and the full reference DAG must land in single-digit seconds at
    test scale. run_results carries the evidence."""
    import os

    # Wall-clock bounds flake on a loaded CI machine even when the code
    # is fine; SLACK widens them (SPARK_GRAFT_PERF_SLACK=0 disables the
    # timing assertions entirely while keeping the build/evidence check).
    slack = float(os.environ.get("SPARK_GRAFT_PERF_SLACK", "3"))
    engine = bootstrap(spark, sf_small, env="ci")
    engine.build()
    rr = engine.run_results()
    by_name = {n["name"]: n for n in rr["results"]}
    for udf_model in ("parse_datetime", "test_table_function"):
        t = by_name[udf_model]["execution_time"]
        assert t >= 0.0
        if slack:
            # BASELINE.md target: beat BQ's 1.39s DDL (<=2s steady-state)
            assert t <= 2.0 * slack, (udf_model, t)
    if slack:
        assert rr["elapsed"] <= 30.0 * slack, rr["elapsed"]


def test_number_by_key_size_derived_buckets(spark):
    """Round-3 scale fix: the bucket count is derived from the row
    count (floor at fixture scale, growing ~linearly past the
    per-bucket sort budget), the derived plan partitions by exactly
    that many buckets, and the ordinal output is k-invariant."""
    from dbt_bigquery_udf_spark.operators.spark_native import (
        _BUCKET_CAP,
        _BUCKET_FLOOR,
        _derive_bucket_count,
        _number_by_key,
    )

    # growth: fixture floor -> linear scaling -> cap
    assert _derive_bucket_count(10_000) == _BUCKET_FLOOR
    assert _derive_bucket_count(32_000_000 * 10) == 10
    assert _derive_bucket_count(32_000_000 * 100) == 100
    assert _derive_bucket_count(32_000_000 * 1000) == 1000  # ~1 PB of keys
    assert _derive_bucket_count(2**62) == _BUCKET_CAP
    # monotone in n (x10/x30 probe shape)
    ns = [10**6, 10**8, 3 * 10**9, 10**10, 3 * 10**10]
    ks = [_derive_bucket_count(n) for n in ns]
    assert ks == sorted(ks)

    # integration: with a tiny per-bucket budget the derived k shows up
    # as the result's partition count, and ordinals stay correct.
    df = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    out = _number_by_key(df, "doc_id", rows_per_bucket=2)
    assert out.rdd.getNumPartitions() == _BUCKET_FLOOR  # max(floor, 10/2)
    out2 = _number_by_key(df, "doc_id", rows_per_bucket=1)
    assert out2.rdd.getNumPartitions() == 10
    got = {r["doc_id"]: r["global_id"] for r in out2.collect()}
    assert got == {i: i + 1 for i in range(10)}


def test_alias_config_routes_physical_name(spark, sf_small, tmp_path):
    """dbt's `alias` config: the physical relation takes the alias while
    ref()/selection keep the model name — the versioned-filename /
    stable-table-name idiom."""
    from dbt_bigquery_udf_spark.api import prepared_engine
    from dbt_bigquery_udf_spark.models.core import ModelSpec

    engine = prepared_engine(spark, sf_small)
    spark.sql("DROP TABLE IF EXISTS datamart.orders_current")
    engine.register(
        ModelSpec(
            name="orders_v2",
            kind="table",
            database="datamart",
            dialect="spark",
            alias="orders_current",
            sql="SELECT 42 AS answer",
        ),
        ModelSpec(
            name="orders_reader",
            kind="table",
            database="datamart",
            dialect="spark",
            sql="SELECT answer + 1 AS downstream FROM {{ ref('orders_v2') }}",
        ),
        replace=True,
    )
    rels = engine.build(select=["orders_reader"], fail_fast=True)
    # physical = alias; registry/selection = model name
    assert rels["orders_v2"].qualified == "datamart.orders_current"
    assert spark.table("datamart.orders_current").first().answer == 42
    assert not spark.catalog.tableExists("datamart.orders_v2")
    assert spark.table("datamart.orders_reader").first().downstream == 43


def test_alias_reaches_python_ref_and_metrics(spark, sf_small):
    """Alias-aware resolution beyond SQL ref(): python-model ctx.ref()
    and metric compilation must read the PHYSICAL relation (round-3
    review fixes)."""
    from dbt_bigquery_udf_spark.api import prepared_engine
    from dbt_bigquery_udf_spark.models.core import ModelSpec
    from dbt_bigquery_udf_spark.models.metrics import Metric, MetricRegistry

    engine = prepared_engine(spark, sf_small)
    spark.sql("DROP TABLE IF EXISTS datamart.phys_target")
    engine.register(
        ModelSpec(name="logical_src", kind="table", database="datamart",
                  dialect="spark", alias="phys_target",
                  sql="SELECT 5 AS v UNION ALL SELECT 7 AS v"),
        ModelSpec(
            name="py_reader", kind="python", database="datamart", sql="",
            python_body=lambda spark_, ctx: ctx.ref("logical_src"),
            python_refs=("logical_src",),
        ),
        replace=True,
    )
    engine.build(select=["py_reader"], fail_fast=True)
    assert spark.table("datamart.py_reader").count() == 2
    reg = MetricRegistry(engine)
    reg.register(Metric(name="v_sum", model="logical_src", expression="sum(v)"))
    compiled = reg.compile("v_sum")
    assert "datamart.phys_target" in compiled
    assert spark.sql(compiled).first()[0] == 12


def test_near_dup_index_persistence(spark, sf_small):
    """The incremental near-dup gate's index is a real warehouse
    artifact: built once, appended once per admitted batch, and REUSED
    (never rebuilt/re-appended) on repeat builds; batch-2 verdicts are
    storage-backed and stable across invocations."""
    from pyspark.sql import functions as F

    from dbt_bigquery_udf_spark.operators import dedup as D
    from dbt_bigquery_udf_spark.operators import index_store

    db = D._near_index_db(sf_small)
    # catalog-only drop is not enough across processes (files would be
    # adopted, by design): clear the location too
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db}")
    index_store.clear_tables(spark, db, D._NEAR_IDX_TABLES)
    spark.sql(f"DROP DATABASE {db} CASCADE")
    assert D.build_near_dup_index(spark, sf_small) == "built"
    assert D.build_near_dup_index(spark, sf_small) == "reused"
    base_n = spark.table(f"{db}.sigs").count()

    assert D.admit_batch_to_index(spark, sf_small, D.INCR_IDX_BATCH1) == "admitted"
    n_after_1 = spark.table(f"{db}.sigs").count()
    assert n_after_1 >= base_n
    # idempotent: a re-run of the same batch admission appends nothing
    assert D.admit_batch_to_index(spark, sf_small, D.INCR_IDX_BATCH1) == "reused"
    assert spark.table(f"{db}.sigs").count() == n_after_1

    # the index holds ONLY base docs + admitted batch-1 docs
    mods = {
        r[0]
        for r in spark.table(f"{db}.sigs")
        .select((F.col("doc_id") % D.INCR_NEAR_MOD).alias("m"))
        .distinct()
        .collect()
    }
    assert D.INCR_IDX_BATCH2 not in mods

    # verdicts stable across two full builds of the gate query
    from dbt_bigquery_udf_spark.queries import QUERIES

    v1 = sorted(map(tuple, QUERIES["dedup_incr_near_indexed"](spark, sf_small).collect()))
    v2 = sorted(map(tuple, QUERIES["dedup_incr_near_indexed"](spark, sf_small).collect()))
    assert v1 == v2 and len(v1) > 0
    # bands table rows = N_BANDS per indexed doc (band layout invariant)
    assert spark.table(f"{db}.bands").count() == n_after_1 * D.N_BANDS

    # cross-SESSION reuse: wipe the catalog entries but keep the parquet
    # (what a fresh session sees) — the builder must ADOPT the persisted
    # artifact, not rebuild it
    import shutil

    loc = (
        spark.sql(f"DESCRIBE DATABASE {db}")
        .filter(F.col("info_name") == "Location")
        .first()["info_value"]
    ).removeprefix("file:")
    shutil.copytree(loc, loc + ".bak")
    spark.sql(f"DROP DATABASE {db} CASCADE")
    shutil.move(loc + ".bak", loc)
    assert D.build_near_dup_index(spark, sf_small) == "reused"
    assert spark.table(f"{db}.sigs").count() == n_after_1
    v3 = sorted(map(tuple, QUERIES["dedup_incr_near_indexed"](spark, sf_small).collect()))
    assert v3 == v1
    spark.sql(f"DROP DATABASE {db} CASCADE")  # leave no artifact behind


def test_exact_dup_index_ledger(spark, sf_small):
    """The exact-dedup admission log is an owned artifact: verdicts
    append exactly once per batch, re-runs replay the log (never
    re-score a batch against state containing its own hashes), and the
    hash table holds base + admitted hashes only."""
    from pyspark.sql import functions as F

    from dbt_bigquery_udf_spark.operators import dedup as D
    from dbt_bigquery_udf_spark.queries import QUERIES

    db = D._exact_index_db(sf_small)
    # start truly clean: a prior PROCESS's index files survive a
    # catalog-only drop and would be adopted (by design) — clear both
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db}")
    import shutil

    loc = (
        spark.sql(f"DESCRIBE DATABASE {db}")
        .filter(F.col("info_name") == "Location")
        .first()["info_value"]
    ).removeprefix("file:")
    spark.sql(f"DROP DATABASE {db} CASCADE")
    shutil.rmtree(loc, ignore_errors=True)
    assert D.build_exact_dup_index(spark, sf_small) == "built"
    assert D.build_exact_dup_index(spark, sf_small) == "reused"

    v1 = sorted(map(tuple, QUERIES["dedup_incr_exact_indexed"](spark, sf_small).collect()))
    n_hashes = spark.table(f"{db}.hashes").count()
    n_log = spark.table(f"{db}.verdicts").count()
    v2 = sorted(map(tuple, QUERIES["dedup_incr_exact_indexed"](spark, sf_small).collect()))
    assert v1 == v2 and len(v1) > 0
    # replay appended nothing: both state tables unchanged
    assert spark.table(f"{db}.hashes").count() == n_hashes
    assert spark.table(f"{db}.verdicts").count() == n_log
    # the ledger's write-ahead h column matches md5(text) per doc
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").select(
        "doc_id", F.md5("text").alias("dh")
    )
    mismatched = (
        spark.table(f"{db}.verdicts")
        .join(docs, "doc_id")
        .filter(~F.col("h").eqNullSafe(F.col("dh")))
    )
    assert mismatched.count() == 0
    # every admitted (non-dup) doc's hash is in the state table
    admitted = (
        spark.table(f"{db}.verdicts")
        .filter(~F.col("is_dup") & F.col("h").isNotNull())
        .select("h")
        .distinct()
    )
    missing = admitted.join(spark.table(f"{db}.hashes"), "h", "left_anti")
    assert missing.count() == 0
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_ivf_index_lifecycle(spark, sf_small):
    """The trained-IVF index is an owned artifact: built once, reused on
    repeat builds, every vector assigned to exactly one of the k
    centroids, and the serving query reads only the tables."""
    from pyspark.sql import functions as F

    from dbt_bigquery_udf_spark.operators import similarity as S
    from dbt_bigquery_udf_spark.queries import QUERIES

    db = S._ivf_index_db(sf_small)
    # clear catalog AND location (location adoption survives catalog drops)
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db}")
    import shutil

    loc = (
        spark.sql(f"DESCRIBE DATABASE {db}")
        .filter(F.col("info_name") == "Location")
        .first()["info_value"]
    ).removeprefix("file:")
    spark.sql(f"DROP DATABASE {db} CASCADE")
    shutil.rmtree(loc, ignore_errors=True)

    assert S.build_ivf_index(spark, sf_small) == "built"
    assert S.build_ivf_index(spark, sf_small) == "reused"
    n_vecs = spark.read.parquet(f"{sf_small}/embeddings.parquet").count()
    assert spark.table(f"{db}.assign").count() == n_vecs
    assert spark.table(f"{db}.centroids").count() == S.KMEANS_K
    cids = {r[0] for r in spark.table(f"{db}.assign").select("cid").distinct().collect()}
    assert cids <= set(range(S.KMEANS_K))

    v1 = sorted(map(tuple, QUERIES["sim_ivf_trained_indexed"](spark, sf_small).collect()))
    v2 = sorted(map(tuple, QUERIES["sim_ivf_trained_indexed"](spark, sf_small).collect()))
    assert v1 == v2 and len(v1) == 10
    spark.sql(f"DROP DATABASE {db} CASCADE")


def test_ivf_upsert_lifecycle(spark, sf_small):
    """Frozen-centroid upsert: base index trains on the owned split
    only; arriving vectors join via assignment against the STORED
    centroids (no retrain), idempotently; the served top-k includes
    upserted vectors."""
    from pyspark.sql import functions as F

    from dbt_bigquery_udf_spark.operators import similarity as S
    from dbt_bigquery_udf_spark.queries import QUERIES

    db = S._ivf_index_db(sf_small) + "_up"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db}")
    import shutil

    loc = (
        spark.sql(f"DESCRIBE DATABASE {db}")
        .filter(F.col("info_name") == "Location")
        .first()["info_value"]
    ).removeprefix("file:")
    spark.sql(f"DROP DATABASE {db} CASCADE")
    shutil.rmtree(loc, ignore_errors=True)

    assert S.build_ivf_base_index(spark, sf_small) == "built"
    n_base = spark.table(f"{db}.assign").count()
    cent_before = sorted(map(tuple, spark.table(f"{db}.centroids").collect()))
    assert S.upsert_ivf_vectors(spark, sf_small) == "upserted"
    n_all = spark.table(f"{db}.assign").count()
    assert n_all > n_base
    assert S.upsert_ivf_vectors(spark, sf_small) == "reused"
    assert spark.table(f"{db}.assign").count() == n_all
    # centroids FROZEN through the upsert
    assert sorted(map(tuple, spark.table(f"{db}.centroids").collect())) == cent_before
    # every vector is indexed exactly once
    n_vecs = spark.read.parquet(f"{sf_small}/embeddings.parquet").count()
    assert n_all == n_vecs
    v1 = sorted(map(tuple, QUERIES["sim_ivf_upsert"](spark, sf_small).collect()))
    v2 = sorted(map(tuple, QUERIES["sim_ivf_upsert"](spark, sf_small).collect()))
    assert v1 == v2 and len(v1) == 10
    spark.sql(f"DROP DATABASE {db} CASCADE")


def test_ivf_retrain_lifecycle(spark, sf_small):
    """Versioned rebuild-and-swap (the retrain the drift trigger calls
    for): v1 snapshots the frozen ``_up`` artifact and stays readable
    through and after the swap; the pointer flips only once v2 is
    complete; a lost or stale pointer recovers; repeat retrains reuse
    both versions."""
    import shutil

    from pyspark.sql import functions as F

    from dbt_bigquery_udf_spark.operators import similarity as S
    from dbt_bigquery_udf_spark.operators.index_store import (
        empty_table,
        staged_overwrite,
    )
    from dbt_bigquery_udf_spark.queries import QUERIES

    db = S._rt_db(sf_small)
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db}")
    loc = (
        spark.sql(f"DESCRIBE DATABASE {db}")
        .filter(F.col("info_name") == "Location")
        .first()["info_value"]
    ).removeprefix("file:")
    spark.sql(f"DROP DATABASE {db} CASCADE")
    shutil.rmtree(loc, ignore_errors=True)

    res = S.retrain_ivf_index(spark, sf_small)
    assert res["live"] == 2 and res["v2"] == "built"
    up = S._ivf_index_db(sf_small) + "_up"
    n_vecs = spark.read.parquet(f"{sf_small}/embeddings.parquet").count()
    # old version intact and readable AFTER the swap, and identical to
    # the frozen artifact it snapshotted
    assert spark.table(f"{db}.assign_v1").count() == n_vecs
    assert spark.table(f"{db}.assign_v2").count() == n_vecs
    assert sorted(
        map(tuple, spark.table(f"{db}.centroids_v1").collect())
    ) == sorted(map(tuple, spark.table(f"{up}.centroids").collect()))
    # repeat retrain: everything reused, pointer stays at 2
    assert S.retrain_ivf_index(spark, sf_small) == {
        "v1": "reused",
        "v2": "reused",
        "live": 2,
    }
    # served results are deterministic and read the retrained version
    r1 = sorted(map(tuple, QUERIES["sim_ivf_retrain"](spark, sf_small).collect()))
    r2 = sorted(map(tuple, QUERIES["sim_ivf_retrain"](spark, sf_small).collect()))
    assert r1 == r2 and len(r1) == 10
    # an EMPTY pointer -> readers resolve to the highest complete
    # version, retrain repairs (the staged pointer commit leaves the
    # table EXTERNAL, which TRUNCATE rejects: empty it in place)
    empty_table(spark, db, "live_version")
    assert S._rt_live_version(spark, db) == 2
    S.retrain_ivf_index(spark, sf_small)
    assert [int(r["version"]) for r in spark.table(f"{db}.live_version").collect()] == [2]
    # crash-window recovery 2: crash BEFORE the pointer bump (pointer
    # still v1, v2 fully built) -> v1 serves until the next retrain
    # call completes the swap idempotently
    staged_overwrite(
        spark, db, "live_version", spark.createDataFrame([(1,)], "version int")
    )
    assert S._rt_live_version(spark, db) == 1
    S.retrain_ivf_index(spark, sf_small)
    assert S._rt_live_version(spark, db) == 2
    spark.sql(f"DROP DATABASE {db} CASCADE")


def test_ivf_version_gc_epoch_cycle(spark, sf_small):
    """gc_ivf_versions completes the retrain cycle: v2 is promoted into
    the v1 slot, the pointer resets, and the NEXT retrain epoch
    refreshes off the promoted centroids. Every crash remnant
    (pointer=2 with v2 dropped) repairs; a dedicated db keeps the
    registered query's epoch-1 determinism untouched."""
    from dbt_bigquery_udf_spark.operators import similarity as S
    from dbt_bigquery_udf_spark.operators.index_store import staged_overwrite

    db = S._rt_db(sf_small) + "_gc"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    import shutil

    from pyspark.sql import functions as F

    spark.sql(f"CREATE DATABASE {db}")
    loc = (
        spark.sql(f"DESCRIBE DATABASE {db}")
        .filter(F.col("info_name") == "Location")
        .first()["info_value"]
    ).removeprefix("file:")
    spark.sql(f"DROP DATABASE {db} CASCADE")
    shutil.rmtree(loc, ignore_errors=True)

    # noop before any retrain
    assert S.gc_ivf_versions(spark, sf_small, db=db)["gc"] == "noop"
    res = S.retrain_ivf_index(spark, sf_small, db=db)
    assert res["live"] == 2
    v2_cents = sorted(
        map(tuple, spark.table(f"{db}.centroids_v2").collect())
    )
    assert S.gc_ivf_versions(spark, sf_small, db=db) == {"gc": "promoted"}
    # promoted: v1 now holds v2's data, v2 gone, pointer back to 1
    assert sorted(
        map(tuple, spark.table(f"{db}.centroids_v1").collect())
    ) == v2_cents
    assert not spark.catalog.tableExists(f"{db}.centroids_v2")
    assert S._rt_live_version(spark, db) == 1
    # idempotent
    assert S.gc_ivf_versions(spark, sf_small, db=db)["gc"] == "noop"
    # crash remnant: pointer says 2 but v2 is gone -> resolver falls
    # back to the promoted v1; gc repairs the pointer
    staged_overwrite(
        spark, db, "live_version", spark.createDataFrame([(2,)], "version int")
    )
    assert S._rt_live_version(spark, db) == 1
    assert S.gc_ivf_versions(spark, sf_small, db=db) == {"gc": "repaired"}
    assert S._rt_live_version(spark, db) == 1
    # epoch 2: the next retrain refreshes off the PROMOTED centroids —
    # v2 reappears and differs from the (already-refreshed) v1 only if
    # a second refresh moves any centroid; either way the swap lands
    res2 = S.retrain_ivf_index(spark, sf_small, db=db)
    assert res2["v2"] == "built" and res2["live"] == 2
    assert spark.catalog.tableExists(f"{db}.centroids_v2")
    spark.sql(f"DROP DATABASE {db} CASCADE")


def test_near_dup_index_compaction(spark, sf_small):
    """Compaction folds the delta overlay into the base and empties it;
    scoring against (base, delta) before == scoring against base alone
    after — compaction is invisible to queries."""
    from pyspark.sql import functions as F

    from dbt_bigquery_udf_spark.operators import dedup as D
    from dbt_bigquery_udf_spark.operators.index_store import fold_delta
    from dbt_bigquery_udf_spark.queries import QUERIES

    # run the streaming gate once to populate base + delta
    QUERIES["stream_near_dup_admission"](spark, sf_small).count()
    base = D._near_index_db(sf_small) + "_sbase"
    delta = D._near_index_db(sf_small) + "_sdelta"
    n_delta = spark.table(f"{delta}.sigs").count()
    assert n_delta > 0
    n_base = spark.table(f"{base}.sigs").count()

    # a fresh batch scored against the layered index, pre-compaction
    batch = D._docs(spark, sf_small).filter(
        F.col("doc_id") % D.INCR_NEAR_MOD == D.INCR_IDX_BATCH2
    )
    before = sorted(
        map(
            tuple,
            D._score_batch_vs_index(
                spark, (base, delta), D._doc_signatures(batch)
            ).collect(),
        )
    )
    moved = fold_delta(spark, base, delta, D._NEAR_IDX_TABLES)
    assert moved["sigs"] == n_delta
    assert spark.table(f"{delta}.sigs").count() == 0
    assert spark.table(f"{base}.sigs").count() == n_base + n_delta
    after = sorted(
        map(
            tuple,
            D._score_batch_vs_index(
                spark, base, D._doc_signatures(batch)
            ).collect(),
        )
    )
    assert before == after
    # idempotent: compacting an empty delta moves nothing
    assert fold_delta(spark, base, delta, D._NEAR_IDX_TABLES)["sigs"] == 0
    # leave the stream's state consistent for other tests: the gate
    # rebuilds its delta per invocation anyway, but drop the mutated
    # base so the next invocation rebuilds it cleanly
    spark.sql(f"DROP DATABASE {base} CASCADE")
    spark.sql(f"DROP DATABASE {delta} CASCADE")


def test_near_dup_auto_compaction_policy(spark, sf_small):
    """The size-ratio trigger (compact when |delta| >= ratio * |base|)
    fires MID-STREAM from inside the admission loop, and folding is
    invisible to the verdicts: a two-batch run with auto-compaction
    tripping between the batches produces the same admissions as an
    uncompacted control."""
    from pyspark.sql import functions as F

    from dbt_bigquery_udf_spark.operators import dedup as D
    from dbt_bigquery_udf_spark.operators.index_store import maybe_fold_delta

    def _mk_pair(tag):
        base = D._near_index_db(sf_small) + tag
        delta = base + "d"
        for db in (base, delta):
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        D.build_near_dup_index(spark, sf_small, db=base)
        spark.sql(f"CREATE DATABASE {delta}")
        spark.createDataFrame(
            [], "doc_id bigint, hs array<bigint>"
        ).write.format("parquet").saveAsTable(f"{delta}.sigs")
        spark.createDataFrame(
            [], "doc_id bigint, band int, key string"
        ).write.format("parquet").saveAsTable(f"{delta}.bands")
        return base, delta

    def _batch(mod):
        return D._docs(spark, sf_small).filter(
            F.col("doc_id") % D.INCR_NEAR_MOD == mod
        )

    def _verdicts(df):
        return sorted(map(tuple, df.collect()))

    # control: no auto-compaction — the delta accumulates both batches
    cb, cd = _mk_pair("_acc")
    ctl0 = _verdicts(
        D._admit_batch_df(spark, (cb, cd), _batch(D.INCR_IDX_BATCH1), write_db=cd)
    )
    ctl1 = _verdicts(
        D._admit_batch_df(spark, (cb, cd), _batch(D.INCR_IDX_BATCH2), write_db=cd)
    )
    assert spark.table(f"{cd}.sigs").count() > 0

    # auto: a low ratio trips the fold right after batch 1's append
    ab, ad = _mk_pair("_aca")
    n_base0 = spark.table(f"{ab}.sigs").count()
    auto0 = _verdicts(
        D._admit_batch_df(
            spark,
            (ab, ad),
            _batch(D.INCR_IDX_BATCH1),
            write_db=ad,
            auto_compact_ratio=0.01,
        )
    )
    # trigger fired mid-stream: delta folded into base, overlay empty
    assert spark.table(f"{ad}.sigs").count() == 0
    assert spark.table(f"{ab}.sigs").count() > n_base0
    auto1 = _verdicts(
        D._admit_batch_df(
            spark,
            (ab, ad),
            _batch(D.INCR_IDX_BATCH2),
            write_db=ad,
            auto_compact_ratio=0.01,
        )
    )
    assert auto0 == ctl0 and auto1 == ctl1

    # a ratio the overlay never reaches must never fire
    hb, hd = _mk_pair("_ach")
    D._admit_batch_df(
        spark,
        (hb, hd),
        _batch(D.INCR_IDX_BATCH1),
        write_db=hd,
        auto_compact_ratio=10.0,
    )
    assert spark.table(f"{hd}.sigs").count() > 0
    assert maybe_fold_delta(spark, hb, hd, D._NEAR_IDX_TABLES, ratio=10.0) is None

    for db in (cb, cd, ab, ad, hb, hd):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_exact_auto_compaction_and_duplicate_tolerance(spark, sf_small):
    """The exact gate's LSM sibling: the size-ratio trigger folds the
    delta hash overlay into the base mid-stream with verdicts identical
    to an uncompacted control; and the probe is DUPLICATE-TOLERANT —
    a hash sitting in BOTH layers (state written outside the admission
    protocol) still yields one verdict row per doc with unchanged
    values, before and after a fold, and the fold preserves the
    base ∪ delta multiset."""
    from pyspark.sql import functions as F

    from dbt_bigquery_udf_spark.operators import dedup as D
    from dbt_bigquery_udf_spark.operators.index_store import (
        fold_delta,
        reset_scratch,
    )

    def _mk_pair(tag):
        base = D._exact_index_db(sf_small) + tag
        delta = base + "d"
        for db in (base, delta):
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        D.build_exact_dup_index(spark, sf_small, db=base)
        spark.sql(f"CREATE DATABASE {delta}")
        spark.createDataFrame([], "h string").write.format(
            "parquet"
        ).saveAsTable(f"{delta}.hashes")
        return base, delta

    def _batch(mod):
        return D._docs(spark, sf_small).filter(
            F.col("doc_id") % D.INCR_NEAR_MOD == mod
        )

    def _verdicts(df):
        return sorted(map(tuple, df.collect()))

    # control: no folding
    cb, cd = _mk_pair("_xacc")
    ctl0 = _verdicts(
        D._admit_exact_batch_df(spark, (cb, cd), _batch(D.INCR_IDX_BATCH1), cd)
    )
    ctl1 = _verdicts(
        D._admit_exact_batch_df(spark, (cb, cd), _batch(D.INCR_IDX_BATCH2), cd)
    )

    # auto: trigger fires after batch 1's append, overlay folds to base
    ab, ad = _mk_pair("_xaca")
    n_base0 = spark.table(f"{ab}.hashes").count()
    auto0 = _verdicts(
        D._admit_exact_batch_df(
            spark, (ab, ad), _batch(D.INCR_IDX_BATCH1), ad,
            auto_compact_ratio=0.01,
        )
    )
    assert spark.table(f"{ad}.hashes").count() == 0
    assert spark.table(f"{ab}.hashes").count() > n_base0
    auto1 = _verdicts(
        D._admit_exact_batch_df(
            spark, (ab, ad), _batch(D.INCR_IDX_BATCH2), ad,
            auto_compact_ratio=0.01,
        )
    )
    assert auto0 == ctl0 and auto1 == ctl1

    # duplicate tolerance: batch 1 admitted and folded, then its
    # hashes written into the delta again, so every one of them now
    # exists in BOTH layers
    db_b, db_d = _mk_pair("_xdup")
    D._admit_exact_batch_df(spark, (db_b, db_d), _batch(D.INCR_IDX_BATCH1), db_d)
    fold_delta(spark, db_b, db_d, ("hashes",))
    folded = (
        D._docs(spark, sf_small)
        .filter(F.col("doc_id") % D.INCR_NEAR_MOD == D.INCR_IDX_BATCH1)
        .select(F.md5("text").alias("h"))
        .distinct()
        .join(spark.table(f"{db_b}.hashes"), "h", "left_semi")
    )
    folded.write.format("parquet").mode("append").saveAsTable(
        f"{db_d}.hashes"
    )
    spark.catalog.refreshTable(f"{db_d}.hashes")
    side = db_b + "p"

    def _probe_b2():
        # batch 2's new hashes go to a side table, so the layered state
        # under test stays exactly the duplicated one
        reset_scratch(spark, side, {"hashes": "h string"})
        return _verdicts(
            D._admit_exact_batch_df(
                spark, (db_b, db_d), _batch(D.INCR_IDX_BATCH2), side
            )
        )

    def _state():
        return sorted(
            r.h for db in (db_b, db_d) for r in spark.table(f"{db}.hashes").collect()
        )

    # same one-row-per-doc verdicts despite the duplicated state
    assert _probe_b2() == ctl1
    before = _state()
    fold_delta(spark, db_b, db_d, ("hashes",))
    assert spark.table(f"{db_d}.hashes").count() == 0
    assert _state() == before  # the fold preserves base ∪ delta
    assert _probe_b2() == ctl1  # and the verdicts re-probed after it

    for db in (cb, cd, ab, ad, db_b, db_d, side):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_auto_compacted_queries_fold_mid_run(spark, sf_small):
    """The registered auto-compacted gates don't just match their
    oracles — the fold must actually FIRE: after a run, the delta
    overlay is empty and the dedicated base holds the folded batch
    rows (which the next run's pollution probe detects and resets)."""
    from pyspark.sql import functions as F

    from dbt_bigquery_udf_spark.operators import dedup as D
    from dbt_bigquery_udf_spark.queries import QUERIES

    QUERIES["dedup_near_auto_compacted"](spark, sf_small).count()
    nb = D._near_index_db(sf_small) + "_ac"
    assert spark.table(f"{nb}d.sigs").count() == 0
    assert (
        spark.table(f"{nb}.sigs")
        .filter(F.col("doc_id") % D.INCR_NEAR_MOD < D.INCR_IDX_BASE_MOD)
        .count()
        > 0
    )
    QUERIES["dedup_exact_auto_compacted"](spark, sf_small).count()
    xb = D._exact_index_db(sf_small) + "_ac"
    assert spark.table(f"{xb}d.hashes").count() == 0
    n_owned = (
        D._docs(spark, sf_small)
        .filter(F.col("doc_id") % D.INCR_NEAR_MOD >= D.INCR_IDX_BASE_MOD)
        .select(F.md5("text"))
        .distinct()
        .count()
    )
    assert spark.table(f"{xb}.hashes").count() > n_owned

    # cross-session pollution (the round-9 fresh-warehouse bug): wipe
    # the catalog entries but keep the polluted parquet — a fresh
    # session ADOPTS those files, so the probe must fire after the
    # adopt, depollute, and reproduce the exact same verdicts
    first_near = sorted(
        map(tuple, QUERIES["dedup_near_auto_compacted"](spark, sf_small).collect())
    )
    first_exact = sorted(
        map(tuple, QUERIES["dedup_exact_auto_compacted"](spark, sf_small).collect())
    )
    for db in (nb, nb + "d", xb, xb + "d"):
        _wipe_catalog_keep_files(spark, db)
    again_near = sorted(
        map(tuple, QUERIES["dedup_near_auto_compacted"](spark, sf_small).collect())
    )
    again_exact = sorted(
        map(tuple, QUERIES["dedup_exact_auto_compacted"](spark, sf_small).collect())
    )
    assert again_near == first_near
    assert again_exact == first_exact
    for db in (nb, nb + "d", xb, xb + "d"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def _wipe_catalog_keep_files(spark, db):
    """Simulate a FRESH SESSION over a WARM WAREHOUSE: remove every
    catalog entry for ``db`` but leave its parquet on disk — exactly
    what a new process sees over a previous process's index artifact."""
    import shutil

    from pyspark.sql import functions as F

    loc = (
        spark.sql(f"DESCRIBE DATABASE {db}")
        .filter(F.col("info_name") == "Location")
        .first()["info_value"]
    ).removeprefix("file:")
    shutil.copytree(loc, loc + ".bak")
    spark.sql(f"DROP DATABASE {db} CASCADE")
    shutil.move(loc + ".bak", loc)


def _drop_index_db(spark, db):
    """Full reset: catalog AND location (files survive a catalog-only
    drop and would be adopted, by design)."""
    import shutil

    from pyspark.sql import functions as F

    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    loc = (
        spark.sql(f"DESCRIBE DATABASE {db}")
        .filter(F.col("info_name") == "Location")
        .first()["info_value"]
    ).removeprefix("file:")
    spark.sql(f"DROP DATABASE {db} CASCADE")
    shutil.rmtree(loc, ignore_errors=True)


@pytest.mark.parametrize(
    "which",
    [
        "near",
        "stream_layers",
        "exact",
        "exact_stream",
        "ivf",
        "ivf_up",
        "forget",
        "ivf_forget",
        "exact_forget",
        "ivf_stream",
        "ivf_rt",
        "forget_stream",
        "exact_forget_stream",
        "ivf_forget_stream",
    ],
)
def test_persisted_index_warm_warehouse_cycle(spark, sf_small, which):
    """Fresh-catalog/warm-warehouse cycle for EVERY persisted artifact
    (VERDICT r7 #2): populate via the public operator, wipe the catalog
    entries while keeping the parquet (what a brand-new session sees),
    and verify the bootstrap ADOPTS the files — instead of crashing
    with LOCATION_ALREADY_EXISTS (the round-7 driver-bench killer) or
    silently rebuilding — and that the served results are unchanged.
    Families with a fold then wipe the catalog once more and fold: the
    fold must adopt the tombstones or delta it finds on disk, fold all
    of them, and leave them empty (EXTERNAL tables reject TRUNCATE)."""
    import os

    from dbt_bigquery_udf_spark.operators import dedup as D
    from dbt_bigquery_udf_spark.operators import similarity as S
    from dbt_bigquery_udf_spark.operators.index_store import (
        db_location,
        fold_delta,
        fold_tombstones,
    )
    from dbt_bigquery_udf_spark.queries import QUERIES

    if which == "near":
        dbs = [D._near_index_db(sf_small)]
        query, reuse = "dedup_incr_near_indexed", (
            lambda: D.build_near_dup_index(spark, sf_small)
        )
    elif which == "stream_layers":
        dbs = [
            D._near_index_db(sf_small) + "_sbase",
            D._near_index_db(sf_small) + "_sdelta",
        ]
        query, reuse = "stream_near_dup_admission", (
            lambda: D.build_near_dup_index(spark, sf_small, db=dbs[0])
        )
    elif which == "exact":
        dbs = [D._exact_index_db(sf_small)]
        query, reuse = "dedup_incr_exact_indexed", (
            lambda: D.build_exact_dup_index(spark, sf_small)
        )
    elif which == "exact_stream":
        dbs = [
            D._exact_index_db(sf_small) + "_sbase",
            D._exact_index_db(sf_small) + "_sdelta",
        ]
        query, reuse = "stream_exact_admission", (
            lambda: D.build_exact_dup_index(spark, sf_small, db=dbs[0])
        )
    elif which == "forget":
        # the erasure index: bands/sigs adopt like the shared near-dup
        # artifact, and the TOMBSTONES table adopts through the same
        # shared bootstrap inside index_store.forget
        dbs = [D._near_index_db(sf_small) + "_fg"]
        query, reuse = "dedup_index_forget", (
            lambda: D.build_near_dup_index(spark, sf_small, db=dbs[0])
        )
    elif which == "ivf_forget":
        dbs = [S._ivf_index_db(sf_small) + "_fg"]
        query, reuse = "sim_ivf_forget", (
            lambda: S.build_ivf_index(spark, sf_small, db=dbs[0])
        )
    elif which == "ivf_stream":
        dbs = [
            S._ivf_index_db(sf_small) + "_svb",
            S._ivf_index_db(sf_small) + "_svd",
        ]
        query, reuse = "stream_ivf_admission", (
            lambda: S.build_ivf_base_index(spark, sf_small, db=dbs[0])
        )
    elif which == "exact_forget":
        # doc_hashes + tombstones both adopt through the shared
        # bootstrap; 'reused' is asserted via a no-op ensure_tables of
        # the doc_hashes group (the query's own bootstrap path)
        from dbt_bigquery_udf_spark.operators.index_store import ensure_tables

        dbs = [D._exact_index_db(sf_small) + "_fg"]
        query, reuse = "dedup_exact_forget", (
            lambda: ensure_tables(
                spark,
                dbs[0],
                ("doc_hashes",),
                lambda: (_ for _ in ()).throw(
                    AssertionError("adopt path must not rebuild")
                ),
                expect={"doc_hashes": ("doc_id", "h")},
            )
        )
    elif which == "ivf":
        dbs = [S._ivf_index_db(sf_small)]
        query, reuse = "sim_ivf_trained_indexed", (
            lambda: S.build_ivf_index(spark, sf_small)
        )
    elif which == "forget_stream":
        # streaming erasure: the _fgs base adopts via the shared
        # bootstrap; the tombstone set is per-run stream state (reset
        # then re-appended to the same content, so counts hold)
        dbs = [D._near_index_db(sf_small) + "_fgs"]
        query, reuse = "stream_near_dup_forget", (
            lambda: D.build_near_dup_index(spark, sf_small, db=dbs[0])
        )
    elif which == "exact_forget_stream":
        # streaming erasure, exact family (VERDICT r9 #6: all six
        # streaming gates ride this cross-session cycle): the _fgx
        # doc-hash state adopts via the shared bootstrap
        from dbt_bigquery_udf_spark.operators.index_store import ensure_tables

        dbs = [D._exact_index_db(sf_small) + "_fgx"]
        query, reuse = "stream_exact_forget", (
            lambda: ensure_tables(
                spark,
                dbs[0],
                ("doc_hashes",),
                lambda: (_ for _ in ()).throw(
                    AssertionError("adopt path must not rebuild")
                ),
                expect={"doc_hashes": ("doc_id", "h")},
            )
        )
    elif which == "ivf_forget_stream":
        # streaming erasure, vector family: the _fgs trained index
        # adopts via the shared bootstrap; tombstones reset per run
        dbs = [S._ivf_index_db(sf_small) + "_fgs"]
        query, reuse = "stream_ivf_forget", (
            lambda: S.build_ivf_index(spark, sf_small, db=dbs[0])
        )
    elif which == "ivf_rt":
        # the versioned retrain db: BOTH version groups and the pointer
        # must adopt; "reused" is the v2 group's bootstrap result
        dbs = [S._rt_db(sf_small)]
        query, reuse = "sim_ivf_retrain", (
            lambda: S.retrain_ivf_index(spark, sf_small)["v2"]
        )
    else:
        dbs = [S._ivf_index_db(sf_small) + "_up"]
        query, reuse = "sim_ivf_upsert", (
            lambda: S.build_ivf_base_index(spark, sf_small)
        )

    for db in dbs:
        _drop_index_db(spark, db)
    v_clean = sorted(map(tuple, QUERIES[query](spark, sf_small).collect()))
    assert len(v_clean) > 0
    counts = {
        f"{db}.{t.name}": spark.table(f"{db}.{t.name}").count()
        for db in dbs
        for t in spark.catalog.listTables(db)
        if not t.isTemporary  # listTables also returns session temp views
        and (t.name != "sigs" or "sdelta" not in db)  # delta resets per run
    }
    for db in dbs:
        _wipe_catalog_keep_files(spark, db)
    # the bootstrap must ADOPT (round 7's bare saveAsTable died with
    # LOCATION_ALREADY_EXISTS right here)
    assert reuse() == "reused"
    v_warm = sorted(map(tuple, QUERIES[query](spark, sf_small).collect()))
    if which in ("stream_layers", "exact_stream"):
        # stream verdict batch numbering restarts per run; compare the
        # per-doc verdicts, not the monotonically growing batch ids
        key = lambda rows: sorted(r[1:] for r in rows)  # noqa: E731
        assert key(v_warm) == key(v_clean)
    else:
        assert v_warm == v_clean
    # replay appended nothing: every persisted table is unchanged
    for name, n in counts.items():
        assert spark.table(name).count() == n, name

    # the family's fold over a warm warehouse: (db, tables) whose rows
    # on disk it must fold, and the fold itself
    folds = {
        "forget": (dbs[0], ("tombstones",), lambda: fold_tombstones(
            spark, dbs[0], D._NEAR_IDX_TABLES, "doc_id")),
        "exact_forget": (dbs[0], ("tombstones",), lambda: fold_tombstones(
            spark, dbs[0], ("doc_hashes",), "doc_id")),
        "ivf_forget": (dbs[0], ("tombstones",), lambda: fold_tombstones(
            spark, dbs[0], ("assign",), "vec_id")),
        "stream_layers": (dbs[-1], D._NEAR_IDX_TABLES, lambda: fold_delta(
            spark, dbs[0], dbs[1], D._NEAR_IDX_TABLES)),
    }
    if which in folds:
        db, tables, fold = folds[which]
        path = db_location(spark, db).removeprefix("file:")
        on_disk = {
            t: spark.read.parquet(os.path.join(path, t)).count() for t in tables
        }
        assert all(on_disk.values()), on_disk
        for d in dbs:
            _wipe_catalog_keep_files(spark, d)
        folded = fold()
        if which == "stream_layers":
            assert folded == on_disk
        else:
            assert folded == on_disk["tombstones"]
        for t in tables:
            assert spark.table(f"{db}.{t}").count() == 0, t
    for db in dbs:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_maybe_retrain_ivf_policy_branches(spark, sf_small):
    """VERDICT r9 #5: the policy gate proves BOTH branches — below the
    churn threshold the retrain is a no-op (v1 keeps serving, no v2
    materialized, repeat calls idempotent); at/above it the versioned
    rebuild-and-swap executes and the pointer lands on 2. The decision
    input (global churn) is identical across calls."""
    from dbt_bigquery_udf_spark.operators import similarity as S

    db = S._ivf_index_db(sf_small) + "_polt"
    _drop_index_db(spark, db)
    d1 = S.maybe_retrain_ivf(spark, sf_small, db=db, threshold=2.0)
    assert d1["decision"] == "skip" and d1["live"] == 1
    assert not spark.catalog.tableExists(f"{db}.centroids_v2")
    v1_rows = sorted(map(tuple, spark.table(f"{db}.assign_v1").collect()))
    d1b = S.maybe_retrain_ivf(spark, sf_small, db=db, threshold=2.0)
    assert d1b["decision"] == "skip" and d1b["live"] == 1
    assert (
        sorted(map(tuple, spark.table(f"{db}.assign_v1").collect())) == v1_rows
    )
    d2 = S.maybe_retrain_ivf(spark, sf_small, db=db, threshold=0.0)
    assert d2["decision"] == "retrain" and d2["live"] == 2
    assert spark.catalog.tableExists(f"{db}.centroids_v2")
    assert S._rt_live_version(spark, db) == 2
    # the drift measurement is deterministic across the three calls
    assert d1["churn_frac"] == d1b["churn_frac"] == d2["churn_frac"]
    spark.sql(f"DROP DATABASE {db} CASCADE")


def test_recover_staged_partial_stage_not_adopted(spark, tmp_path):
    """ADVICE r9 #1: an orphaned ``__staged`` dir WITHOUT the _SUCCESS
    marker is a crash-during-stage-write remnant — the live table is
    still the complete source of truth, so recovery must CLEAR the
    partial stage and leave the live table untouched (replaying it
    would lose every kept row the incomplete write missed). A complete
    orphan stage (_SUCCESS present) still replays."""
    import os
    import shutil

    from dbt_bigquery_udf_spark.operators.index_store import (
        db_location,
        recover_staged,
    )

    db = "t_recstage_db"
    _drop_index_db(spark, db)
    spark.sql(f"CREATE DATABASE {db}")
    spark.createDataFrame(
        [(i,) for i in range(10)], "id int"
    ).write.format("parquet").saveAsTable(f"{db}.live")
    path = db_location(spark, db).removeprefix("file:")
    # crash DURING the stage write: part-file present, NO _SUCCESS
    scratch = str(tmp_path / "partial_src")
    spark.createDataFrame([(99,)], "id int").write.parquet(scratch)
    sdir = os.path.join(path, "live__staged")
    os.makedirs(sdir)
    for f in os.listdir(scratch):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(scratch, f), os.path.join(sdir, f))
    assert not os.path.isfile(os.path.join(sdir, "_SUCCESS"))
    assert recover_staged(spark, db, ("live",)) == []
    assert spark.table(f"{db}.live").count() == 10  # live untouched
    assert not os.path.isdir(sdir)  # stale partial stage cleared
    # a COMPLETE orphan stage (job-committed: _SUCCESS present) replays
    spark.createDataFrame([(42,)], "id int").write.parquet(sdir)
    assert os.path.isfile(os.path.join(sdir, "_SUCCESS"))
    assert recover_staged(spark, db, ("live",)) == ["live"]
    assert [r.id for r in spark.table(f"{db}.live").collect()] == [42]
    spark.sql(f"DROP DATABASE {db} CASCADE")


def test_rt_pointer_bump_on_adopted_external_table(spark, sf_small):
    """ADVICE r9 #2: completing the retrain swap from a FRESH session —
    the _rt database adopted through ``ensure_tables`` registers
    ``live_version`` as EXTERNAL, where a bare
    ``mode('overwrite').saveAsTable`` dies with
    LOCATION_ALREADY_EXISTS (drop keeps the files, managed re-create
    collides). The pointer's staged commit must succeed and the crash
    window (pointer says 1, v2 complete) must finish the swap."""
    from dbt_bigquery_udf_spark.operators import similarity as S
    from dbt_bigquery_udf_spark.operators.index_store import staged_overwrite

    db = S._rt_db(sf_small)
    _drop_index_db(spark, db)
    out = S.retrain_ivf_index(spark, sf_small)
    assert out["live"] == 2
    # rewind the pointer to 1 (the pre-swap crash state: v2 committed,
    # bump never ran), then simulate the fresh session
    staged_overwrite(
        spark, db, "live_version", spark.createDataFrame([(1,)], "version int")
    )
    _wipe_catalog_keep_files(spark, db)
    # the retrain entry point re-adopts everything EXTERNAL and must
    # complete the swap through the adopted pointer table
    out2 = S.retrain_ivf_index(spark, sf_small)
    assert out2 == {"v1": "reused", "v2": "reused", "live": 2}
    spark.sql(f"DROP DATABASE {db} CASCADE")


def test_exact_ledger_crash_repair(spark, sf_small):
    """ADVICE r7 (crash-safety): the verdicts ledger is the write-ahead
    record — if a crash loses the hashes append (simulated here by
    resetting the state table to base-only AFTER a full run), the next
    invocation repairs the state table from the ledger instead of
    leaving it permanently missing the admitted batches' hashes."""
    from pyspark.sql import functions as F

    from dbt_bigquery_udf_spark.operators import dedup as D
    from dbt_bigquery_udf_spark.queries import QUERIES

    db = D._exact_index_db(sf_small)
    _drop_index_db(spark, db)
    v_clean = sorted(
        map(tuple, QUERIES["dedup_incr_exact_indexed"](spark, sf_small).collect())
    )
    n_full = spark.table(f"{db}.hashes").count()
    # simulate the lost appends: state table back to the base build only
    base = (
        spark.read.parquet(f"{sf_small}/documents.parquet")
        .filter(F.col("doc_id") % D.INCR_NEAR_MOD >= D.INCR_IDX_BASE_MOD)
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    n_base = base.count()
    assert n_base < n_full  # the admissions really appended something
    base.write.format("parquet").mode("overwrite").saveAsTable(f"{db}.hashes")
    spark.catalog.refreshTable(f"{db}.hashes")
    # replay: done-markers say both batches admitted -> ledger->hashes
    # projection must repair the state table, verdicts unchanged
    v_replay = sorted(
        map(tuple, QUERIES["dedup_incr_exact_indexed"](spark, sf_small).collect())
    )
    assert v_replay == v_clean
    assert spark.table(f"{db}.hashes").count() == n_full
    spark.sql(f"DROP DATABASE {db} CASCADE")


def test_near_dup_index_forget_lifecycle(spark, sf_small):
    """Targeted erasure (round 8): tombstoned docs disappear from
    scoring immediately, re-forgetting is idempotent (zero new rows),
    and compaction folds tombstones into a base rewrite without
    changing any verdict (readers anti-join tombstones throughout, so
    the fold is invisible — the Iceberg delete-file lifecycle)."""
    from pyspark.sql import functions as F

    from dbt_bigquery_udf_spark.operators import dedup as D
    from dbt_bigquery_udf_spark.queries import QUERIES

    from dbt_bigquery_udf_spark.operators.index_store import (
        fold_tombstones,
        forget,
        read_live,
    )

    db = D._near_index_db(sf_small) + "_fg"
    _drop_index_db(spark, db)
    verdicts = sorted(
        map(tuple, QUERIES["dedup_index_forget"](spark, sf_small).collect())
    )
    # the erased slice is really gone from the index relations
    erased = (
        spark.read.parquet(f"{sf_small}/documents.parquet")
        .filter(F.col("doc_id") % D.INCR_NEAR_MOD == D.INCR_IDX_FORGET)
        .count()
    )
    assert erased > 0
    bands, sigs = read_live(spark, db, ("bands", "sigs"), "doc_id")
    assert (
        sigs.filter(F.col("doc_id") % D.INCR_NEAR_MOD == D.INCR_IDX_FORGET)
        .count()
        == 0
    )
    # no verdict may name an erased doc as its match
    assert not any(
        m is not None and m % D.INCR_NEAR_MOD == D.INCR_IDX_FORGET
        for _, m, _, _ in verdicts
    )
    # idempotent: replaying the same forget set appends nothing
    ids = (
        spark.read.parquet(f"{sf_small}/documents.parquet")
        .filter(F.col("doc_id") % D.INCR_NEAR_MOD == D.INCR_IDX_FORGET)
        .select("doc_id")
    )
    assert forget(spark, db, "doc_id", ids) == 0
    n_sigs_before = spark.table(f"{db}.sigs").count()
    # raw-table rows for the erased slice (unsignaturable docs never had
    # a sigs row, so the physical shrink is bounded by this, not erased)
    n_erased_sig_rows = (
        spark.table(f"{db}.sigs")
        .filter(F.col("doc_id") % D.INCR_NEAR_MOD == D.INCR_IDX_FORGET)
        .count()
    )
    # compaction folds the tombstones: physical rows drop, verdicts don't
    assert fold_tombstones(spark, db, D._NEAR_IDX_TABLES, "doc_id") == erased
    assert spark.table(f"{db}.tombstones").count() == 0
    assert (
        spark.table(f"{db}.sigs").count()
        == n_sigs_before - n_erased_sig_rows
    )
    v_after = sorted(
        map(tuple, QUERIES["dedup_index_forget"](spark, sf_small).collect())
    )
    assert v_after == verdicts
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_ivf_index_forget_lifecycle(spark, sf_small):
    """IVF-side targeted erasure (round 8): tombstoned vectors vanish
    from serving immediately (centroids frozen — erasure never
    retrains), re-forgetting is idempotent, and compaction folds
    tombstones into an assignment rewrite without changing any served
    result."""
    from pyspark.sql import functions as F

    from dbt_bigquery_udf_spark.operators import similarity as S
    from dbt_bigquery_udf_spark.operators.index_store import (
        fold_tombstones,
        forget,
        read_live,
    )
    from dbt_bigquery_udf_spark.queries import QUERIES

    db = S._ivf_index_db(sf_small) + "_fg"
    _drop_index_db(spark, db)
    served = sorted(
        map(tuple, QUERIES["sim_ivf_forget"](spark, sf_small).collect())
    )
    erased_ids = {
        r[0]
        for r in spark.read.parquet(f"{sf_small}/embeddings.parquet")
        .filter(F.col("vec_id") % S.IVF_FORGET_MOD == 4)
        .select("vec_id")
        .collect()
    }
    assert erased_ids
    # no served result may be an erased vector
    assert not {v for v, _ in served} & erased_ids
    # the serving relation really subtracts them
    (assign,) = read_live(spark, db, ("assign",), "vec_id")
    assert assign.filter(F.col("vec_id") % S.IVF_FORGET_MOD == 4).count() == 0
    # idempotent replay
    ids = spark.createDataFrame(
        [(int(i),) for i in erased_ids], "vec_id bigint"
    )
    assert forget(spark, db, "vec_id", ids) == 0
    n_assign = spark.table(f"{db}.assign").count()
    n_erased_rows = (
        spark.table(f"{db}.assign")
        .filter(F.col("vec_id") % S.IVF_FORGET_MOD == 4)
        .count()
    )
    assert fold_tombstones(spark, db, ("assign",), "vec_id") == len(erased_ids)
    assert spark.table(f"{db}.tombstones").count() == 0
    assert spark.table(f"{db}.assign").count() == n_assign - n_erased_rows
    v_after = sorted(
        map(tuple, QUERIES["sim_ivf_forget"](spark, sf_small).collect())
    )
    assert v_after == served
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_exact_forget_shared_hash_semantics(spark, tmp_path, sf_small):
    """The exact-gate erasure's implicit-refcount contract on a crafted
    corpus: batch doc A's text survives ONLY in an erased doc -> novel;
    batch doc B's text is held by an erased doc AND a living doc ->
    still a dup. Then fold + idempotence."""
    import os
    import shutil

    from dbt_bigquery_udf_spark.operators import dedup as D
    from dbt_bigquery_udf_spark.queries import QUERIES
    from dbt_bigquery_udf_spark.testing import TABLES

    root = str(tmp_path / "ef")
    os.makedirs(root)
    for t in TABLES:
        if t == "documents":
            continue
        os.symlink(
            os.path.join(sf_small, f"{t}.parquet"),
            os.path.join(root, f"{t}.parquet"),
        )
    # mod-7 classes: 7/14 -> batch1; 3/10 -> erased slice; 2/4 -> living
    rows = [
        (7, "only-in-erased"),     # batch: matches doc 3 only -> novel
        (14, "shared-with-live"),  # batch: matches 10 (erased) AND 4 -> dup
        (3, "only-in-erased"),     # erased holder
        (10, "shared-with-live"),  # erased holder
        (4, "shared-with-live"),   # LIVING holder
        (2, "unrelated"),          # living noise
    ]
    spark.createDataFrame(
        [(i, t, "en", "srcA", len(t)) for i, t in rows],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).coalesce(1).write.mode("overwrite").parquet(root + "/_docs_tmp")
    part = [
        f for f in os.listdir(root + "/_docs_tmp") if f.endswith(".parquet")
    ][0]
    shutil.move(
        os.path.join(root, "_docs_tmp", part),
        os.path.join(root, "documents.parquet"),
    )
    shutil.rmtree(root + "/_docs_tmp")

    verdicts = {
        r["doc_id"]: r["is_dup"]
        for r in QUERIES["dedup_exact_forget"](spark, root).collect()
    }
    assert verdicts == {7: False, 14: True}
    db = D._exact_index_db(root) + "_fg"
    # fold + invariance + idempotent re-forget
    from dbt_bigquery_udf_spark.operators.index_store import fold_tombstones

    assert fold_tombstones(spark, db, ("doc_hashes",), "doc_id") == 2
    assert spark.table(f"{db}.doc_hashes").count() == 2  # docs 4 and 2
    verdicts2 = {
        r["doc_id"]: r["is_dup"]
        for r in QUERIES["dedup_exact_forget"](spark, root).collect()
    }
    assert verdicts2 == verdicts
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_near_admission_crash_replay(spark, sf_small):
    """ADVICE r7 (append order): bands land BEFORE sigs, and the
    idempotency marker is the batch's presence in SIGS — so a crash
    between the two appends (simulated by removing the batch's sigs
    rows) replays the whole admission to a consistent index instead of
    permanently losing the batch's band rows."""
    from pyspark.sql import functions as F

    from dbt_bigquery_udf_spark.operators import dedup as D
    from dbt_bigquery_udf_spark.queries import QUERIES

    db = D._near_index_db(sf_small)
    _drop_index_db(spark, db)
    v_clean = sorted(
        map(tuple, QUERIES["dedup_incr_near_indexed"](spark, sf_small).collect())
    )
    # simulate the crash window: batch-1 bands are in, sigs are not
    kept = (
        spark.table(f"{db}.sigs")
        .filter(F.col("doc_id") % D.INCR_NEAR_MOD != D.INCR_IDX_BATCH1)
        .localCheckpoint(eager=True)
    )
    kept.write.format("parquet").mode("overwrite").saveAsTable(f"{db}.sigs")
    spark.catalog.refreshTable(f"{db}.sigs")
    assert not D._near_index_has_batch(spark, db, D.INCR_IDX_BATCH1)
    # replay: marker says not-admitted -> the admission re-runs fully
    assert (
        D.admit_batch_to_index(spark, sf_small, D.INCR_IDX_BATCH1)
        == "admitted"
    )
    v_replay = sorted(
        map(tuple, QUERIES["dedup_incr_near_indexed"](spark, sf_small).collect())
    )
    assert v_replay == v_clean
    spark.sql(f"DROP DATABASE {db} CASCADE")


def test_capped_lsh_bounds_megabucket(spark, tmp_path, sf_small):
    """The hot-bucket mitigation's contract on a crafted skewed corpus
    (the ad-hoc blowup demo in SCALE.md, pinned): 80% of docs share one
    boilerplate text, so the uncapped pairs query emits C(n_boiler, 2)
    verified pairs while the capped query emits none of them — and the
    stats report's pairs_bound predicts the uncapped count exactly."""
    import os
    import shutil

    from dbt_bigquery_udf_spark.queries import QUERIES
    from dbt_bigquery_udf_spark.testing import TABLES

    root = str(tmp_path / "skew")
    os.makedirs(root)
    for t in TABLES:
        if t == "documents":
            continue
        os.symlink(
            os.path.join(sf_small, f"{t}.parquet"),
            os.path.join(root, f"{t}.parquet"),
        )
    n = 200
    boiler = "terms of service apply to all users of this site please read"
    texts = [
        boiler if i % 5 else f"unique document number {i} entirely {i * 7}"
        for i in range(n)
    ]
    spark.createDataFrame(
        [(i + 1, t, "en", "srcA", len(t)) for i, t in enumerate(texts)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).coalesce(1).write.mode("overwrite").parquet(root + "/_tmp")
    part = [f for f in os.listdir(root + "/_tmp") if f.endswith(".parquet")][0]
    shutil.move(
        os.path.join(root, "_tmp", part),
        os.path.join(root, "documents.parquet"),
    )
    shutil.rmtree(root + "/_tmp")

    n_boiler = sum(1 for t in texts if t == boiler)
    uncapped = QUERIES["dedup_minhash_pairs"](spark, root).count()
    capped = QUERIES["dedup_minhash_capped"](spark, root).count()
    # every boilerplate copy pairs with every other at jaccard 1.0
    assert uncapped >= n_boiler * (n_boiler - 1) // 2
    # the capped query never materializes the mega-bucket's pairs
    assert capped <= uncapped - n_boiler * (n_boiler - 1) // 2
    # pairs_bound (summed over bands) counts the mega-bucket
    # quadratically: each of the N_BANDS bands holds it whole
    stats = {
        r["band"]: r["pairs_bound"]
        for r in QUERIES["dedup_lsh_bucket_stats"](spark, root).collect()
    }
    assert all(
        pb >= n_boiler * (n_boiler - 1) // 2 for pb in stats.values()
    ), stats


def test_concurrent_builds_and_admission_gates(spark, sf_small):
    """VERDICT r8 #7: 8 independent engine builds + 2 persisted-index
    admission gates running CONCURRENTLY in one session (the
    reference's production log shows 8-thread dbt runs,
    dbt_run_result.png): no deadlock (every job joins within the
    timeout), every build lands correct tables, and both gates'
    verdicts equal their serial controls — the catalog-locked paths
    serialize safely instead of corrupting or deadlocking."""
    import time
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from dbt_bigquery_udf_spark.api import prepared_engine
    from dbt_bigquery_udf_spark.models.core import Engine, ModelSpec
    from dbt_bigquery_udf_spark.operators import dedup as D

    prepared_engine(spark, sf_small)  # sources registered once, up front
    expected_total = spark.table("src.orders").count()

    def build_job(i: int) -> int:
        db = f"conc_b{i}"
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        spark.sql(f"CREATE DATABASE {db}")
        eng = Engine(spark)
        eng.register(
            ModelSpec(
                name=f"conc_m1_{i}",
                kind="table",
                database=db,
                dialect="spark",
                sql=(
                    "SELECT o_orderstatus AS st, count(*) AS n "
                    "FROM {{ source('src', 'orders') }} GROUP BY o_orderstatus"
                ),
            ),
            ModelSpec(
                name=f"conc_m2_{i}",
                kind="table",
                database=db,
                dialect="spark",
                sql=(
                    "SELECT sum(n) AS total FROM "
                    "{{ ref('conc_m1_%d') }}" % i
                ),
            ),
        )
        eng.build(fail_fast=True)
        return int(spark.table(f"{db}.conc_m2_{i}").first()["total"])

    def near_gate(tag: str):
        base = D._near_index_db(sf_small) + tag
        delta = base + "d"
        for dbx in (base, delta):
            spark.sql(f"DROP DATABASE IF EXISTS {dbx} CASCADE")
        D.build_near_dup_index(spark, sf_small, db=base)
        spark.sql(f"CREATE DATABASE {delta}")
        spark.createDataFrame(
            [], "doc_id bigint, hs array<bigint>"
        ).write.format("parquet").saveAsTable(f"{delta}.sigs")
        spark.createDataFrame(
            [], "doc_id bigint, band int, key string"
        ).write.format("parquet").saveAsTable(f"{delta}.bands")
        batch = D._docs(spark, sf_small).filter(
            F.col("doc_id") % D.INCR_NEAR_MOD == D.INCR_IDX_BATCH1
        )
        out = sorted(
            map(
                tuple,
                D._admit_batch_df(
                    spark, (base, delta), batch, write_db=delta
                ).collect(),
            )
        )
        for dbx in (base, delta):
            spark.sql(f"DROP DATABASE IF EXISTS {dbx} CASCADE")
        return out

    def exact_gate(tag: str):
        base = D._exact_index_db(sf_small) + tag
        delta = base + "d"
        for dbx in (base, delta):
            spark.sql(f"DROP DATABASE IF EXISTS {dbx} CASCADE")
        D.build_exact_dup_index(spark, sf_small, db=base)
        spark.sql(f"CREATE DATABASE {delta}")
        spark.createDataFrame([], "h string").write.format(
            "parquet"
        ).saveAsTable(f"{delta}.hashes")
        batch = D._docs(spark, sf_small).filter(
            F.col("doc_id") % D.INCR_NEAR_MOD == D.INCR_IDX_BATCH1
        )
        out = sorted(
            map(
                tuple,
                D._admit_exact_batch_df(
                    spark, (base, delta), batch, write_db=delta
                ).collect(),
            )
        )
        for dbx in (base, delta):
            spark.sql(f"DROP DATABASE IF EXISTS {dbx} CASCADE")
        return out

    # serial controls (also warm the plans so the concurrent phase
    # measures contention, not first-call JIT)
    ctl_near = near_gate("_cn0")
    ctl_exact = exact_gate("_ce0")

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=10) as pool:
        futs = [pool.submit(build_job, i) for i in range(8)]
        futs.append(pool.submit(near_gate, "_cn1"))
        futs.append(pool.submit(exact_gate, "_ce1"))
        # result(timeout) is the no-deadlock assertion: a wedged
        # catalog lock would park a future forever
        res = [f.result(timeout=600) for f in futs]
    wall = time.perf_counter() - t0

    assert all(r == expected_total for r in res[:8]), res[:8]
    assert res[8] == ctl_near
    assert res[9] == ctl_exact
    # bounded lock wait: the whole 10-job phase must land far under the
    # deadlock timeout (generous: CI boxes vary; sf0.001 serial gate
    # walls are ~2-4s each)
    assert wall < 300, wall
    for i in range(8):
        spark.sql(f"DROP DATABASE IF EXISTS conc_b{i} CASCADE")
