"""dbt-style project loader: directory tree -> specs -> built DAG.

The fixture mirrors the reference's layout (dbt_project.yml config
tree, models/udf/{function,table_function}, datamart, schema.yml docs
+ tests, source declaration) with this engine's own model content, and
runs it end to end: load -> register -> build -> query -> data tests.
"""

from __future__ import annotations

import os
import textwrap

import pytest

from dbt_bigquery_udf_spark.api import prepared_engine
from dbt_bigquery_udf_spark.models.quality import run_tests
from dbt_bigquery_udf_spark.project import load_project


def _write(root, rel, content):
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(textwrap.dedent(content))


@pytest.fixture(scope="module")
def project_dir(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("fixture_proj"))
    _write(
        root,
        "dbt_project.yml",
        """\
        name: fixture_proj
        model-paths: ["models"]
        seed-paths: ["seeds"]
        vars:
          pick_type: click
        models:
          fixture_proj:
            udf:
              +schema: udf
              +tags: ["udf"]
              function:
                +materialized: function
              table_function:
                +materialized: table_function
            datamart:
              +schema: datamart
              +materialized: table
        """,
    )
    _write(
        root,
        "models/udf/function/clean_upper.sql",
        """\
        {{
            config(
                params=['s STRING'],
                return_type='STRING'
            )
        }}
        UPPER(TRIM(s))
        """,
    )
    _write(
        root,
        "models/udf/table_function/events_of_type.sql",
        """\
        {{ config(params=['kind STRING']) }}
        SELECT
          CAST(column1 AS INT64) AS column1,
          {{ ref('clean_upper') }}(id) AS id_upper
        FROM {{ source('joshua_dataset', 'test_table') }}
        WHERE id = kind
        """,
    )
    _write(
        root,
        "models/datamart/fixture_mart.sql",
        """\
        SELECT column1, id_upper
        FROM {{ ref('events_of_type') }}({{ var('pick_type') }})
        """,
    )
    _write(
        root,
        "models/udf/schema.yml",
        """\
        version: 2
        models:
          - name: clean_upper
            description: uppercase + trim helper
        sources:
          - name: joshua_dataset
            tables:
              - name: test_table
        """,
    )
    _write(
        root,
        "models/datamart/schema.yml",
        """\
        version: 2
        models:
          - name: fixture_mart
            description: click slice with uppercased type
            columns:
              - name: column1
                description: event id
                tests:
                  - unique
                  - not_null
              - name: id_upper
                tests:
                  - accepted_values:
                      values: ['CLICK']
        """,
    )
    _write(root, "seeds/status_codes.csv", "code,label\n1,ok\n2,bad\n")
    return root


def test_load_project_specs(project_dir):
    proj = load_project(project_dir)
    assert proj.name == "fixture_proj"
    assert proj.vars == {"pick_type": "click"}
    specs = {m.name: m for m in proj.models}
    assert set(specs) == {
        "clean_upper",
        "events_of_type",
        "fixture_mart",
        "status_codes",
    }
    fn = specs["clean_upper"]
    assert fn.kind == "function"  # folder tree config
    assert fn.params == ("s STRING",)  # in-file config
    assert fn.return_type == "STRING"
    assert fn.database == "udf"
    assert fn.tags == ("udf",)
    assert fn.description == "uppercase + trim helper"
    assert "config" not in fn.sql and fn.sql.startswith("UPPER")
    tvf = specs["events_of_type"]
    assert tvf.kind == "table_function" and tvf.params == ("kind STRING",)
    mart = specs["fixture_mart"]
    assert mart.kind == "table" and mart.database == "datamart"
    assert mart.columns["column1"] == "event id"
    assert specs["status_codes"].kind == "seed"
    assert ("joshua_dataset", "test_table") in proj.sources
    kinds = {(t.test_type, t.model, t.column) for t in proj.tests}
    assert ("unique", "fixture_mart", "column1") in kinds
    assert ("not_null", "fixture_mart", "column1") in kinds
    assert ("accepted_values", "fixture_mart", "id_upper") in kinds


def test_loaded_project_builds_and_passes_tests(spark, sf_small, project_dir):
    proj = load_project(project_dir)
    engine = prepared_engine(spark, sf_small)
    engine.vars.update(proj.vars)
    engine.register(*proj.models, replace=True)
    engine.build(
        select=["fixture_mart", "status_codes"], fail_fast=True
    )
    rows = spark.sql(
        "SELECT column1, id_upper FROM datamart.fixture_mart"
    ).collect()
    assert rows and all(r.id_upper == "CLICK" for r in rows)
    expected = spark.sql(
        "SELECT count(*) AS n FROM src.test_table WHERE id = 'click'"
    ).first().n
    assert len(rows) == expected
    assert spark.table("udf.status_codes").count() == 2
    results = run_tests(spark, engine, proj.tests)
    assert results and all(r.passed for r in results), results


def test_cli_build_with_project(spark, sf_small, project_dir):
    """`build --project DIR` loads the tree on top of the built-in
    registry and materializes the selected closure."""
    import io
    import json
    from contextlib import redirect_stdout

    from dbt_bigquery_udf_spark.__main__ import main

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(
            [
                "build",
                "--project",
                project_dir,
                "--select",
                "fixture_mart",
                "--sf-dir",
                sf_small,
            ]
        )
    assert rc == 0
    lines = [json.loads(l) for l in buf.getvalue().splitlines() if l.startswith("{")]
    built = {l["model"]: l for l in lines if "model" in l}
    assert "fixture_mart" in built and built["fixture_mart"]["kind"] == "table"
    assert "events_of_type" in built  # upstream closure came along


def test_load_project_rejects_bad_trees(tmp_path):
    """Typo'd paths and duplicate model stems must fail loudly, not
    load an empty/last-wins project."""
    import pytest as _pytest

    from dbt_bigquery_udf_spark.models.core import EngineError

    with _pytest.raises(EngineError, match="does not exist"):
        load_project(str(tmp_path / "nope"))
    root = str(tmp_path / "noyml")
    os.makedirs(root)
    with _pytest.raises(EngineError, match="dbt_project.yml"):
        load_project(root)
    dup = str(tmp_path / "dup")
    _write(dup, "dbt_project.yml", "name: dup\n")
    _write(dup, "models/a/users.sql", "SELECT 1 AS x\n")
    _write(dup, "models/b/users.sql", "SELECT 2 AS x\n")
    with _pytest.raises(EngineError, match="duplicate model name"):
        load_project(dup)


def test_project_unit_tests_yaml(spark, sf_small, tmp_path):
    """dbt 1.8 unit_tests: YAML fixtures load and run through the unit
    test framework (schema inferred from dict literals)."""
    from dbt_bigquery_udf_spark.api import prepared_engine
    from dbt_bigquery_udf_spark.models.unit_tests import run_unit_tests

    root = str(tmp_path / "utproj")
    _write(root, "dbt_project.yml", "name: utproj\n")
    _write(
        root,
        "models/double_val.sql",
        """\
        {{ config(materialized='table', schema='datamart') }}
        SELECT id, val * 2 AS doubled FROM {{ ref('ut_base') }}
        """,
    )
    _write(
        root,
        "models/ut_base.sql",
        "{{ config(materialized='table', schema='datamart') }}\n"
        "SELECT 0 AS id, 0.0 AS val\n",
    )
    _write(
        root,
        "models/schema.yml",
        """\
        version: 2
        unit_tests:
          - name: doubles_values
            model: double_val
            given:
              - input: ref('ut_base')
                rows:
                  - {id: 1, val: 2.5}
                  - {id: 2, val: -1.0}
            expect:
              rows:
                - {id: 1, doubled: 5.0}
                - {id: 2, doubled: -2.0}
        """,
    )
    proj = load_project(root)
    assert len(proj.unit_tests) == 1
    ut = proj.unit_tests[0]
    assert ut.given["ref:ut_base"][0] == "id bigint, val double"
    engine = prepared_engine(spark, sf_small)
    engine.register(*proj.models, replace=True)
    results = run_unit_tests(spark, engine, proj.unit_tests)
    assert len(results) == 1 and results[0].passed, results[0]


def test_project_exposures_and_metrics(tmp_path):
    root = str(tmp_path / "semproj")
    _write(root, "dbt_project.yml", "name: semproj\n")
    _write(root, "models/rev.sql",
           "{{ config(materialized='table', schema='datamart') }}\nSELECT 1 AS a\n")
    _write(
        root,
        "models/schema.yml",
        """\
        version: 2
        exposures:
          - name: revenue_dashboard
            type: dashboard
            depends_on: ["ref('rev')"]
            owner:
              name: data-team
            url: https://example.invalid/dash
        metrics:
          - name: total_rev
            model: rev
            expression: sum(a)
            dimensions: [a]
        """,
    )
    proj = load_project(root)
    assert len(proj.exposures) == 1
    e = proj.exposures[0]
    assert e.depends_on == ("rev",) and e.owner == "data-team"
    assert len(proj.metrics) == 1
    m = proj.metrics[0]
    assert m.expression == "sum(a)" and m.dimensions == ("a",)


def test_project_incremental_model_roundtrip(spark, sf_small, tmp_path):
    """An incremental model with {% if is_incremental() %} / {{ this }}
    in its FILE body builds full on run 1 and inserts nothing new on
    run 2 (static source) — the loader composes with the incremental
    machinery."""
    from dbt_bigquery_udf_spark.api import prepared_engine

    root = str(tmp_path / "incproj")
    _write(root, "dbt_project.yml", "name: incproj\n")
    _write(
        root,
        "models/ev_incr_proj.sql",
        """\
        {{ config(materialized='incremental', schema='datamart', dialect='spark') }}
        SELECT event_id, ts, user_id, event_type
        FROM {{ source('joshua_dataset', 'events') }}
        {% if is_incremental() %}
        WHERE ts > (SELECT max(ts) FROM {{ this }})
        {% endif %}
        """,
    )
    proj = load_project(root)
    engine = prepared_engine(spark, sf_small)
    engine.register(*proj.models, replace=True)
    engine.build(select=["ev_incr_proj"])
    n1 = spark.table("datamart.ev_incr_proj").count()
    assert n1 == spark.table("src.events").count()
    engine.register(*proj.models, replace=True)
    engine.build(select=["ev_incr_proj"])
    assert spark.table("datamart.ev_incr_proj").count() == n1


def test_selectors_yml(spark, sf_small, project_dir):
    """selectors.yml named selections resolve through the engine's
    selector syntax and drive `build --selector`."""
    import io
    import json
    from contextlib import redirect_stdout

    from dbt_bigquery_udf_spark.__main__ import main

    _write(
        project_dir,
        "selectors.yml",
        """\
        selectors:
          - name: marts_only
            definition:
              union:
                - method: fqn
                  value: fixture_mart
          - name: udf_tree
            definition:
              method: tag
              value: udf
              children: true
        """,
    )
    proj = load_project(project_dir)
    assert proj.selectors["marts_only"] == ["fixture_mart"]
    assert proj.selectors["udf_tree"] == ["tag:udf+"]
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(
            ["build", "--project", project_dir, "--selector", "marts_only",
             "--sf-dir", sf_small]
        )
    assert rc == 0
    built = {json.loads(l)["model"] for l in buf.getvalue().splitlines() if l.startswith("{")}
    assert "fixture_mart" in built


def test_bq_project_database_config_ignored(tmp_path):
    """The reference's `+database: <bq-project>` is catalog-level and
    must not clobber `+schema` regardless of YAML key order."""
    root = str(tmp_path / "bqproj")
    _write(
        root,
        "dbt_project.yml",
        """\
        name: bqproj
        models:
          bqproj:
            a:
              +database: joshua-1000
              +schema: udf
            b:
              +schema: udf
              +database: joshua-1000
        """,
    )
    _write(root, "models/a/m1.sql", "SELECT 1 AS x\n")
    _write(root, "models/b/m2.sql", "SELECT 1 AS x\n")
    specs = {m.name: m for m in load_project(root).models}
    assert specs["m1"].database == "udf"
    assert specs["m2"].database == "udf"


def test_schema_yml_config_block(tmp_path):
    """dbt's YAML-config style: `config:` under a schema.yml model entry
    applies between the folder tree and the in-file config()."""
    root = str(tmp_path / "ymlcfg")
    _write(root, "dbt_project.yml", "name: ymlcfg\n")
    _write(root, "models/m_yml.sql", "SELECT 1 AS x\n")
    _write(
        root,
        "models/schema.yml",
        """\
        version: 2
        models:
          - name: m_yml
            config:
              materialized: table
              schema: datamart
              tags: [nightly]
        """,
    )
    spec = {m.name: m for m in load_project(root).models}["m_yml"]
    assert spec.kind == "table" and spec.database == "datamart"
    assert spec.tags == ("nightly",)


def test_selector_path_method_and_unknown_keys(tmp_path):
    """path-method selectors resolve to the model stem; unsupported
    definition keys (dbt exclude) fail loudly."""
    import pytest as _pytest

    from dbt_bigquery_udf_spark.models.core import EngineError
    from dbt_bigquery_udf_spark.project import _selector_atom, _parse_selectors

    assert _selector_atom(
        {"method": "path", "value": "models/marts/my_model.sql"}
    ) == "my_model"
    with _pytest.raises(EngineError, match="unsupported definition keys"):
        _parse_selectors(
            {"selectors": [{"name": "x", "definition": {
                "union": ["a"], "exclude": ["b"]}}]}
        )


def test_unit_fixture_schema_widens_and_rejects_mixed(tmp_path):
    import pytest as _pytest

    from dbt_bigquery_udf_spark.models.core import EngineError
    from dbt_bigquery_udf_spark.project import _infer_schema_ddl

    assert _infer_schema_ddl([{"val": 1}, {"val": 2.5}]) == "val double"
    assert _infer_schema_ddl([{"v": None}, {"v": 3}]) == "v bigint"
    assert _infer_schema_ddl([{"v": None}]) == "v string"
    with _pytest.raises(EngineError, match="mixed literal types"):
        _infer_schema_ddl([{"id": "a"}, {"id": 7}])


def test_python_model_file_loads_and_builds(spark, sf_small, tmp_path):
    """dbt python-model files (def model(dbt, session)) load with refs
    discovered statically and build as tables."""
    from dbt_bigquery_udf_spark.api import prepared_engine

    root = str(tmp_path / "pyproj")
    _write(root, "dbt_project.yml", "name: pyproj\n")
    _write(
        root,
        "models/base_counts.sql",
        "{{ config(materialized='table', schema='datamart', dialect='spark') }}\n"
        "SELECT event_type, count(*) AS n FROM "
        "{{ source('joshua_dataset', 'events') }} GROUP BY event_type\n",
    )
    _write(
        root,
        "models/py_enriched.py",
        """\
        from pyspark.sql import functions as F


        def model(dbt, session):
            dbt.config(materialized="table")
            base = dbt.ref("base_counts")
            return base.withColumn("n_pct", F.col("n") * 100.0 / F.lit(1000))
        """,
    )
    _write(
        root,
        "models/schema.yml",
        """\
        version: 2
        models:
          - name: py_enriched
            description: python-model enrichment
            config:
              schema: datamart
        """,
    )
    proj = load_project(root)
    spec = {m.name: m for m in proj.models}["py_enriched"]
    assert spec.kind == "python" and spec.python_refs == ("base_counts",)
    assert spec.database == "datamart"
    engine = prepared_engine(spark, sf_small)
    engine.register(*proj.models, replace=True)
    engine.build(select=["py_enriched"])
    out = spark.table("datamart.py_enriched")
    assert "n_pct" in out.columns and out.count() > 0


def test_source_freshness_declarations(spark, sf_small, tmp_path):
    """loaded_at_field + freshness YAML parse into hour thresholds and
    drive the CLI's per-source freshness sweep."""
    import io
    import json
    from contextlib import redirect_stdout

    from dbt_bigquery_udf_spark.__main__ import main

    root = str(tmp_path / "freshproj")
    _write(root, "dbt_project.yml", "name: freshproj\n")
    _write(root, "models/dummy.sql", "SELECT 1 AS x\n")
    _write(
        root,
        "models/sources.yml",
        """\
        version: 2
        sources:
          - name: joshua_dataset
            loaded_at_field: ts
            freshness:
              warn_after: {count: 1, period: hour}
              error_after: {count: 2, period: day}
            tables:
              - name: events
        """,
    )
    proj = load_project(root)
    assert proj.source_freshness == [
        {
            "dataset": "joshua_dataset",
            "table": "events",
            "loaded_at_field": "ts",
            "warn_after_hours": 1.0,
            "error_after_hours": 48.0,
        }
    ]
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(
            ["source-freshness", "--project", root, "--sf-dir", sf_small]
        )
    rows = [json.loads(l) for l in buf.getvalue().splitlines() if l.startswith("{")]
    assert rows and rows[0]["source"] == "joshua_dataset.events"
    # synthetic data is historic -> stale -> error status, exit 1
    assert rows[0]["status"] == "error" and rc == 1


def test_on_run_hooks_parse(tmp_path):
    root = str(tmp_path / "hookproj")
    _write(
        root,
        "dbt_project.yml",
        """\
        name: hookproj
        on-run-start: "SET spark.sql.ansi.enabled=true"
        on-run-end:
          - "SELECT 1"
          - "SELECT 2"
        """,
    )
    _write(root, "models/m.sql", "SELECT 1 AS x\n")
    proj = load_project(root)
    assert proj.on_run_start == ("SET spark.sql.ansi.enabled=true",)
    assert proj.on_run_end == ("SELECT 1", "SELECT 2")


def test_analyses_load_and_compile(spark, sf_small, tmp_path):
    """dbt analyses: compiled on demand through `compile --project`,
    never materialized."""
    import io
    import json
    from contextlib import redirect_stdout

    from dbt_bigquery_udf_spark.__main__ import main

    root = str(tmp_path / "anproj")
    _write(root, "dbt_project.yml", "name: anproj\n")
    _write(root, "models/m_an.sql",
           "{{ config(materialized='table', schema='datamart') }}\nSELECT 1 AS x\n")
    _write(root, "analyses/adhoc_check.sql",
           "SELECT count(*) AS n FROM {{ ref('m_an') }}\n")
    proj = load_project(root)
    assert "adhoc_check" in proj.analyses
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["compile", "--project", root, "--select", "m_an",
                   "--sf-dir", sf_small])
    assert rc == 0
    rows = [json.loads(l) for l in buf.getvalue().splitlines() if l.startswith("{")]
    ana = [r for r in rows if r.get("analysis") == "adhoc_check"]
    assert ana and "datamart.m_an" in ana[0]["compiled_sql"]


def test_loader_edge_cases(tmp_path):
    """Source-only exposures, freshness null opt-out, disabled python
    models, malformed freshness, selector combos."""
    import pytest as _pytest

    from dbt_bigquery_udf_spark.models.core import EngineError
    from dbt_bigquery_udf_spark.project import (
        _freshness_hours,
        _selector_atom,
    )

    root = str(tmp_path / "edge")
    _write(root, "dbt_project.yml", "name: edge\n")
    _write(root, "models/m_edge.sql", "SELECT 1 AS x\n")
    _write(
        root,
        "models/disabled_py.py",
        "import definitely_not_installed_pkg\n\n"
        "def model(dbt, session):\n    return None\n",
    )
    _write(
        root,
        "models/schema.yml",
        """\
        version: 2
        models:
          - name: disabled_py
            config:
              enabled: false
        exposures:
          - name: raw_feed_dash
            type: dashboard
            depends_on: ["source('joshua_dataset','events')"]
        sources:
          - name: joshua_dataset
            loaded_at_field: ts
            freshness:
              warn_after: {count: 1, period: hour}
            tables:
              - name: events
              - name: excluded_tbl
                freshness: null
        """,
    )
    proj = load_project(root)  # disabled .py never exec'd -> no ImportError
    assert [m.name for m in proj.models] == ["m_edge"]
    assert proj.exposures[0].depends_on == ()
    assert proj.exposures[0].depends_on_sources == ("joshua_dataset.events",)
    checked = {d["table"] for d in proj.source_freshness}
    assert checked == {"events"}  # null opt-out honored
    with _pytest.raises(EngineError, match="missing count"):
        _freshness_hours({"counts": 3}, 24.0)
    with _pytest.raises(EngineError, match="unknown period"):
        _freshness_hours({"count": 1, "period": "week"}, 24.0)
    assert _selector_atom({"method": "fqn", "value": "m", "parents": True}) == "+m"
    with _pytest.raises(EngineError, match="no engine selector form"):
        _selector_atom({"method": "tag", "value": "t", "parents": True})
    with _pytest.raises(EngineError, match="empty rows"):
        from dbt_bigquery_udf_spark.project import _parse_unit_tests

        _parse_unit_tests(
            {"unit_tests": [{"name": "u", "model": "m",
                             "given": [{"input": "ref('a')", "rows": []}]}]}
        )


def test_singular_test_files(spark, sf_small, tmp_path):
    """dbt singular tests: .sql files under test-paths load as
    SingularTests and run through run_tests (rows = violations)."""
    from dbt_bigquery_udf_spark.api import prepared_engine
    from dbt_bigquery_udf_spark.models.quality import run_tests

    root = str(tmp_path / "singproj")
    _write(root, "dbt_project.yml", "name: singproj\ntest-paths: [\"tests\"]\n")
    _write(root, "models/pos_vals.sql",
           "{{ config(materialized='table', schema='datamart', dialect='spark') }}\n"
           "SELECT event_id, value FROM {{ source('joshua_dataset', 'events') }}\n")
    _write(root, "tests/no_null_ids.sql",
           "SELECT * FROM {{ ref('pos_vals') }} WHERE event_id IS NULL\n")
    proj = load_project(root)
    singular = [t for t in proj.tests if getattr(t, "test_type", "") == "singular"]
    assert [t.name for t in singular] == ["no_null_ids"]
    engine = prepared_engine(spark, sf_small)
    engine.register(*proj.models, replace=True)
    engine.build(select=["pos_vals"])
    results = run_tests(spark, engine, proj.tests)
    assert len(results) == 1 and results[0].passed


def test_cli_test_project_partial_build_failure(spark, sf_small, tmp_path):
    """A broken model must not mask other models' data tests: healthy
    tests still run, tests on broken models report SKIP, exit is 1."""
    import io
    import json
    from contextlib import redirect_stdout

    from dbt_bigquery_udf_spark.__main__ import main

    root = str(tmp_path / "partproj")
    _write(root, "dbt_project.yml", "name: partproj\n")
    _write(root, "models/good_m.sql",
           "{{ config(materialized='table', schema='datamart', dialect='spark') }}\n"
           "SELECT 1 AS id\n")
    _write(root, "models/bad_m.sql",
           "{{ config(materialized='table', schema='datamart', dialect='spark') }}\n"
           "SELECT no_such_col FROM {{ source('joshua_dataset','events') }}\n")
    _write(root, "models/schema.yml",
           """\
           version: 2
           models:
             - name: good_m
               columns:
                 - name: id
                   tests: [not_null]
             - name: bad_m
               columns:
                 - name: no_such_col
                   tests: [not_null]
           """)
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["test", "--project", root, "--sf-dir", sf_small])
    assert rc == 1
    rows = [json.loads(l) for l in buf.getvalue().splitlines() if l.startswith("{")]
    statuses = {r.get("test", r.get("model")): r["status"] for r in rows}
    assert statuses["bad_m"] == "ERROR"
    assert statuses["not_null_good_m_id"] == "PASS"
    assert statuses["not_null_bad_m_no_such_col"] == "SKIP"


def test_unit_test_empty_expectation(spark, sf_small, tmp_path):
    """expect: rows: [] is dbt's assert-no-output form — no schema
    needed."""
    from dbt_bigquery_udf_spark.api import prepared_engine
    from dbt_bigquery_udf_spark.models.unit_tests import run_unit_tests

    root = str(tmp_path / "emptyproj")
    _write(root, "dbt_project.yml", "name: emptyproj\n")
    _write(root, "models/filter_neg.sql",
           "{{ config(materialized='table', schema='datamart', dialect='spark') }}\n"
           "SELECT id FROM {{ ref('fx_base') }} WHERE id < 0\n")
    _write(root, "models/fx_base.sql",
           "{{ config(materialized='table', schema='datamart', dialect='spark') }}\n"
           "SELECT 1 AS id\n")
    _write(root, "models/schema.yml",
           """\
           version: 2
           unit_tests:
             - name: filters_everything
               model: filter_neg
               given:
                 - input: ref('fx_base')
                   rows:
                     - {id: 5}
               expect:
                 rows: []
           """)
    proj = load_project(root)
    engine = prepared_engine(spark, sf_small)
    engine.register(*proj.models, replace=True)
    results = run_unit_tests(spark, engine, proj.unit_tests)
    assert len(results) == 1 and results[0].passed, results[0]


# -- user macros (restricted SQL-fragment subset, macros.py) ---------------


def test_user_macros_expand_and_build(spark, sf_small, tmp_path):
    """A reference-author-style tree with user macros in macros/ loads,
    expands call sites (positional, keyword, defaults, macro-in-macro),
    and builds end to end."""
    root = str(tmp_path / "macroproj")
    _write(root, "dbt_project.yml",
           """\
           name: macroproj
           macro-paths: ["macros"]
           """)
    _write(root, "macros/money.sql",
           """\
           {% macro cents_to_dollars(col, precision=2) %}
           round({{ col }} / 100.0, {{ precision }})
           {% endmacro %}

           {% macro dollars_label(col) %}
           concat('$', cast({{ cents_to_dollars(col, precision=1) }} as string))
           {% endmacro %}
           """)
    _write(root, "models/money_mart.sql",
           "{{ config(materialized='table', schema='datamart', dialect='spark') }}\n"
           "SELECT {{ cents_to_dollars('amount_cents') }} AS dollars,\n"
           "       {{ dollars_label('amount_cents') }} AS label\n"
           "FROM {{ ref('money_base') }}\n")
    _write(root, "models/money_base.sql",
           "{{ config(materialized='table', schema='datamart', dialect='spark') }}\n"
           "SELECT 12345 AS amount_cents\n")
    proj = load_project(root)
    body = {m.name: m.sql for m in proj.models}["money_mart"]
    assert "cents_to_dollars" not in body  # fully expanded
    assert "round(amount_cents / 100.0, 2)" in body
    assert "round(amount_cents / 100.0, 1)" in body  # kwarg override
    assert "{{ ref('money_base') }}" in body  # renderer placeholder intact
    engine = prepared_engine(spark, sf_small)
    engine.register(*proj.models, replace=True)
    engine.build(select=["money_mart"], fail_fast=True)
    row = spark.table("datamart.money_mart").first()
    assert float(row.dollars) == 123.45
    assert row.label == "$123.5"


def test_user_macro_rejects_control_flow_and_collisions(tmp_path):
    import pytest as _pytest

    from dbt_bigquery_udf_spark.models.core import EngineError

    root = str(tmp_path / "badmacro")
    _write(root, "dbt_project.yml", "name: badmacro\n")
    # control flow in macro bodies is supported since round 3 (and
    # {% call statement %} since round 6); tags OUTSIDE the evaluator's
    # subset still fail loudly at load.
    _write(root, "macros/ctrl.sql",
           "{% macro pick(col) %}{% block odd %}x{% endblock %}{% endmacro %}\n")
    with _pytest.raises(EngineError, match="unsupported Jinja tag"):
        load_project(root)

    root2 = str(tmp_path / "resmacro")
    _write(root2, "dbt_project.yml", "name: resmacro\n")
    _write(root2, "macros/bad.sql", "{% macro ref(x) %}{{ x }}{% endmacro %}\n")
    with _pytest.raises(EngineError, match="reserved"):
        load_project(root2)

    root3 = str(tmp_path / "dupmacro")
    _write(root3, "dbt_project.yml", "name: dupmacro\n")
    _write(root3, "macros/a.sql", "{% macro m(x) %}{{ x }}{% endmacro %}\n")
    _write(root3, "macros/b.sql", "{% macro m(x) %}{{ x }}{% endmacro %}\n")
    with _pytest.raises(EngineError, match="duplicate macro"):
        load_project(root3)


def test_user_macro_materialization_blocks_skipped(tmp_path):
    """A macros/ file in the reference's own shape — a materialization
    block (reference: macros/udf/function.sql:1-32) — loads without
    defining any fragment macro and without erroring."""
    root = str(tmp_path / "matproj")
    _write(root, "dbt_project.yml", "name: matproj\n")
    _write(root, "macros/function.sql",
           """\
           {% materialization function, adapter='bigquery' %}
             {% if execute %}anything at all{% endif %}
           {% endmaterialization %}
           """)
    _write(root, "models/plain.sql",
           "{{ config(materialized='table', schema='datamart', dialect='spark') }}\n"
           "SELECT 1 AS one\n")
    proj = load_project(root)
    assert [m.name for m in proj.models] == ["plain"]


def test_model_body_control_flow(spark, sf_small, tmp_path):
    """{% if %}/{% for %} in a model body evaluate at render time with
    project vars: branch selection, elif/else, for with loop.last comma
    handling — the production-dbt Jinja subset beyond is_incremental."""
    root = str(tmp_path / "cfproj")
    _write(root, "dbt_project.yml",
           """\
           name: cfproj
           vars:
             env: prod
             statuses: ["O", "F"]
           """)
    _write(root, "models/cf_mart.sql",
           """\
           {{ config(materialized='table', schema='datamart', dialect='spark') }}
           SELECT o_orderstatus, count(*) AS n
           FROM {{ source('src', 'orders') }}
           WHERE o_orderstatus IN (
           {% for s in var('statuses') %}'{{ s }}'{% if not loop.last %}, {% endif %}{% endfor %}
           )
           {% if var('env') == 'prod' %}
           AND o_totalprice > 0
           {% elif var('env') == 'dev' %}
           AND o_totalprice > 1000000
           {% endif %}
           GROUP BY o_orderstatus
           """)
    proj = load_project(root)
    engine = prepared_engine(spark, sf_small)
    engine.vars.update(proj.vars)
    engine.register(*proj.models, replace=True)
    rendered = engine.render(engine.models["cf_mart"])
    assert "'O', 'F'" in rendered
    assert "o_totalprice > 0" in rendered
    assert "1000000" not in rendered  # untaken elif branch dropped
    assert "{%" not in rendered
    engine.build(select=["cf_mart"], fail_fast=True)
    rows = {r.o_orderstatus: r.n for r in spark.table("datamart.cf_mart").collect()}
    assert set(rows) == {"O", "F"} and all(v > 0 for v in rows.values())
    # flipping a var flips the branch on re-render
    engine.vars["env"] = "dev"
    assert "1000000" in engine.render(engine.models["cf_mart"])


def test_docs_blocks_resolve_in_descriptions(tmp_path):
    """{% docs %} blocks in .md files resolve {{ doc('name') }} in
    schema.yml model/column descriptions (the text that persists to
    warehouse COMMENTs); unknown doc() fails loudly."""
    import pytest as _pytest

    from dbt_bigquery_udf_spark.models.core import EngineError

    root = str(tmp_path / "docsproj")
    _write(root, "dbt_project.yml", "name: docsproj\n")
    _write(root, "models/docs.md",
           """\
           {% docs amount_doc %}
           Monetary amount in cents, never NULL.
           {% enddocs %}
           """)
    _write(root, "models/m1.sql",
           "{{ config(materialized='table', schema='datamart', dialect='spark') }}\n"
           "SELECT 1 AS amount\n")
    _write(root, "models/schema.yml",
           """\
           version: 2
           models:
             - name: m1
               description: "Ledger. {{ doc('amount_doc') }}"
               columns:
                 - name: amount
                   description: "{{ doc('amount_doc') }}"
           """)
    proj = load_project(root)
    spec = {m.name: m for m in proj.models}["m1"]
    assert "Monetary amount in cents" in spec.description
    assert "doc(" not in spec.description
    assert "Monetary amount in cents" in spec.columns["amount"]

    _write(root, "models/schema.yml",
           """\
           version: 2
           models:
             - name: m1
               description: "{{ doc('missing_doc') }}"
           """)
    with _pytest.raises(EngineError, match="missing_doc"):
        load_project(root)


def test_set_and_incremental_else_branch(spark, sf_small, tmp_path):
    """{% set %} binds literals for the rest of the body, and
    {% if is_incremental() %}...{% else %}...{% endif %} picks the
    right branch on first build vs incremental re-run (the round-1
    regex strip silently dropped else branches)."""
    root = str(tmp_path / "setproj")
    _write(root, "dbt_project.yml", "name: setproj\n")
    _write(root, "models/inc_else.sql",
           """\
           {{ config(materialized='incremental', schema='datamart',
                     dialect='spark', unique_key='k',
                     incremental_strategy='merge') }}
           {% set cutoff = 3 %}
           SELECT k, v FROM (
             SELECT 1 AS k, 'full' AS v UNION ALL
             SELECT {{ cutoff }} + 1 AS k,
             {% if is_incremental() %}
               'delta' AS v
             {% else %}
               'first' AS v
             {% endif %}
           )
           """)
    proj = load_project(root)
    engine = prepared_engine(spark, sf_small)
    engine.register(*proj.models, replace=True)
    engine.build(select=["inc_else"], fail_fast=True)
    first = {r.k: r.v for r in spark.table("datamart.inc_else").collect()}
    assert first == {1: "full", 4: "first"}  # else branch on first build
    engine.build(select=["inc_else"], fail_fast=True)
    second = {r.k: r.v for r in spark.table("datamart.inc_else").collect()}
    assert second[4] == "delta"  # if branch on the incremental re-run


# -- round 3: macro-body control flow, target context, packages ------------


def test_macro_body_control_flow_builds(spark, sf_small, tmp_path):
    """A user macro whose body is the reference's own macro shape — a
    {% for %}/loop.last join loop (reference:
    macros/udf/get_create_function_as_sql.sql:6-11) — loads, expands at
    call sites, and builds end to end via --project."""
    root = str(tmp_path / "cfmacro")
    _write(root, "dbt_project.yml",
           """\
           name: cfmacro
           vars:
             extra_cols: []
           """)
    _write(root, "macros/join.sql",
           """\
           {% macro status_in(statuses) %}
           o_orderstatus IN ({% for s in statuses %}'{{ s }}'{% if not loop.last %}, {% endif %}{% endfor %})
           {% endmacro %}

           {% macro pick_filter(mode) %}
           {% if mode == 'strict' %}o_totalprice > 0{% else %}1 = 1{% endif %}
           {% endmacro %}
           """)
    _write(root, "models/cfm_mart.sql",
           "{{ config(materialized='table', schema='datamart', dialect='spark') }}\n"
           "SELECT o_orderstatus, count(*) AS n\n"
           "FROM {{ source('src', 'orders') }}\n"
           "WHERE {{ status_in(['O', 'F']) }}\n"
           "  AND {{ pick_filter('strict') }}\n"
           "GROUP BY o_orderstatus\n")
    proj = load_project(root)
    body = {m.name: m.sql for m in proj.models}["cfm_mart"]
    assert "'O', 'F'" in body
    assert "o_totalprice > 0" in body
    assert "1 = 1" not in body  # untaken else branch dropped
    assert "{%" not in body
    engine = prepared_engine(spark, sf_small)
    engine.register(*proj.models, replace=True)
    engine.build(select=["cfm_mart"], fail_fast=True)
    rows = {r.o_orderstatus: r.n for r in spark.table("datamart.cfm_mart").collect()}
    assert set(rows) == {"O", "F"} and all(v > 0 for v in rows.values())


def test_reference_macros_roundtrip_loader(tmp_path):
    """The reference's four macro files (two {% materialization %}
    blocks, two control-flow macros with {% set %} blocks and
    config.require) all load through parse_macros without error, and
    the control-flow ones expand correctly."""
    from dbt_bigquery_udf_spark.macros import expand_macros, parse_macros

    ref_dir = "/root/reference/macros/udf"
    if not os.path.isdir(ref_dir):
        pytest.skip("reference tree not present")
    loaded = {}
    for f in sorted(os.listdir(ref_dir)):
        with open(os.path.join(ref_dir, f)) as fh:
            loaded.update(parse_macros(fh.read(), f))
    # materialization blocks define no fragment macros; the two
    # get_create_* helpers do.
    assert set(loaded) == {
        "get_create_function_as_sql",
        "get_create_table_function_as_sql",
    }
    out = expand_macros(
        "{{ get_create_function_as_sql('db.f', 'a+b', "
        "{'return_type': 'INT64', 'params': ['a INT64', 'b INT64']}, 'd') }}",
        loaded,
    )
    assert "CREATE OR REPLACE FUNCTION db.f" in out
    assert "a INT64" in out and "b INT64" in out and "RETURNS INT64" in out


def test_target_context_env_routing(spark, sf_small, tmp_path):
    """{% if target.name == 'prod' %} builds differently per --env, and
    {{ target.schema }} resolves to the env-suffixed database — the dbt
    env-routing idiom (reference README.md:178-193 maps envs the same
    way)."""
    root = str(tmp_path / "tgtproj")
    _write(root, "dbt_project.yml", "name: tgtproj\n")
    _write(root, "models/tgt_mart.sql",
           """\
           {{ config(materialized='table', schema='datamart', dialect='spark') }}
           SELECT
             '{{ target.name }}' AS env_name,
             {% if target.name == 'prod' %}
             'full' AS mode
             {% else %}
             'sampled' AS mode
             {% endif %}
           """)
    proj = load_project(root)
    from dbt_bigquery_udf_spark.api import bootstrap

    eng_prod = prepared_engine(spark, sf_small)
    eng_prod.register(*proj.models, replace=True)
    rendered = eng_prod.render(eng_prod.models["tgt_mart"])
    assert "'prod' AS env_name" in rendered and "'full' AS mode" in rendered
    eng_dev = bootstrap(spark, sf_small, env="dev")
    eng_dev.register(*proj.models, replace=True)
    rendered_dev = eng_dev.render(eng_dev.models["tgt_mart"])
    assert "'dev' AS env_name" in rendered_dev
    assert "'sampled' AS mode" in rendered_dev
    # target.schema follows env_database routing
    _write(root, "models/tgt_schema.sql",
           "{{ config(materialized='view', dialect='spark') }}\n"
           "SELECT '{{ target.schema }}' AS s\n")
    proj2 = load_project(root)
    eng_dev.register(*proj2.models, replace=True)
    assert "'udf_dev'" in eng_dev.render(eng_dev.models["tgt_schema"])


def test_target_unknown_attr_fails_loudly(spark, tmp_path):
    from dbt_bigquery_udf_spark.models.core import Engine, EngineError

    root = str(tmp_path / "tgtbad")
    _write(root, "dbt_project.yml", "name: tgtbad\n")
    _write(root, "models/bad.sql",
           "{{ config(materialized='view', dialect='spark') }}\n"
           "SELECT '{{ target.nope }}' AS s\n")
    proj = load_project(root)
    # its own engine: a model that cannot render must not stay registered
    # in the shared prepared_engine, whose write_state renders every model
    engine = Engine(spark)
    engine.register(*proj.models)
    with pytest.raises(EngineError, match="target.nope"):
        engine.render(engine.models["bad"])


def test_local_packages_load_and_build(spark, sf_small, tmp_path):
    """packages.yml local packages: package macros callable bare and
    package-qualified; the project's own macro wins a bare-name
    collision (dbt dispatch order); the package's date_spine parity-
    checks against a SQL sequence spine."""
    pkg = str(tmp_path / "spine_utils")
    _write(pkg, "dbt_project.yml", "name: spine_utils\n")
    _write(pkg, "macros/date_spine.sql",
           """\
           {% macro date_spine(start_date, end_date) %}
           (SELECT explode(sequence(to_date('{{ start_date }}'),
                                    to_date('{{ end_date }}'),
                                    interval 1 day)) AS date_day)
           {% endmacro %}

           {% macro shared_name() %}'from_package'{% endmacro %}
           """)
    root = str(tmp_path / "pkgproj")
    _write(root, "dbt_project.yml", "name: pkgproj\n")
    _write(root, "packages.yml",
           """\
           packages:
             - local: ../spine_utils
           """)
    _write(root, "macros/own.sql",
           "{% macro shared_name() %}'from_project'{% endmacro %}\n")
    _write(root, "models/spine.sql",
           "{{ config(materialized='table', schema='datamart', dialect='spark') }}\n"
           "SELECT date_day, {{ shared_name() }} AS who,\n"
           "       {{ spine_utils.shared_name() }} AS who_qualified\n"
           "FROM {{ date_spine('2024-01-01', '2024-01-10') }}\n")
    proj = load_project(root)
    engine = prepared_engine(spark, sf_small)
    engine.register(*proj.models, replace=True)
    engine.build(select=["spine"], fail_fast=True)
    df = spark.table("datamart.spine")
    assert df.count() == 10  # inclusive 10-day spine
    row = df.first()
    assert row.who == "from_project"  # project wins the bare name
    assert row.who_qualified == "from_package"
    # parity: same spine via plain SQL sequence
    expected = spark.sql(
        "SELECT explode(sequence(to_date('2024-01-01'), to_date('2024-01-10'), "
        "interval 1 day)) AS date_day"
    )
    assert df.select("date_day").exceptAll(expected).count() == 0
    assert expected.exceptAll(df.select("date_day")).count() == 0


def test_packages_collisions_and_unsupported(tmp_path):
    from dbt_bigquery_udf_spark.models.core import EngineError

    # two packages colliding on a bare name -> loud error
    for pkg_name in ("pkg_a", "pkg_b"):
        pkg = str(tmp_path / pkg_name)
        _write(pkg, "dbt_project.yml", f"name: {pkg_name}\n")
        _write(pkg, "macros/m.sql", "{% macro clash() %}1{% endmacro %}\n")
    root = str(tmp_path / "ambproj")
    _write(root, "dbt_project.yml", "name: ambproj\n")
    _write(root, "packages.yml",
           """\
           packages:
             - local: ../pkg_a
             - local: ../pkg_b
           """)
    with pytest.raises(EngineError, match="clash"):
        load_project(root)

    # hub entries with NO vendored mirror and no dbt_packages/ install
    # still fail loudly (dbt-labs/dbt_utils itself resolves by design
    # via the shipped mirror — covered in test_hub_package_resolution)
    root2 = str(tmp_path / "hubproj")
    _write(root2, "dbt_project.yml", "name: hubproj\n")
    _write(root2, "packages.yml",
           """\
           packages:
             - package: some-org/not_vendored
               version: 1.1.1
           """)
    with pytest.raises(EngineError, match="local"):
        load_project(root2)


def test_generate_schema_name_default_macro(spark, sf_small, tmp_path):
    """dbt's DEFAULT generate_schema_name macro — verbatim, including
    `is none` and `| trim` — routes model datasets: unset schema keeps
    the root, +schema concatenates under it."""
    root = str(tmp_path / "gsnproj")
    _write(root, "dbt_project.yml", "name: gsnproj\n")
    _write(root, "macros/get_custom_schema.sql",
           """\
           {% macro generate_schema_name(custom_schema_name, node) -%}
               {%- set default_schema = target.schema -%}
               {%- if custom_schema_name is none -%}
                   {{ default_schema }}
               {%- else -%}
                   {{ default_schema }}_{{ custom_schema_name | trim }}
               {%- endif -%}
           {%- endmacro %}
           """)
    _write(root, "models/rooted.sql",
           "{{ config(materialized='view', dialect='spark') }}\nSELECT 1 AS x\n")
    _write(root, "models/routed.sql",
           "{{ config(materialized='table', schema=' marts ', dialect='spark') }}\n"
           "SELECT 2 AS x\n")
    proj = load_project(root)
    dbs = {m.name: m.database for m in proj.models}
    assert dbs["rooted"] == "udf"          # custom is none -> root
    assert dbs["routed"] == "udf_marts"    # trimmed + concatenated
    engine = prepared_engine(spark, sf_small)
    engine.register(*proj.models, replace=True)
    engine.build(select=["routed"], fail_fast=True)
    assert spark.table("udf_marts.routed").first().x == 2


def test_generate_schema_name_env_override(tmp_path):
    """A production-style override switching on target.name resolves
    per --env, and a macro rendering garbage fails loudly."""
    from dbt_bigquery_udf_spark.models.core import EngineError

    root = str(tmp_path / "gsn2")
    _write(root, "dbt_project.yml", "name: gsn2\n")
    _write(root, "macros/gsn.sql",
           """\
           {% macro generate_schema_name(custom_schema_name, node) -%}
           {%- if target.name == 'prod' -%}{{ custom_schema_name }}{%- else -%}sandbox{%- endif -%}
           {%- endmacro %}
           """)
    _write(root, "models/m.sql",
           "{{ config(materialized='view', schema='marts', dialect='spark') }}\n"
           "SELECT 1 AS x\n")
    assert {m.database for m in load_project(root).models} == {"marts"}
    assert {m.database for m in load_project(root, env="dev").models} == {"sandbox"}

    root2 = str(tmp_path / "gsn3")
    _write(root2, "dbt_project.yml", "name: gsn3\n")
    _write(root2, "macros/gsn.sql",
           "{% macro generate_schema_name(c, node) %}bad name!{% endmacro %}\n")
    _write(root2, "models/m.sql", "SELECT 1 AS x\n")
    with pytest.raises(EngineError, match="one identifier"):
        load_project(root2)


def test_invocation_context_renders(spark, sf_small, tmp_path):
    """{{ invocation_id }} / {{ run_started_at }} — the dbt
    audit-column idiom — render per build, and the id rotates between
    builds (matching dbt's per-invocation uuid)."""
    root = str(tmp_path / "invproj")
    _write(root, "dbt_project.yml", "name: invproj\n")
    _write(root, "models/audit.sql",
           "{{ config(materialized='table', schema='datamart', dialect='spark') }}\n"
           "SELECT '{{ invocation_id }}' AS batch_id,\n"
           "       TIMESTAMP '{{ run_started_at }}' AS loaded_at\n")
    proj = load_project(root)
    engine = prepared_engine(spark, sf_small)
    engine.register(*proj.models, replace=True)
    engine.build(select=["audit"], fail_fast=True)
    first = spark.table("datamart.audit").first()
    assert len(first.batch_id) == 32 and first.loaded_at is not None
    assert engine.run_results()["invocation_id"] == first.batch_id
    engine.build(select=["audit"], fail_fast=True)
    second = spark.table("datamart.audit").first()
    assert second.batch_id != first.batch_id  # fresh uuid per build


def test_custom_generic_test_macros(spark, sf_small, tmp_path):
    """dbt custom generic tests: {% test name(model, column_name, ...) %}
    blocks define tests referenced by bare name from schema.yml —
    column-level with config kwargs, and model-level without a column.
    Violations fail, clean data passes, unknown names fail loudly."""
    from dbt_bigquery_udf_spark.models.core import EngineError

    root = str(tmp_path / "gtproj")
    _write(root, "dbt_project.yml", "name: gtproj\n")
    _write(root, "macros/my_tests.sql",
           """\
           {% test is_positive(model, column_name) %}
           SELECT * FROM {{ model }} WHERE {{ column_name }} <= 0
           {% endtest %}

           {% test accepted_range(model, column_name, min_value, max_value=100) %}
           SELECT * FROM {{ model }}
           WHERE {{ column_name }} < {{ min_value }}
              OR {{ column_name }} > {{ max_value }}
           {% endtest %}

           {% test row_count_min(model, n) %}
           SELECT 1 AS violation FROM {{ model }} HAVING count(*) < {{ n }}
           {% endtest %}
           """)
    _write(root, "models/scores.sql",
           "{{ config(materialized='table', schema='datamart', dialect='spark') }}\n"
           "SELECT 10 AS ok_col, -3 AS bad_col UNION ALL SELECT 55, -1\n")
    _write(root, "models/schema.yml",
           """\
           version: 2
           models:
             - name: scores
               tests:
                 - row_count_min:
                     n: 2
               columns:
                 - name: ok_col
                   tests:
                     - is_positive
                     - accepted_range:
                         min_value: 0
                 - name: bad_col
                   tests:
                     - is_positive:
                         severity: warn
           """)
    proj = load_project(root)
    names = {t.name for t in proj.tests}
    assert names == {
        "row_count_min_scores",
        "is_positive_scores_ok_col",
        "accepted_range_scores_ok_col",
        "is_positive_scores_bad_col",
    }
    engine = prepared_engine(spark, sf_small)
    engine.register(*proj.models, replace=True)
    engine.build(select=["scores"], fail_fast=True)
    results = {r.test.name: r for r in run_tests(spark, engine, proj.tests)}
    assert results["row_count_min_scores"].passed
    assert results["is_positive_scores_ok_col"].passed
    assert results["accepted_range_scores_ok_col"].passed
    bad = results["is_positive_scores_bad_col"]
    assert not bad.passed and bad.n_failures == 2
    assert bad.test.severity == "warn"

    # unknown test name with no macro: loud, like dbt
    _write(root, "models/schema.yml",
           """\
           version: 2
           models:
             - name: scores
               columns:
                 - name: ok_col
                   tests: [no_such_test]
           """)
    with pytest.raises(EngineError, match="no_such_test"):
        load_project(root)


def test_snapshot_blocks_load_and_build(spark, sf_small, tmp_path):
    """dbt {% snapshot %} blocks under snapshot-paths load as
    kind='snapshot' specs (config: unique_key / strategy / updated_at /
    target_schema) and run the SCD2 lifecycle: a changed source row
    closes the old version and opens a new one."""
    root = str(tmp_path / "snapproj")
    _write(root, "dbt_project.yml",
           """\
           name: snapproj
           vars:
             price: 10
             upd: 2024-01-01 00:00:00
           """)
    _write(root, "models/prices.sql",
           "{{ config(materialized='table', schema='datamart', dialect='spark') }}\n"
           "SELECT 1 AS id, {{ var('price') }} AS price,\n"
           "       TIMESTAMP {{ var('upd') }} AS updated_at\n")
    _write(root, "snapshots/price_history.sql",
           """\
           {% snapshot price_history %}
           {{ config(target_schema='datamart', unique_key='id',
                     strategy='timestamp', updated_at='updated_at') }}
           SELECT * FROM {{ ref('prices') }}
           {% endsnapshot %}
           """)
    proj = load_project(root)
    spec = {m.name: m for m in proj.models}["price_history"]
    assert spec.kind == "snapshot" and spec.unique_key == "id"
    assert spec.snapshot_strategy == "timestamp" and spec.updated_at == "updated_at"
    assert spec.database == "datamart"
    engine = prepared_engine(spark, sf_small)
    engine.vars.update(proj.vars)
    spark.sql("DROP TABLE IF EXISTS datamart.price_history")
    engine.register(*proj.models, replace=True)
    engine.build(select=["price_history"], fail_fast=True)
    assert spark.table("datamart.price_history").count() == 1
    # source row changes -> second snapshot run closes v1, opens v2
    engine.vars["price"] = 20
    engine.vars["upd"] = "2024-01-02 00:00:00"
    engine.build(select=["price_history"], fail_fast=True)
    rows = spark.sql(
        "SELECT price, dbt_valid_to IS NULL AS open FROM datamart.price_history "
        "ORDER BY dbt_valid_from"
    ).collect()
    assert [(r.price, r.open) for r in rows] == [(10, False), (20, True)]


def test_cli_run_operation(spark, tmp_path):
    """`run-operation MACRO --project DIR --args JSON` expands a
    project macro (control flow + args + target context) and executes
    its statements; --dry-run prints the rendered SQL."""
    import io
    import json as _json
    from contextlib import redirect_stdout

    from dbt_bigquery_udf_spark.__main__ import main

    root = str(tmp_path / "opproj")
    _write(root, "dbt_project.yml", "name: opproj\n")
    _write(root, "macros/ops.sql",
           """\
           {% macro make_audit(tbl, n=1) %}
           CREATE DATABASE IF NOT EXISTS ops_audit;
           DROP TABLE IF EXISTS ops_audit.{{ tbl }};
           CREATE TABLE ops_audit.{{ tbl }} AS
           SELECT {{ n }} AS n, '{{ target.name }}' AS env
           {% endmacro %}
           """)
    import uuid as _uuid

    tbl = f"marker_{_uuid.uuid4().hex[:8]}"  # unique: survives stale
    # warehouse dirs left by earlier processes (derby metastore is
    # per-process; the directory is not)
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["run-operation", "make_audit", "--project", root,
                   "--args", '{"tbl": "%s", "n": 7}' % tbl, "--dry-run"])
    assert rc == 0
    out = buf.getvalue()
    assert f"CREATE TABLE ops_audit.{tbl}" in out
    assert "SELECT 7 AS n" in out and "'prod' AS env" in out

    buf2 = io.StringIO()
    with redirect_stdout(buf2):
        rc2 = main(["run-operation", "make_audit", "--project", root,
                    "--args", '{"tbl": "%s", "n": 7}' % tbl])
    assert rc2 == 0
    row = spark.table(f"ops_audit.{tbl}").first()
    assert row.n == 7 and row.env == "prod"
    # unknown macro -> exit 2
    assert main(["run-operation", "nope", "--project", root]) == 2


def test_generate_alias_name_and_alias_config(spark, sf_small, tmp_path):
    """dbt's default generate_alias_name (custom alias or node name) and
    a prefixing override both route the PHYSICAL name; ref() keeps
    using the model name."""
    root = str(tmp_path / "ganproj")
    _write(root, "dbt_project.yml", "name: ganproj\n")
    _write(root, "macros/gan.sql",
           """\
           {% macro generate_alias_name(custom_alias_name, node) -%}
           {%- if custom_alias_name is none -%}{{ node.name }}{%- else -%}{{ custom_alias_name | trim }}{%- endif -%}
           {%- endmacro %}
           """)
    _write(root, "models/plain_model.sql",
           "{{ config(materialized='table', schema='datamart', dialect='spark') }}\n"
           "SELECT 1 AS x\n")
    _write(root, "models/versioned_v3.sql",
           "{{ config(materialized='table', schema='datamart', dialect='spark', "
           "alias=' stable_name ') }}\n"
           "SELECT 2 AS x\n")
    proj = load_project(root)
    by = {m.name: m for m in proj.models}
    assert by["plain_model"].alias is None  # default: node name -> no alias
    assert by["versioned_v3"].alias == "stable_name"  # trimmed custom
    engine = prepared_engine(spark, sf_small)
    spark.sql("DROP TABLE IF EXISTS datamart.stable_name")
    engine.register(*proj.models, replace=True)
    engine.build(select=["versioned_v3"], fail_fast=True)
    assert spark.table("datamart.stable_name").first().x == 2
    assert not spark.catalog.tableExists("datamart.versioned_v3")


def test_compat_utils_package(spark, sf_small, tmp_path):
    """The vendored examples/packages/compat_utils package loads via
    packages.yml and its dbt_utils-style macros (date_spine,
    surrogate_key, safe_divide) and generic tests (not_empty_string,
    at_least_one) work end to end."""
    import os as _os

    pkg = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "examples", "packages", "compat_utils",
    )
    root = str(tmp_path / "cuproj")
    _write(root, "dbt_project.yml", "name: cuproj\n")
    _write(root, "packages.yml", f"packages:\n  - local: {pkg}\n")
    _write(root, "models/util_mart.sql",
           "{{ config(materialized='table', schema='datamart', dialect='spark') }}\n"
           "SELECT date_day,\n"
           "       {{ surrogate_key(['date_day', \"'fixed'\"]) }} AS sk,\n"
           "       {{ safe_divide(10, 0) }} AS div0,\n"
           "       {{ cents_to_dollars(12345) }} AS dollars\n"
           "FROM {{ compat_utils.date_spine('2024-03-01', '2024-03-05') }}\n")
    _write(root, "models/schema.yml",
           """\
           version: 2
           models:
             - name: util_mart
               columns:
                 - name: sk
                   tests: [not_empty_string, at_least_one]
           """)
    proj = load_project(root)
    engine = prepared_engine(spark, sf_small)
    engine.register(*proj.models, replace=True)
    engine.build(select=["util_mart"], fail_fast=True)
    df = spark.table("datamart.util_mart")
    assert df.count() == 5
    row = df.orderBy("date_day").first()
    assert row.div0 is None and float(row.dollars) == 123.45
    assert len(row.sk) == 32  # md5 hex
    # surrogate key parity with the raw recipe
    expected = spark.sql(
        "SELECT md5(concat_ws('-', coalesce(cast(to_date('2024-03-01') as string), '_null_'), "
        "coalesce(cast('fixed' as string), '_null_'))) AS sk"
    ).first().sk
    assert row.sk == expected
    results = {r.test.name: r for r in run_tests(spark, engine, proj.tests)}
    assert results["not_empty_string_util_mart_sk"].passed
    assert results["at_least_one_util_mart_sk"].passed


def test_jinja_comments_stripped(spark, sf_small, tmp_path):
    """{# ... #} comments are deleted before anything renders (Jinja
    semantics) — in model bodies, inside macro bodies, and in
    registered-spec render; an unterminated comment fails loudly."""
    from dbt_bigquery_udf_spark.models.core import EngineError, ModelSpec

    root = str(tmp_path / "cmtproj")
    _write(root, "dbt_project.yml", "name: cmtproj\n")
    _write(root, "macros/m.sql",
           "{% macro pick() %}{# inside a macro #}7{% endmacro %}\n")
    _write(root, "models/cmt.sql",
           "{{ config(materialized='view', dialect='spark') }}\n"
           "{# a leading note #}\n"
           "SELECT {{ pick() }} AS x {# trailing #}\n")
    proj = load_project(root)
    body = {m.name: m.sql for m in proj.models}["cmt"]
    assert "{#" not in body and "SELECT 7 AS x" in body
    engine = prepared_engine(spark, sf_small)
    engine.register(
        ModelSpec(name="cmt_direct", kind="view", dialect="spark",
                  sql="SELECT 1 {# registered-spec comment #} AS y"),
        replace=True,
    )
    assert "{#" not in engine.render(engine.models["cmt_direct"])
    with pytest.raises(EngineError, match="unterminated"):
        engine.render(
            ModelSpec(name="bad", kind="view", dialect="spark",
                      sql="SELECT 1 {# never closed")
        )


def test_cli_ls_lists_selection(spark, sf_small, project_dir):
    """`ls --project --select` prints the resolved model set (closure
    semantics match build) without materializing anything."""
    import io
    import json as _json
    from contextlib import redirect_stdout

    from dbt_bigquery_udf_spark.__main__ import main

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["ls", "--project", project_dir, "--select", "fixture_mart",
                   "--sf-dir", sf_small])
    assert rc == 0
    rows = [_json.loads(l) for l in buf.getvalue().splitlines() if l.startswith("{")]
    names = {r["name"] for r in rows}
    assert "fixture_mart" in names and "events_of_type" in names  # closure
    mart = next(r for r in rows if r["name"] == "fixture_mart")
    assert mart["relation"] == "datamart.fixture_mart"


def test_snapshot_block_enabled_false_skipped(tmp_path):
    """config(enabled=false) on a snapshot block skips it, as dbt does
    (round-3 review fix)."""
    root = str(tmp_path / "snapoff")
    _write(root, "dbt_project.yml", "name: snapoff\n")
    _write(root, "snapshots/off.sql",
           """\
           {% snapshot disabled_snap %}
           {{ config(enabled=false, unique_key='id', strategy='check',
                     check_cols=['v']) }}
           SELECT 1 AS id, 2 AS v
           {% endsnapshot %}
           """)
    assert [m.name for m in load_project(root).models] == []


def test_run_operation_semicolon_in_literal(spark, tmp_path):
    """Statement splitting is string-literal aware: a COMMENT containing
    ';' must not shear the statement (round-3 review fix)."""
    import io
    from contextlib import redirect_stdout

    from dbt_bigquery_udf_spark.__main__ import main

    root = str(tmp_path / "semiproj")
    _write(root, "dbt_project.yml", "name: semiproj\n")
    _write(root, "macros/ops.sql",
           "{% macro two() %}SELECT 'a; b' AS s; SELECT 2 AS t{% endmacro %}\n")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["run-operation", "two", "--project", root, "--dry-run"])
    assert rc == 0
    stmts = [l for l in buf.getvalue().splitlines() if l.strip()]
    assert stmts == ["SELECT 'a; b' AS s;", "SELECT 2 AS t;"]


def test_generate_schema_name_or_idiom(tmp_path):
    """The `custom_schema_name or target.schema` one-liner override —
    the most common production shape — routes correctly (depends on
    and/or returning operands)."""
    root = str(tmp_path / "orproj")
    _write(root, "dbt_project.yml", "name: orproj\n")
    _write(root, "macros/gsn.sql",
           "{% macro generate_schema_name(custom_schema_name, node) -%}\n"
           "{%- set s = custom_schema_name or target.schema -%}{{ s | trim }}\n"
           "{%- endmacro %}\n")
    _write(root, "models/a.sql",
           "{{ config(materialized='view', schema='marts', dialect='spark') }}\nSELECT 1 AS x\n")
    _write(root, "models/b.sql",
           "{{ config(materialized='view', dialect='spark') }}\nSELECT 1 AS x\n")
    dbs = {m.name: m.database for m in load_project(root).models}
    assert dbs == {"a": "marts", "b": "udf"}


def test_duplicate_physical_relation_rejected(tmp_path):
    """Two models collapsing to one physical relation (same schema +
    alias) fail loudly at load — last-write-wins builds would silently
    serve one model's rows for the other's ref() (round-3 review fix)."""
    from dbt_bigquery_udf_spark.models.core import EngineError

    root = str(tmp_path / "dupphys")
    _write(root, "dbt_project.yml", "name: dupphys\n")
    _write(root, "models/a.sql",
           "{{ config(materialized='table', schema='mart', alias='current', dialect='spark') }}\nSELECT 1 AS x\n")
    _write(root, "models/b.sql",
           "{{ config(materialized='table', schema='mart', alias='current', dialect='spark') }}\nSELECT 2 AS x\n")
    with pytest.raises(EngineError, match="both\\s+materialize|materialize to"):
        load_project(root)


def test_seeds_route_through_generate_schema_name(tmp_path):
    """Seeds take the generate_schema_name route like models (dbt
    behavior); snapshot target_schema stays literal (also dbt
    behavior, documented)."""
    root = str(tmp_path / "seedroute")
    _write(root, "dbt_project.yml", "name: seedroute\n")
    _write(root, "macros/gsn.sql",
           "{% macro generate_schema_name(c, node) %}routed{% endmacro %}\n")
    _write(root, "seeds/codes.csv", "code,label\n1,a\n")
    proj = load_project(root)
    assert {m.name: m.database for m in proj.models} == {"codes": "routed"}


def test_multikey_test_entry_fails_loudly(tmp_path):
    """A mis-indented schema.yml test entry (two keys in one dict) must
    raise, not silently drop the sibling key (round-3 review fix)."""
    from dbt_bigquery_udf_spark.models.core import EngineError

    root = str(tmp_path / "yamlbad")
    _write(root, "dbt_project.yml", "name: yamlbad\n")
    _write(root, "models/m.sql", "SELECT 1 AS c\n")
    _write(root, "models/schema.yml",
           """\
           version: 2
           models:
             - name: m
               columns:
                 - name: c
                   tests:
                     - accepted_values: {values: [a]}
                       severity: warn
           """)
    with pytest.raises(EngineError, match="malformed test entry"):
        load_project(root)


def test_run_operation_escaped_quote_args(tmp_path):
    """A string argument containing a quote (escaped by _jarg) and a
    semicolon must not shear the statement (round-3 review fix)."""
    import io
    from contextlib import redirect_stdout

    from dbt_bigquery_udf_spark.__main__ import main

    root = str(tmp_path / "escproj")
    _write(root, "dbt_project.yml", "name: escproj\n")
    _write(root, "macros/ops.sql",
           "{% macro note(msg) %}SELECT '{{ msg }}' AS m; SELECT 1 AS t{% endmacro %}\n")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["run-operation", "note", "--project", root,
                   "--args", '{"msg": "O\'Brien; audit"}', "--dry-run"])
    assert rc == 0
    stmts = [l for l in buf.getvalue().splitlines() if l.strip()]
    assert len(stmts) == 2 and "O\\'Brien; audit" in stmts[0]


def test_run_operation_v2_create_udfs_run_query(spark, tmp_path):
    """The reference README's v2 maintenance-macro shape executes via
    run-operation: `create_udfs` loops a function list, fetches each UDF
    macro through `context.get(name)`, and executes its rendered DDL
    with `{% do run_query(...) %}` (reference: README.md:156-176).
    Spark-flavored DDL replaces the BigQuery `AS (expr)` body, the
    orchestration shape is verbatim."""
    import io
    import uuid as _uuid
    from contextlib import redirect_stdout

    from dbt_bigquery_udf_spark.__main__ import main

    fn = f"test_udf_{_uuid.uuid4().hex[:8]}"
    root = str(tmp_path / "v2proj")
    _write(root, "dbt_project.yml", "name: v2proj\n")
    _write(root, "macros/ddl_generator.sql",
           """\
           {% macro ddl_generator(function_name, type, params=[], return_type='') %}
           {% set params_string %}{% for param in params %}{{ param }}{% if not loop.last %}, {% endif %}{% endfor %}{% endset %}
           CREATE OR REPLACE {{ type }} ops_udf.{{ function_name }} ({{ params_string }}) RETURNS {{ return_type }}
           {% endmacro %}
           """)
    _write(root, "macros/udf/parse_datetime_udf.sql",
           """\
           {% macro parse_datetime_udf() %}
           CREATE DATABASE IF NOT EXISTS ops_udf;
           {{
               ddl_generator(
                   function_name = '__FN__',
                   type = 'FUNCTION',
                   params = [
                       'timestamp_str STRING'
                   ],
                   return_type = 'TIMESTAMP'
               )
           }}
           RETURN TO_TIMESTAMP(timestamp_str, 'yyyy-MM-dd')
           {% endmacro %}
           """.replace("__FN__", fn))
    _write(root, "macros/create_udfs.sql",
           """\
           {% macro create_udfs(function_list=[], table_function_list=[]) %}
           {% for function in function_list %}
           {% set macro_func = context.get(function) %}
           {% do run_query(macro_func()) %};
           {% endfor %}
           {% for table_function in table_function_list %}
           {% set macro_func = context.get(table_function) %}
           {% do run_query(macro_func()) %};
           {% endfor %}
           {% endmacro %}
           """)
    # dry-run: run_query prints the statements it WOULD execute
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["run-operation", "create_udfs", "--project", root,
                   "--args", '{"function_list": ["parse_datetime_udf"]}',
                   "--dry-run"])
    assert rc == 0
    out = buf.getvalue()
    assert f"CREATE OR REPLACE FUNCTION ops_udf.{fn}" in out
    assert "RETURN TO_TIMESTAMP(timestamp_str, 'yyyy-MM-dd')" in out
    # real run, dbt-style YAML-ish --args (not strict JSON)
    buf2 = io.StringIO()
    with redirect_stdout(buf2):
        rc2 = main(["run-operation", "create_udfs", "--project", root,
                    "--args", "{function_list: ['parse_datetime_udf']}"])
    assert rc2 == 0
    row = spark.sql(f"SELECT ops_udf.{fn}('2024-03-05') AS ts").first()
    assert str(row.ts).startswith("2024-03-05")


def test_hub_package_vendored_resolution(spark, sf_small, tmp_path):
    """packages.yml hub entries (`- package: dbt-labs/dbt_utils`)
    resolve OFFLINE: project dbt_packages/<name>/ first (dbt's install
    layout, reference dbt_project.yml:24 clean-targets), then the
    engine's shipped mirror in examples/packages/; unmirrored names
    reject loudly. The mirror's date_spine matches a native
    sequence-spine oracle (end-exclusive, hub contract)."""
    from dbt_bigquery_udf_spark.models.core import EngineError

    root = str(tmp_path / "hubproj")
    _write(root, "dbt_project.yml", "name: hubproj\n")
    _write(root, "packages.yml",
           "packages:\n  - package: dbt-labs/dbt_utils\n    version: 1.1.1\n")
    _write(root, "models/spine_mart.sql",
           "{{ config(materialized='table', schema='datamart', dialect='spark') }}\n"
           "SELECT date_day,\n"
           "       {{ dbt_utils.generate_surrogate_key(['date_day']) }} AS sk,\n"
           "       {{ dbt_utils.datediff(\"to_date('2024-03-01')\", 'date_day', 'day') }} AS d,\n"
           "       {{ dbt_utils.safe_cast(\"'7'\", 'int') }} AS seven,\n"
           "       {{ dbt_utils.last_day('date_day', 'month') }} AS eom\n"
           "FROM {{ dbt_utils.date_spine('day', \"'2024-03-01'\", \"'2024-03-08'\") }}\n")
    proj = load_project(root)
    engine = prepared_engine(spark, sf_small)
    engine.register(*proj.models, replace=True)
    engine.build(select=["spine_mart"], fail_fast=True)
    df = spark.table("datamart.spine_mart")
    assert df.count() == 7  # end-exclusive: 03-01 .. 03-07
    # spine parity with the raw sequence oracle
    got = sorted(str(r.date_day)[:10] for r in df.collect())
    want = [r.d for r in spark.sql(
        "SELECT cast(s AS string) AS d FROM (SELECT explode(sequence("
        "to_date('2024-03-01'), to_date('2024-03-07'), interval 1 day)) AS s)"
    ).collect()]
    assert got == sorted(want)
    row = df.orderBy("date_day").first()
    assert row.d == 0 and row.seven == 7 and str(row.eom)[:10] == "2024-03-31"
    assert len(row.sk) == 32

    # dbt_packages/<name>/ takes priority over the shipped mirror
    root2 = str(tmp_path / "hubproj2")
    _write(root2, "dbt_project.yml", "name: hubproj2\n")
    _write(root2, "packages.yml", "packages:\n  - package: acme/localpkg\n")
    _write(root2, "dbt_packages/localpkg/dbt_project.yml", "name: localpkg\n")
    _write(root2, "dbt_packages/localpkg/macros/m.sql",
           "{% macro fortytwo() %}42{% endmacro %}\n")
    proj2 = load_project(root2)
    assert "localpkg.fortytwo" in proj2.macros or "fortytwo" in proj2.macros

    # unmirrored hub name -> loud error naming both looked-up paths
    root3 = str(tmp_path / "hubproj3")
    _write(root3, "dbt_project.yml", "name: hubproj3\n")
    _write(root3, "packages.yml", "packages:\n  - package: acme/no_such_pkg\n")
    with pytest.raises(EngineError, match="no_such_pkg.*not vendored|not vendored.*no_such_pkg"):
        load_project(root3)

    # unvendored git entries still reject loudly (round 6: vendored
    # ones resolve from dbt_packages/ — test_git_package_vendored_resolution)
    root4 = str(tmp_path / "hubproj4")
    _write(root4, "dbt_project.yml", "name: hubproj4\n")
    _write(root4, "packages.yml",
           "packages:\n  - git: https://example.com/repo.git\n")
    with pytest.raises(EngineError, match="not vendored"):
        load_project(root4)


def test_run_operation_call_statement_load_result(spark, tmp_path):
    """{% call statement('name', fetch_result=True) %} — dbt's statement
    block, the dominant dbt_utils/maintenance-macro shape after
    run_query — executes its rendered body during macro evaluation and
    exposes the rows to the rest of the macro via load_result('name').
    The follow-up statement built FROM the fetched value proves the
    execute-then-read round trip; nothing double-executes."""
    import io
    import uuid as _uuid
    from contextlib import redirect_stdout

    from dbt_bigquery_udf_spark.__main__ import main

    tbl = f"ops_callstmt.t_{_uuid.uuid4().hex[:8]}"
    spark.sql("CREATE DATABASE IF NOT EXISTS ops_callstmt")
    spark.createDataFrame([(3,), (5,)], "v int").write.saveAsTable(tbl)
    root = str(tmp_path / "callproj")
    _write(root, "dbt_project.yml", "name: callproj\n")
    _write(root, "macros/sweep.sql",
           """\
           {% macro sweep(table_name) %}
           {% call statement('mx', fetch_result=True) %}
               SELECT max(v) AS mv FROM {{ table_name }}
           {% endcall %}
           {% set r = load_result('mx') %}
           SELECT {{ r['data'][0][0] }} AS got_max
           {% endmacro %}
           """)
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["run-operation", "sweep", "--project", root,
                   "--args", '{"table_name": "' + tbl + '"}'])
    assert rc == 0
    out = buf.getvalue()
    # the statement body executed once (run_query ledger line) and the
    # leftover SELECT used its fetched max
    assert '"rows": 1' in out
    assert "SELECT 5 AS got_max" in out or '"statement": "SELECT 5' in out


def test_run_operation_args_colon_inside_string_value(tmp_path):
    """The YAML-ish --args fallback must not rewrite bare-word-key
    patterns INSIDE quoted string values: {msg: 'retry: later, level:
    high'} keeps the value intact (round-5 ADVICE)."""
    import io
    from contextlib import redirect_stdout

    from dbt_bigquery_udf_spark.__main__ import main

    root = str(tmp_path / "colonproj")
    _write(root, "dbt_project.yml", "name: colonproj\n")
    _write(root, "macros/ops.sql",
           "{% macro note(msg) %}SELECT '{{ msg }}' AS m{% endmacro %}\n")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["run-operation", "note", "--project", root,
                   "--args", "{msg: 'retry: later, level: high'}",
                   "--dry-run"])
    assert rc == 0
    assert "retry: later, level: high" in buf.getvalue()


def test_git_package_vendored_resolution(spark, sf_small, tmp_path):
    """packages.yml git entries resolve OFFLINE from the tree a `dbt
    deps` run left in dbt_packages/<repo>/ (revision informational,
    subdirectory honored); an unvendored git URL rejects loudly with
    the looked-up path — never a clone."""
    from dbt_bigquery_udf_spark.models.core import EngineError

    root = str(tmp_path / "gitproj")
    _write(root, "dbt_project.yml", "name: gitproj\n")
    _write(root, "dbt_packages/audit_helpers/dbt_project.yml",
           "name: audit_helpers\n")
    _write(root, "dbt_packages/audit_helpers/macros/h.sql",
           "{% macro mark(x) %}SELECT '{{ x }}' AS marked{% endmacro %}\n")
    _write(root, "packages.yml",
           """\
           packages:
             - git: https://github.com/example-org/audit_helpers.git
               revision: 1.2.0
           """)
    proj = load_project(root)
    assert "mark" in proj.macros
    # unvendored -> loud, names the path
    root2 = str(tmp_path / "gitproj2")
    _write(root2, "dbt_project.yml", "name: gitproj2\n")
    _write(root2, "packages.yml",
           "packages:\n  - git: https://example.com/org/nope.git\n")
    with pytest.raises(EngineError, match="dbt_packages/nope"):
        load_project(root2)


def test_run_operation_args_yaml_booleans(tmp_path):
    """dbt-style --args with YAML booleans/null parses: {flag: true,
    cap: null} binds Python True/None (round-6 review fix)."""
    import io
    from contextlib import redirect_stdout

    from dbt_bigquery_udf_spark.__main__ import main

    root = str(tmp_path / "boolproj")
    _write(root, "dbt_project.yml", "name: boolproj\n")
    _write(root, "macros/ops.sql",
           """\
           {% macro note(flag, cap) %}
           {% if flag and cap is none %}SELECT 'armed' AS m{% else %}SELECT 'off' AS m{% endif %}
           {% endmacro %}
           """)
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["run-operation", "note", "--project", root,
                   "--args", "{flag: true, cap: null}", "--dry-run"])
    assert rc == 0
    assert "'armed'" in buf.getvalue()


def test_git_package_dash_to_underscore_and_project_name(tmp_path):
    """A git URL whose repo basename (dbt-utils) differs from the
    installed project-name directory (dbt_utils) still resolves — the
    dbt deps layout (round-6 review fix); project-name scan covers
    arbitrary renames."""
    root = str(tmp_path / "gitdash")
    _write(root, "dbt_project.yml", "name: gitdash\n")
    _write(root, "dbt_packages/dbt_utils/dbt_project.yml", "name: dbt_utils\n")
    _write(root, "dbt_packages/dbt_utils/macros/u.sql",
           "{% macro u_mark() %}SELECT 1{% endmacro %}\n")
    _write(root, "packages.yml",
           "packages:\n  - git: https://github.com/dbt-labs/dbt-utils.git\n")
    proj = load_project(root)
    assert any(m.endswith("u_mark") or m == "u_mark" for m in proj.macros)
    # arbitrary directory name, matched via dbt_project.yml name scan
    root2 = str(tmp_path / "gitscan")
    _write(root2, "dbt_project.yml", "name: gitscan\n")
    _write(root2, "dbt_packages/checkout_xyz/dbt_project.yml",
           "name: audit-kit\n")
    _write(root2, "dbt_packages/checkout_xyz/macros/a.sql",
           "{% macro a_mark() %}SELECT 2{% endmacro %}\n")
    _write(root2, "packages.yml",
           "packages:\n  - git: https://example.com/org/audit-kit.git\n")
    proj2 = load_project(root2)
    assert any("a_mark" in m for m in proj2.macros)


def test_dbt_utils_introspective_macros_e2e(spark, sf_small, tmp_path):
    """Round-8 dbt_utils widening (VERDICT r7 #7): star /
    get_column_values / pivot / union_relations — the four
    highest-frequency dbt_utils calls in public dbt trees — work end to
    end in a project, with dbt's exact keyword spellings (from= /
    except=). They are build-time engine helpers (upstream implements
    them on adapter introspection + run_query, which only exist when
    the model renders); see dbt_bigquery_udf_spark/utils_compat.py."""
    root = str(tmp_path / "utilsproj")
    _write(root, "dbt_project.yml", "name: utilsproj\n")
    _write(root, "seeds/payments.csv",
           "id,method,amount\n1,card,5.0\n2,cash,3.0\n3,card,9.0\n")
    _write(root, "seeds/refunds.csv", "id,method\n9,wire\n")
    _write(root, "models/starred.sql",
           "{{ config(materialized='table', schema='datamart', dialect='spark') }}\n"
           "SELECT {{ dbt_utils.star(from=ref('payments'), except=['id'], prefix='p_') }}\n"
           "FROM {{ ref('payments') }}\n")
    _write(root, "models/pivoted.sql",
           "{{ config(materialized='table', schema='datamart', dialect='spark') }}\n"
           "SELECT {{ dbt_utils.pivot('method',\n"
           "          dbt_utils.get_column_values(table=ref('payments'),\n"
           "                                      column='method', order_by='v')) }}\n"
           "FROM {{ ref('payments') }}\n")
    _write(root, "models/unioned.sql",
           "{{ config(materialized='table', schema='datamart', dialect='spark') }}\n"
           "SELECT * FROM {{ dbt_utils.union_relations(\n"
           "    relations=[ref('payments'), ref('refunds')]) }}\n")
    proj = load_project(root)
    engine = prepared_engine(spark, sf_small)
    engine.register(*proj.models, replace=True)
    engine.build(
        select=["payments", "refunds", "starred", "pivoted", "unioned"],
        fail_fast=True,
    )
    starred = spark.table("datamart.starred")
    assert starred.columns == ["p_method", "p_amount"]
    piv = spark.table("datamart.pivoted")
    assert sorted(piv.columns) == ["card", "cash"]
    assert piv.first().card == 2 and piv.first().cash == 1
    uni = spark.table("datamart.unioned")
    assert sorted(uni.columns) == ["_dbt_source_relation", "amount", "id", "method"]
    assert uni.count() == 4
    # NULL-filled column for the relation lacking it, tagged by source
    wire = uni.filter("method = 'wire'").first()
    assert wire.amount is None and "refunds" in wire._dbt_source_relation


def test_dbt_utils_expression_is_true_null_passes(spark, sf_small, tmp_path):
    """Upstream NULL semantics (ADVICE r9): expression_is_true is
    ``WHERE NOT (expr)`` — a row where the expression is NULL filters
    OUT (i.e. PASSES the test), matching dbt-labs/dbt_utils' own
    ``where not(expression)``; only definitively-FALSE rows fail."""
    root = str(tmp_path / "nullproj")
    _write(root, "dbt_project.yml", "name: nullproj\n")
    _write(root, "packages.yml",
           "packages:\n  - package: dbt-labs/dbt_utils\n    version: 1.1.1\n")
    _write(root, "models/nullable_vals.sql",
           "{{ config(materialized='table', schema='datamart', dialect='spark') }}\n"
           "SELECT x FROM VALUES (1), (CAST(NULL AS INT)), (-1) AS t(x)\n")
    _write(root, "models/schema.yml",
           """\
           version: 2
           models:
             - name: nullable_vals
               tests:
                 - expression_is_true:
                     expression: "x > 0"
           """)
    proj = load_project(root)
    engine = prepared_engine(spark, sf_small)
    engine.register(*proj.models, replace=True)
    engine.build(select=["nullable_vals"], fail_fast=True)
    results = {r.test.name: r for r in run_tests(spark, engine, proj.tests)}
    res = results["expression_is_true_nullable_vals"]
    # x=1 passes, x=NULL passes (upstream), only x=-1 fails
    assert not res.passed and res.n_failures == 1


def test_dbt_utils_tier2_package(spark, sf_small, tmp_path):
    """Round-9 dbt_utils tier 2 (VERDICT r8 #8): the hub mirror's
    date_spine drives an end-to-end model through group_by; unpivot
    (build-time introspective, upstream arg surface incl. the quirky
    cast_to default) melts the built mart; and the MIRROR's generic
    tests — accepted_range, expression_is_true,
    unique_combination_of_columns — run from schema.yml via the
    packages.yml hub resolution, with pass and fail cases."""
    from dbt_bigquery_udf_spark.models.core import ModelSpec

    root = str(tmp_path / "t2proj")
    _write(root, "dbt_project.yml", "name: t2proj\n")
    _write(root, "packages.yml",
           "packages:\n  - package: dbt-labs/dbt_utils\n    version: 1.1.1\n")
    _write(root, "models/tier2_wide.sql",
           "{{ config(materialized='table', schema='datamart', dialect='spark') }}\n"
           "SELECT month(date_day) AS m, count(*) AS n_days,\n"
           "       max(day(date_day)) AS max_day\n"
           "FROM {{ dbt_utils.date_spine('day', \"'2024-02-27'\", \"'2024-03-03'\") }}\n"
           "{{ dbt_utils.group_by(1) }}\n")
    _write(root, "models/schema.yml",
           """\
           version: 2
           models:
             - name: tier2_wide
               tests:
                 - unique_combination_of_columns:
                     combination_of_columns: [m, n_days]
                 - expression_is_true:
                     expression: "n_days >= 2"
               columns:
                 - name: n_days
                   tests:
                     - accepted_range:
                         min_value: 0
                         max_value: 10
                 - name: max_day
                   tests:
                     - accepted_range:
                         min_value: 0
                         max_value: 10
                         severity: warn
           """)
    proj = load_project(root)
    engine = prepared_engine(spark, sf_small)
    engine.register(*proj.models, replace=True)
    engine.build(select=["tier2_wide"], fail_fast=True)
    # leap-year February + end-exclusive spine: feb 27/28/29, mar 1/2
    rows = {
        int(r.m): (int(r.n_days), int(r.max_day))
        for r in spark.table("datamart.tier2_wide").collect()
    }
    assert rows == {2: (3, 29), 3: (2, 2)}
    results = {r.test.name: r for r in run_tests(spark, engine, proj.tests)}
    assert results["unique_combination_of_columns_tier2_wide"].passed
    assert results["expression_is_true_tier2_wide"].passed
    assert results["accepted_range_tier2_wide_n_days"].passed
    bad = results["accepted_range_tier2_wide_max_day"]
    assert not bad.passed and bad.n_failures == 1  # feb max_day=29 > 10
    assert bad.test.severity == "warn"

    # unpivot the built mart (introspective: the relation must already
    # exist, upstream's documented contract)
    engine.register(
        ModelSpec(
            name="tier2_long",
            kind="table",
            database="datamart",
            dialect="spark",
            sql=(
                "SELECT * FROM {{ dbt_utils.unpivot('datamart.tier2_wide', "
                "cast_to='bigint', exclude=['m'], field_name='metric', "
                "value_name='v') }}"
            ),
        ),
        replace=True,
    )
    engine.build(select=["tier2_long"], fail_fast=True)
    long_rows = {
        (int(r.m), r.metric): int(r.v)
        for r in spark.table("datamart.tier2_long").collect()
    }
    assert long_rows == {
        (2, "n_days"): 3,
        (2, "max_day"): 29,
        (3, "n_days"): 2,
        (3, "max_day"): 2,
    }


# -- examples/llm_corpus: the shipped user-shaped pipeline project ----------


def test_example_llm_corpus_cli_build_test_unit(spark, sf_small):
    """The committed example tree must stay loadable and runnable through
    the three user entry points (`build` / `test` / `unit-test`) — the same
    artifact ref_llm_corpus_project drives programmatically. Guards the
    example against bit-rot (a model rename, a YAML typo, a vars drift
    breaks HERE, not in a user's first contact)."""
    import io
    import json
    import os
    from contextlib import redirect_stdout

    from dbt_bigquery_udf_spark.__main__ import main

    proj = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "examples",
        "llm_corpus",
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(
            ["build", "--project", proj, "--select", "corpus_stats",
             "--sf-dir", sf_small]
        )
    assert rc == 0
    lines = [
        json.loads(l) for l in buf.getvalue().splitlines() if l.startswith("{")
    ]
    built = {l["model"] for l in lines if "model" in l}
    # the full ref chain came along with the one selected mart
    assert {"stg_documents", "quality_filtered", "dedup_survivors",
            "corpus_stats"} <= built
    assert spark.table("corpus.corpus_stats").count() > 0

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["test", "--project", proj, "--sf-dir", sf_small])
    assert rc == 0, buf.getvalue()

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["unit-test", "--project", proj, "--sf-dir", sf_small])
    assert rc == 0, buf.getvalue()


def test_seed_schema_config_routes_database():
    """dbt's ``seeds: <project>: +schema`` config tree must route a seed
    CSV into that schema exactly as a model's +schema would (previously
    ignored: every seed landed in the ModelSpec default database)."""
    import os

    from dbt_bigquery_udf_spark.project import load_project

    proj = load_project(
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "examples",
            "llm_corpus",
        )
    )
    seed = next(m for m in proj.models if m.kind == "seed")
    assert seed.name == "lang_weights"
    assert seed.database == "corpus"
