"""Engine CLI — the ``dbt run`` analogue (SURVEY.md §2.1 F16).

Selective, environment-scoped builds of the model DAG plus registry
introspection:

    python -m dbt_bigquery_udf_spark build [--select NAME ...] [--env ENV]
        [--sf-dir DIR] [--threads N]
    python -m dbt_bigquery_udf_spark list
    python -m dbt_bigquery_udf_spark run-query NAME [--sf-dir DIR]

``build --select`` builds only the named models plus their upstream
closure (reference: ``dbt run --select udf.function.parse_datetime``,
README.md:322-327); ``--env`` routes relations into the env-suffixed
databases (udf_staging, ...; reference README.md:178-193).
"""

from __future__ import annotations

import argparse
import json
import re
import sys


def split_sql_statements(sql: str) -> list[str]:
    """Split on ';' OUTSIDE string literals AND SQL comments.

    A ';' inside a quoted literal, a `--` line comment, or a `/* */`
    block comment must not shear the statement (round-3 ADVICE: the
    previous splitter was quote-aware only, so a macro emitting
    `-- cleanup; keep history` produced invalid fragments). Comment text
    is preserved verbatim in the statement it belongs to.
    """
    statements: list[str] = []
    cur: list[str] = []
    quote: str | None = None
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if quote:
            cur.append(ch)
            if ch == "\\" and i + 1 < n:
                cur.append(sql[i + 1])
                i += 2
                continue
            if ch == quote:
                quote = None
            i += 1
            continue
        if ch in ("'", '"'):
            quote = ch
            cur.append(ch)
            i += 1
            continue
        if ch == "-" and sql.startswith("--", i):
            j = sql.find("\n", i)
            j = n if j == -1 else j
            cur.append(sql[i:j])
            i = j
            continue
        if ch == "/" and sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            j = n if j == -1 else j + 2  # unterminated: rest is comment
            cur.append(sql[i:j])
            i = j
            continue
        if ch == ";":
            statements.append("".join(cur))
            cur = []
            i += 1
            continue
        cur.append(ch)
        i += 1
    statements.append("".join(cur))
    return [s.strip() for s in statements if s.strip()]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="dbt_bigquery_udf_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="materialize the model DAG")
    b.add_argument(
        "--select",
        nargs="*",
        default=None,
        help="model subset: NAME (with upstream closure), NAME+ (plus "
        "downstream), +NAME, tag:T, state:modified[+]",
    )
    b.add_argument(
        "--exclude",
        nargs="*",
        default=None,
        help="models dropped from the selection after closure (dbt --exclude)",
    )
    b.add_argument(
        "--vars",
        default=None,
        help="JSON object for {{ var('name') }} resolution (dbt --vars)",
    )
    b.add_argument(
        "--full-refresh",
        action="store_true",
        help="drop incremental/snapshot targets first and rebuild from "
        "scratch (dbt --full-refresh)",
    )
    b.add_argument("--env", default=None, help="environment (staging/dev/ci)")
    b.add_argument(
        "--project",
        default=None,
        help="dbt-style project directory (dbt_project.yml + models/**/*.sql "
        "+ schema.yml) loaded on top of the built-in registry",
    )
    b.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    b.add_argument("--threads", type=int, default=8)
    b.add_argument(
        "--state",
        default=None,
        help="saved state file for state:modified selectors (dbt Slim CI)",
    )
    b.add_argument(
        "--selector",
        default=None,
        help="named selector from the project's selectors.yml "
        "(requires --project; dbt --selector)",
    )
    b.add_argument(
        "--run-results",
        default=None,
        help="write a dbt run_results.json-style artifact (per-model "
        "status + execution time) to this path",
    )
    b.add_argument(
        "--defer",
        action="store_true",
        dest="defer_build",
        help="resolve refs to UNSELECTED models against the --state "
        "manifest's relations instead of rebuilding them (dbt --defer; "
        "requires --state)",
    )
    b.add_argument(
        "--favor-state",
        action="store_true",
        help="with --defer: always prefer the state relation, even when "
        "the target env already has one (dbt --favor-state)",
    )

    ws = sub.add_parser(
        "write-state",
        help="save model fingerprints for later state:modified selection",
    )
    ws.add_argument("path")
    ws.add_argument("--env", default=None)
    ws.add_argument("--project", default=None, help="dbt-style project directory")
    ws.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ws.add_argument("--vars", default=None, help="JSON object for var() resolution (dbt --vars)")

    sub.add_parser("list", help="list registered driver-contract queries")

    t = sub.add_parser("test", help="run schema tests against the built DAG")
    t.add_argument("--env", default=None)
    t.add_argument(
        "--project",
        default=None,
        help="dbt-style project directory: its schema.yml tests run "
        "instead of the built-in reference suite",
    )
    t.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    t.add_argument("--vars", default=None, help="JSON object for var() resolution (dbt --vars)")
    t.add_argument(
        "--store-failures",
        action="store_true",
        help="materialize each failing test's violating rows to "
        "dbt_test__audit.<test_name> (dbt's store_failures config)",
    )

    d = sub.add_parser(
        "docs", help="emit the model manifest (dbt docs generate analogue)"
    )
    d.add_argument("--env", default=None)
    d.add_argument("--project", default=None, help="dbt-style project directory")
    d.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    d.add_argument("--vars", default=None, help="JSON object for var() resolution (dbt --vars)")
    d.add_argument(
        "--catalog",
        action="store_true",
        help="build the DAG and add warehouse-observed columns + "
        "ANALYZE statistics (dbt catalog.json analogue)",
    )

    cp = sub.add_parser(
        "compile",
        help="print each model's rendered Spark SQL without building "
        "(dbt compile analogue)",
    )
    cp.add_argument("--select", nargs="*", default=None)
    cp.add_argument("--env", default=None)
    cp.add_argument("--project", default=None, help="dbt-style project directory")
    cp.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    cp.add_argument(
        "--vars",
        default=None,
        help="JSON object for {{ var('name') }} resolution (dbt --vars)",
    )

    q_ = sub.add_parser(
        "sql",
        help="run ad-hoc SQL (BigQuery dialect, transpiled) against the sources",
    )
    q_.add_argument("query", help="SQL text; BigQuery dialect unless --dialect spark")
    q_.add_argument("--dialect", choices=["bigquery", "spark"], default="bigquery")
    q_.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q_.add_argument("--env", default=None)
    q_.add_argument(
        "--build",
        action="store_true",
        help="materialize the model DAG first so UDF/TVF calls resolve",
    )
    q_.add_argument("--limit", type=int, default=20)
    q_.add_argument("--show-sql", action="store_true", help="print the transpiled SQL")

    sh = sub.add_parser(
        "show",
        help="run a model's compiled SQL inline and print the first rows "
        "without materializing (dbt show analogue; upstream relations "
        "must already be built)",
    )
    sh.add_argument("model")
    sh.add_argument("--limit", type=int, default=5)
    sh.add_argument("--env", default=None)
    sh.add_argument("--project", default=None, help="dbt-style project directory")
    sh.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    sh.add_argument("--vars", default=None)

    u = sub.add_parser(
        "unit-test",
        help="run dbt-style unit tests (given/expect fixtures) for the "
        "reference models",
    )
    u.add_argument("--env", default=None)
    u.add_argument("--project", default=None, help="dbt-style project directory: run its unit_tests: suites")
    u.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    u.add_argument("--vars", default=None, help="JSON object for var() resolution (dbt --vars)")

    fr = sub.add_parser(
        "source-freshness",
        help="age of the newest row per source vs warn/error thresholds "
        "(dbt source freshness analogue)",
    )
    fr.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    fr.add_argument(
        "--project",
        default=None,
        help="check every source with loaded_at_field + freshness "
        "declared in the project's YAML instead of --relation",
    )
    fr.add_argument("--vars", default=None, help="JSON object for var() resolution (dbt --vars)")
    fr.add_argument("--relation", default="src.events")
    fr.add_argument("--ts-column", default="ts")
    fr.add_argument("--warn-after-hours", type=float, default=24.0)
    fr.add_argument("--error-after-hours", type=float, default=72.0)

    sw = sub.add_parser(
        "sweep-expired",
        help="drop tables/partitions past their BigQuery-style TTL "
        "(hours_to_expiration / partition_expiration_days)",
    )
    sw.add_argument("--env", default=None)
    sw.add_argument("--sf-dir", default="/root/testdata/sf0.001")

    dl = sub.add_parser(
        "delete-rows",
        help="GDPR-style targeted deletion: remove rows by key from a "
        "built model, rewriting only the partitions the keys live in",
    )
    dl.add_argument("model")
    dl.add_argument("keys", nargs="+", help="key values to delete")
    dl.add_argument("--key-col", default=None, help="defaults to the model's unique_key")
    dl.add_argument("--env", default=None)
    dl.add_argument("--sf-dir", default="/root/testdata/sf0.001")

    ls_p = sub.add_parser(
        "ls", help="list resolved models for a selection (dbt ls)"
    )
    ls_p.add_argument("--select", nargs="*", default=None)
    ls_p.add_argument("--exclude", nargs="*", default=None)
    ls_p.add_argument("--state", default=None)
    ls_p.add_argument("--project", default=None)
    ls_p.add_argument("--vars", default=None)
    ls_p.add_argument("--env", default=None)
    ls_p.add_argument("--sf-dir", default="/root/testdata/sf0.001")

    ro = sub.add_parser(
        "run-operation",
        help="expand a project macro and execute its SQL (dbt run-operation)",
    )
    ro.add_argument("macro")
    ro.add_argument("--project", required=True)
    ro.add_argument("--args", default=None, help="JSON object of macro kwargs")
    ro.add_argument("--vars", default=None)
    ro.add_argument("--env", default=None)
    ro.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ro.add_argument(
        "--dry-run",
        action="store_true",
        help="print the rendered SQL without executing",
    )

    r = sub.add_parser("run-query", help="run a registered query and print rows")
    r.add_argument("name")
    r.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    r.add_argument("--limit", type=int, default=20)
    r.add_argument(
        "--explain",
        action="store_true",
        help="print physical-plan facts (shuffles/broadcasts/pushdown) instead of rows",
    )

    args = ap.parse_args(argv)

    def _overlay_project(engine):
        """Register --project models/vars on top of the built-in registry."""
        if getattr(args, "project", None):
            from .project import load_project

            proj = load_project(
                args.project,
                env=getattr(args, "env", None),
                cli_vars=(
                    json.loads(args.vars)
                    if getattr(args, "vars", None)
                    else None
                ),
            )
            for k, v in proj.vars.items():
                engine.vars.setdefault(k, v)
            engine.register(*proj.models, replace=True)
            engine.on_run_start = engine.on_run_start + proj.on_run_start
            engine.on_run_end = engine.on_run_end + proj.on_run_end
            if proj.exposures:
                engine.register_exposures(*proj.exposures)
            if proj.metrics and getattr(engine, "metric_registry", None):
                engine.metric_registry.register(*proj.metrics)
            return proj
        return None

    if args.cmd == "list":
        from . import queries as q

        for name in sorted(q.QUERIES):
            kind = "oracle" if name in q.ORACLES else "rows-only"
            print(f"{name}\t{kind}")
        return 0

    if args.cmd == "run-operation":
        # dbt run-operation: expand a project macro with --args kwargs and
        # execute the resulting statements — the maintenance-macro surface
        # (grant sweeps, manual cleanups, ad-hoc DDL).
        from .catalog import EngineError
        from .macros import expand_macros, split_quoted, var_lookup
        from .project import load_project

        proj = load_project(
            args.project,
            env=args.env,
            cli_vars=json.loads(args.vars) if args.vars else None,
        )
        if args.macro not in proj.macros:
            print(
                f"macro {args.macro!r} not found in project "
                f"(loaded: {sorted(proj.macros)})",
                file=sys.stderr,
            )
            return 2

        def _jarg(v):
            if isinstance(v, bool):
                return "true" if v else "false"
            if isinstance(v, str):
                return "'" + v.replace("'", "\\'") + "'"
            if v is None:
                return "none"
            return repr(v)

        # dbt's --args is YAML; accept strict JSON first, then fall
        # back to a Python-literal parse so dbt-style quoting like
        # --args "{function_list: ['parse_datetime']}" still loads
        # (bare-word keys get quoted before literal_eval).
        if args.args:
            try:
                kwargs = json.loads(args.args)
            except json.JSONDecodeError:
                import ast as _ast_mod

                # Quote bare-word keys, then spell the YAML literals dbt
                # accepts (true/false/null, and Jinja-ish none) the
                # Python way — each OUTSIDE quoted spans only, so a
                # value like 'retry: later, level: high' survives the
                # rewrite untouched (round-5 ADVICE: the naive re.sub
                # also fired inside string literals).
                _YAML_LIT = {
                    "true": "True", "false": "False",
                    "null": "None", "none": "None",
                }
                quoted = args.args
                for pattern, repl in (
                    (r"([{,]\s*)([A-Za-z_]\w*)\s*:", r"\1'\2':"),
                    (r"\b(true|false|null|none)\b", lambda m: _YAML_LIT[m.group(1)]),
                ):
                    quoted = "".join(
                        p if i % 2 else re.sub(pattern, repl, p)
                        for i, p in enumerate(split_quoted(quoted))
                    )
                try:
                    kwargs = _ast_mod.literal_eval(quoted)
                except (ValueError, SyntaxError):
                    print(
                        f"--args is neither JSON nor a Python/YAML-style "
                        f"mapping literal: {args.args!r}",
                        file=sys.stderr,
                    )
                    return 2
            if not isinstance(kwargs, dict):
                print("--args must be a mapping", file=sys.stderr)
                return 2
        else:
            kwargs = {}
        call = ", ".join(f"{k}={_jarg(v)}" for k, v in kwargs.items())
        merged_vars = {
            **proj.vars,
            **(json.loads(args.vars) if args.vars else {}),
        }
        op_var = var_lookup(merged_vars, f"run-operation {args.macro}")

        from .catalog import target_context
        from .macros import macro_context_callables, QueryResultTable

        op_env: dict = {"target": target_context(args.env)}

        # dbt's run-operation context: `context.get(name)` returns a
        # macro handle, and `run_query(sql)` executes against the
        # warehouse DURING macro evaluation (the reference README's v2
        # create_udfs shape, /root/reference/README.md:156-176). In
        # --dry-run, run_query prints the statement instead of
        # executing and returns an empty result table.
        executed: list[str] = []
        _op_spark_box: list = []

        def _op_spark():
            if not _op_spark_box:
                from . import get_spark as _gs

                _op_spark_box.append(_gs(app_name="cli-run-operation"))
            return _op_spark_box[0]

        def _run_query(sql_text):
            if not isinstance(sql_text, str):
                raise EngineError(
                    f"run_query() expects a SQL string, got "
                    f"{type(sql_text).__name__}"
                )
            # Each statement executes exactly ONCE (a re-run of an
            # eager command like INSERT would double-apply it); the
            # LAST statement's rows come back agate-style — dbt's
            # run_query materializes to the client the same way.
            result = QueryResultTable([], [])
            for st in split_sql_statements(sql_text):
                if args.dry_run:
                    print(st + ";")
                    executed.append(st)
                    continue
                df = _op_spark().sql(st)
                rows = [tuple(r) for r in df.collect()]
                print(json.dumps({"run_query": st[:120], "rows": len(rows)}))
                executed.append(st)
                result = QueryResultTable(df.columns, rows)
            return result

        op_env["run_query"] = _run_query

        # {% call statement('name', fetch_result=True) %} support: the
        # block body executes through the same once-each path as
        # run_query; named results come back via load_result('name') as
        # dbt's {'table', 'data', 'response'} dict.
        _stmt_results: dict[str, QueryResultTable] = {}

        def _statement_hook(name, sql_text, fetch_result):
            result = _run_query(sql_text)
            if name:
                _stmt_results[str(name)] = (
                    result if fetch_result else QueryResultTable([], [])
                )

        def _load_result(name):
            if str(name) not in _stmt_results:
                raise EngineError(
                    f"load_result({name!r}): no statement of that name "
                    "has run (ran: "
                    f"{', '.join(sorted(_stmt_results)) or 'none'})"
                )
            t = _stmt_results[str(name)]
            return {"table": t, "data": t.rows, "response": "OK"}

        op_env["__statement__"] = _statement_hook
        op_env["load_result"] = _load_result
        op_env["context"] = macro_context_callables(
            proj.macros,
            origin=f"run-operation {args.macro}",
            var_fn=op_var,
            env=op_env,
        )
        sql = expand_macros(
            f"{{{{ {args.macro}({call}) }}}}",
            proj.macros,
            origin=f"run-operation {args.macro}",
            var_fn=op_var,
            env=op_env,
        )

        # Leftover rendered statements run once: anything the macro
        # already executed via run_query / {% call statement %} is
        # skipped here, not double-applied (the `executed` ledger).
        statements = [
            st for st in split_sql_statements(sql) if st not in executed
        ]
        if args.dry_run:
            for st in statements:
                print(st + ";")
            return 0
        # A macro that ran everything through run_query leaves nothing
        # behind to execute — don't spin up a session for zero work.
        for st in statements:
            df = _op_spark().sql(st)
            print(json.dumps({"statement": st[:120], "rows": df.count()}))
        return 0

    from . import get_spark

    spark = get_spark(app_name=f"cli-{args.cmd}")

    if args.cmd == "ls":
        from .api import bootstrap

        engine = bootstrap(
            spark,
            args.sf_dir,
            env=args.env,
            vars=json.loads(args.vars) if args.vars else None,
        )
        _overlay_project(engine)
        graph = engine._subgraph(args.select, state=args.state, exclude=args.exclude)
        for name in sorted(graph):
            spec = graph[name]
            print(
                json.dumps(
                    {
                        "name": name,
                        "kind": spec.kind,
                        "relation": f"{engine.database_for(spec)}.{spec.relation_name}",
                        "tags": list(spec.tags),
                        **(
                            {
                                "version": spec.version,
                                "is_latest_version": (
                                    spec.version
                                    == engine.latest_version_of(spec.name)
                                ),
                            }
                            if spec.version is not None
                            else {}
                        ),
                    }
                )
            )
        return 0

    if args.cmd == "build":
        from .api import bootstrap

        engine = bootstrap(
            spark,
            args.sf_dir,
            env=args.env,
            vars=json.loads(args.vars) if args.vars else None,
        )
        proj = _overlay_project(engine)
        select = args.select
        if getattr(args, "selector", None):
            if not proj:
                print("--selector requires --project", file=sys.stderr)
                return 2
            if args.selector not in proj.selectors:
                print(f"no selector {args.selector!r} in selectors.yml", file=sys.stderr)
                return 2
            select = (select or []) + proj.selectors[args.selector]
        rels = engine.build(
            select=select,
            threads=args.threads,
            state=args.state,
            exclude=args.exclude,
            full_refresh=args.full_refresh,
            fail_fast=False,  # dbt default: keep going, report, exit 1
            defer=args.defer_build,
            favor_state=args.favor_state,
        )
        if args.run_results:
            with open(args.run_results, "w") as fh:
                json.dump(engine.run_results(), fh, indent=2)
        for name, rel in sorted(rels.items()):
            print(json.dumps({"model": name, "relation": rel.qualified, "kind": rel.kind}))
        for name, exc in sorted(engine.errors.items()):
            print(json.dumps({"model": name, "status": "ERROR", "message": str(exc)[:300]}))
        for name in sorted(engine.skipped_errors):
            print(json.dumps({"model": name, "status": "SKIP", "reason": "upstream error"}))
        return 1 if engine.errors else 0

    if args.cmd == "write-state":
        from .api import bootstrap

        engine = bootstrap(spark, args.sf_dir, env=args.env)
        _overlay_project(engine)
        engine.write_state(args.path)
        print(json.dumps({"state": args.path, "models": len(engine.models)}))
        return 0

    if args.cmd == "test":
        from .api import bootstrap
        from .models.quality import run_tests
        from .models.reference import reference_tests

        from .models.reference import reference_singular_tests

        engine = bootstrap(spark, args.sf_dir, env=args.env)
        proj = _overlay_project(engine)
        if proj:
            # build the project models plus any relationships-test
            # targets outside their closure (the anti-join needs the
            # parent built), keep-going so a broken model reports
            # instead of raising a traceback out of the CLI
            roots = [m.name for m in proj.models]
            roots += [
                t.to_model
                for t in proj.tests
                if getattr(t, "to_model", "") and t.to_model in engine.models
            ]
            engine.build(select=sorted(set(roots)), fail_fast=False)
            suite = proj.tests
        else:
            engine.build()
            suite = reference_tests() + reference_singular_tests()
        build_failed = bool(engine.errors) or bool(engine.skipped_errors)
        for bname, exc in sorted(engine.errors.items()):
            print(json.dumps({"model": bname, "status": "ERROR", "message": str(exc)[:300]}))
        if build_failed:
            # dbt still tests the models that DID build; tests bound to
            # broken/skipped models are reported as SKIP
            broken = set(engine.errors) | engine.skipped_errors
            skipped_tests = [
                t for t in suite if getattr(t, "model", None) in broken
            ]
            for t in skipped_tests:
                print(json.dumps({"test": t.name, "status": "SKIP",
                                  "reason": "model did not build"}))
            suite = [t for t in suite if t not in skipped_tests]
        failed = 0
        for res in run_tests(
            spark, engine, suite, store_failures=args.store_failures
        ):
            failed += 1 if res.status == "fail" else 0
            out = {
                "test": res.test.name,
                "status": res.status.upper(),
                "failures": res.n_failures,
            }
            if res.audit_table:
                out["audit_table"] = res.audit_table
            print(json.dumps(out))
        return 1 if (failed or build_failed) else 0

    if args.cmd == "docs":
        from .api import bootstrap

        engine = bootstrap(spark, args.sf_dir, env=args.env)
        proj = _overlay_project(engine)
        manifest = {
            "models": {
                name: {
                    "kind": spec.kind,
                    "database": engine.database_for(spec),
                    "description": spec.description,
                    "columns": dict(spec.columns),
                    "tags": list(spec.tags),
                    # dbt 1.5 model versions: present only on versioned
                    # specs — version, the entry's resolved latest, and
                    # whether THIS spec is it (what dbt's docs site
                    # badges), plus any deprecation date.
                    **(
                        {
                            "version": spec.version,
                            "latest_version": engine.latest_version_of(
                                spec.name
                            ),
                            "is_latest_version": (
                                spec.version
                                == engine.latest_version_of(spec.name)
                            ),
                        }
                        if spec.version is not None
                        else {}
                    ),
                    **(
                        {"deprecation_date": spec.deprecation_date}
                        if spec.deprecation_date
                        else {}
                    ),
                    "depends_on": {
                        "refs": list(spec.refs),
                        "sources": [list(s) for s in spec.sources],
                    },
                    "params": list(spec.params),
                    "return_type": spec.return_type,
                    "config": {
                        k: v
                        for k, v in {
                            "incremental_strategy": (
                                spec.incremental_strategy
                                if spec.kind == "incremental"
                                else None
                            ),
                            "partition_by": list(spec.partition_by) or None,
                            "cluster_by": list(spec.cluster_by) or None,
                            "unique_key": spec.unique_key,
                            "on_schema_change": (
                                spec.on_schema_change
                                if spec.kind == "incremental"
                                else None
                            ),
                            "event_time": spec.event_time,
                            "hours_to_expiration": spec.hours_to_expiration,
                            "partition_expiration_days": (
                                spec.partition_expiration_days
                            ),
                            "require_partition_filter": (
                                spec.require_partition_filter or None
                            ),
                            "labels": dict(spec.labels) or None,
                            "sql_header": list(spec.sql_header) or None,
                        }.items()
                        if v is not None
                    },
                }
                for name, spec in engine.models.items()
            },
            "exposures": {
                name: {
                    "type": e.exposure_type,
                    "depends_on": list(e.depends_on),
                    "depends_on_sources": list(e.depends_on_sources),
                    "owner": e.owner,
                    "url": e.url,
                    "description": e.description,
                    "maturity": e.maturity,
                }
                for name, e in engine.exposures.items()
            },
            "metrics": {
                name: {
                    "model": m.model,
                    "expression": m.expression,
                    "dimensions": list(m.dimensions),
                    "time_dimension": m.time_dimension,
                    "filter": m.filter,
                    "description": m.description,
                }
                for name, m in getattr(
                    engine, "metric_registry", None
                ).metrics.items()
            }
            if getattr(engine, "metric_registry", None)
            else {},
        }
        if proj:
            manifest["unit_tests"] = [t.name for t in proj.unit_tests]
            manifest["data_tests"] = [t.name for t in proj.tests]
            manifest["analyses"] = sorted(proj.analyses)
            manifest["selectors"] = proj.selectors
            manifest["source_freshness"] = proj.source_freshness
        if args.catalog:
            engine.build()
            manifest["catalog"] = engine.catalog_info()
        print(json.dumps(manifest, indent=2, sort_keys=True))
        return 0

    if args.cmd == "compile":
        from .api import bootstrap

        engine = bootstrap(
            spark,
            args.sf_dir,
            env=args.env,
            vars=json.loads(args.vars) if args.vars else None,
        )
        proj = _overlay_project(engine)
        graph = engine._subgraph(args.select)
        for name in sorted(graph):
            spec = graph[name]
            print(
                json.dumps(
                    {
                        "model": name,
                        "kind": spec.kind,
                        "relation": f"{engine.database_for(spec)}.{spec.relation_name}",
                        "compiled_sql": engine.render(spec),
                    }
                )
            )
        if proj:
            from .models.core import ModelSpec as _MS

            for aname, asql in sorted(proj.analyses.items()):
                shim = _MS(name=aname, kind="ephemeral", sql=asql)
                print(
                    json.dumps(
                        {
                            "analysis": aname,
                            "compiled_sql": engine.render(shim),
                        }
                    )
                )
        return 0

    if args.cmd == "sql":
        # A reference user's day-to-day surface: paste the BigQuery SQL
        # they run today; the dialect layer rewrites it for Spark.
        from .sources.registry import register_sources

        register_sources(spark, args.sf_dir)  # temp views named after tables
        if args.build:
            from .api import bootstrap
            from .catalog import env_database

            engine = bootstrap(spark, args.sf_dir, env=args.env)
            engine.build()
            # TVF calls must be unqualified: route through the udf db.
            spark.sql(f"USE {env_database('udf', args.env)}")
        sql = args.query
        if args.dialect == "bigquery":
            from .functions.dialect import transpile_bq_expr

            sql = transpile_bq_expr(sql)
        if args.show_sql:
            print(sql, file=sys.stderr)
        df = spark.sql(sql)
        if args.build:
            # BigQuery rejects unpruned queries on require_partition_filter
            # tables at submission; mirror that for ad-hoc SQL.
            engine.enforce_partition_filters(df)
        for row in df.limit(args.limit).collect():
            print(json.dumps(row.asDict(), default=str))
        return 0

    if args.cmd == "show":
        from .api import bootstrap
        from .catalog import env_database

        engine = bootstrap(
            spark,
            args.sf_dir,
            env=args.env,
            vars=json.loads(args.vars) if args.vars else None,
        )
        _overlay_project(engine)
        spec = engine.models.get(args.model)
        if spec is None:
            print(f"unknown model {args.model!r}", file=sys.stderr)
            return 2
        if spec.kind in ("function", "table_function", "seed", "python"):
            print(
                f"show supports SQL relation kinds; {args.model} is {spec.kind}",
                file=sys.stderr,
            )
            return 2
        body = engine.render(spec)
        # TVF calls resolve unqualified: route through the udf database
        # like the materializer does — and restore the caller's database
        # after, also like the materializer.
        call_db = engine._tvf_call_database(spec)
        prev_db = spark.catalog.currentDatabase()
        spark.sql(f"USE {call_db or env_database('udf', args.env)}")
        try:
            rows = spark.sql(
                f"SELECT * FROM ({body}) LIMIT {args.limit}"
            ).collect()
        finally:
            spark.sql(f"USE {prev_db}")
        for row in rows:
            print(json.dumps({k: str(v) for k, v in row.asDict().items()}))
        return 0

    if args.cmd == "unit-test":
        from .api import bootstrap
        from .models.reference import reference_unit_tests
        from .models.unit_tests import run_unit_tests

        engine = bootstrap(spark, args.sf_dir, env=args.env)
        proj = _overlay_project(engine)
        # no build: unit tests replace data inputs with fixture views and
        # resolve function deps on demand — a broken unrelated model must
        # not block a self-contained unit test
        suite = proj.unit_tests if proj else reference_unit_tests()
        failed = 0
        for res in run_unit_tests(spark, engine, suite):
            failed += 0 if res.passed else 1
            print(
                json.dumps(
                    {
                        "unit_test": res.test.name,
                        "status": "PASS" if res.passed else "FAIL",
                        "missing": [str(r) for r in res.missing],
                        "unexpected": [str(r) for r in res.unexpected],
                    }
                )
            )
        return 1 if failed else 0

    if args.cmd == "source-freshness":
        from .models.quality import check_source_freshness
        from .sources.registry import register_sources_catalog
        from .session import apply_engine_confs

        apply_engine_confs(spark)
        register_sources_catalog(spark, args.sf_dir)
        if args.project:
            from .project import load_project

            proj = load_project(
                args.project,
                env=getattr(args, "env", None),
                cli_vars=(
                    json.loads(args.vars)
                    if getattr(args, "vars", None)
                    else None
                ),
            )
            if not proj.source_freshness:
                print("no sources declare loaded_at_field + freshness", file=sys.stderr)
                return 2
            worst = 0
            for decl in proj.source_freshness:
                res = check_source_freshness(
                    spark,
                    f"src.{decl['table']}",
                    decl["loaded_at_field"],
                    decl["warn_after_hours"],
                    decl["error_after_hours"],
                )
                print(
                    json.dumps(
                        {
                            "source": f"{decl['dataset']}.{decl['table']}",
                            "status": res.status,
                            "age_hours": None
                            if res.age_hours != res.age_hours or res.age_hours == float("inf")
                            else round(res.age_hours, 2),
                        }
                    )
                )
                worst = max(worst, {"pass": 0, "warn": 0, "error": 1}[res.status])
            return worst
        res = check_source_freshness(
            spark,
            args.relation,
            args.ts_column,
            args.warn_after_hours,
            args.error_after_hours,
        )
        import math

        print(
            json.dumps(
                {
                    "relation": res.relation,
                    # Empty source: max_ts None / age inf — emit null,
                    # not the non-JSON token `Infinity`.
                    "max_loaded_at": None if res.max_ts is None else str(res.max_ts),
                    "age_hours": res.age_hours if math.isfinite(res.age_hours) else None,
                    "status": res.status,
                }
            )
        )
        return 1 if res.status == "error" else 0

    if args.cmd == "sweep-expired":
        from .api import bootstrap

        engine = bootstrap(spark, args.sf_dir, env=args.env)
        print(json.dumps(engine.sweep_expired()))
        return 0

    if args.cmd == "delete-rows":
        from .api import bootstrap

        engine = bootstrap(spark, args.sf_dir, env=args.env)
        # Deletion must NEVER trigger a build: re-running an incremental
        # batch as a side effect of an erasure request mutates the table
        # beyond the deletion (and re-runs the pipeline at full scale).
        spec = engine.models.get(args.model)
        if spec is None:
            print(f"unknown model {args.model!r}", file=sys.stderr)
            return 2
        target = f"{engine.database_for(spec)}.{spec.relation_name}"
        if not spark.catalog.tableExists(target):
            print(
                f"{target} is not built — run `build --select {args.model}` "
                "first; delete-rows never builds",
                file=sys.stderr,
            )
            return 2
        n = engine.delete_rows(args.model, args.keys, key_col=args.key_col)
        print(json.dumps({"model": args.model, "rows_deleted": n}))
        return 0

    if args.cmd == "run-query":
        from . import queries as q

        if args.name not in q.QUERIES:
            print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
            return 2
        df = q.QUERIES[args.name](spark, args.sf_dir)
        if args.explain:
            from .plans import plan_facts

            f = plan_facts(df)
            print(
                json.dumps(
                    {
                        "query": args.name,
                        "exchanges": f.exchanges,
                        "broadcast_joins": f.broadcast_joins,
                        "sort_merge_joins": f.sort_merge_joins,
                        "codegen_spans": f.codegen_spans,
                        "scans": f.scans,
                        "pushed_filters": f.pushed_filters,
                        "read_schemas": f.read_schemas,
                    }
                )
            )
            return 0
        for row in df.limit(args.limit).collect():
            print(json.dumps({k: str(v) for k, v in row.asDict().items()}))
        return 0

    return 1


if __name__ == "__main__":
    raise SystemExit(main())
