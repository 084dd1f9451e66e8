"""dbt-style project loader: a directory of ``.sql`` models + YAML
into engine :class:`ModelSpec`s.

The reference is not a Python program — it is a *project tree*
(`/root/reference/dbt_project.yml`, `models/**/*.sql`,
`models/**/schema.yml`, `models/udf/source.yml`) that dbt parses. A
user migrating that project should bring their files, not rewrite them
as Python. This module reads the same layout:

- ``dbt_project.yml``: project name, ``model-paths``/``seed-paths``,
  ``vars``, and the folder-scoped config tree (``models: <project>:
  <folder>: +materialized/+schema/+tags/...`` — the reference's
  materialization routing at `dbt_project.yml:33-51`).
- ``models/**/*.sql``: one model per file, named by file stem, with an
  optional leading ``{{ config(...) }}`` block (the reference's
  signature declarations at `models/udf/function/parse_datetime.sql:1-8`)
  overriding the folder tree. The remaining body keeps its
  ``{{ ref() }}`` / ``{{ source() }}`` / ``{{ var() }}`` / ``{{ this }}``
  placeholders — the engine's renderer resolves those, and evaluates the
  ``{% if %}``/``{% for %}`` control-flow subset at render time
  (macros.py); user ``{% macro %}`` call sites expand at LOAD time from
  ``macro-paths`` files. A full Jinja engine remains deliberately out of
  scope (SURVEY.md §7) — out-of-subset constructs fail loudly.
- ``models/**/*.md`` (and ``docs-paths``): ``{% docs name %}`` blocks,
  resolved into ``{{ doc('name') }}`` references in schema.yml
  descriptions at load.
- ``models/**/*.yml``: ``models:`` descriptions + column docs (persisted
  to the warehouse, the reference's F10) and column ``tests:``
  (unique / not_null / accepted_values / relationships);
  ``sources:`` declarations (`models/udf/source.yml:4-9`);
  dbt 1.8 ``unit_tests:`` (given/expect dict-row fixtures);
  ``exposures:`` (downstream lineage) and ``metrics:`` (semantic-layer
  definitions for the MetricRegistry).
- ``models/**/*.py``: dbt python models — ``def model(dbt, session)``
  with ``dbt.ref()``/``dbt.source()``; refs discovered by static scan
  (DAG edges must exist before anything runs, as in dbt itself).
- ``seed-paths/**/*.csv``: seed models.

Config parsing is ``ast``-based (Jinja config arguments are literals in
every dbt project this loader targets); unknown config keys that match
a ModelSpec field map through generically, so new engine configs are
loadable without touching this module.
"""

from __future__ import annotations

import ast
import dataclasses
import os
import re
from dataclasses import dataclass, field
from typing import Iterator

import yaml

from .catalog import target_context
from .macros import (
    MacroDef,
    call_macro,
    expand_macros,
    expand_test_macro,
    parse_macros,
    parse_test_macros,
    render_control_flow,
    var_lookup,
)
from .models.core import EngineError, Exposure, ModelSpec
from .models.quality import SchemaTest, SingularTest
from .models.metrics import Metric
from .models.unit_tests import UnitTest

__all__ = ["LoadedProject", "load_project"]


@dataclass
class LoadedProject:
    name: str
    models: list[ModelSpec]
    tests: list[SchemaTest]
    sources: list[tuple[str, str]]  # declared (dataset, table) pairs
    vars: dict = field(default_factory=dict)
    unit_tests: list[UnitTest] = field(default_factory=list)
    exposures: list[Exposure] = field(default_factory=list)
    metrics: list[Metric] = field(default_factory=list)
    selectors: dict[str, list[str]] = field(default_factory=dict)
    # declared source freshness contracts: {dataset, table,
    # loaded_at_field, warn_after_hours, error_after_hours}
    source_freshness: list[dict] = field(default_factory=list)
    on_run_start: tuple[str, ...] = ()
    on_run_end: tuple[str, ...] = ()
    # dbt analyses: name -> raw SQL (ref/source placeholders intact) —
    # compiled on demand, never materialized
    analyses: dict[str, str] = field(default_factory=dict)
    # loaded macro definitions (project + packages) — the CLI's
    # run-operation surface and debugging introspection
    macros: dict[str, MacroDef] = field(default_factory=dict)


_CONFIG_OPEN_RE = re.compile(r"\{\{\s*config\s*\(")
_SNAPSHOT_BLOCK_RE = re.compile(
    r"\{%-?\s*snapshot\s+(\w+)\s*-?%\}(.*?)\{%-?\s*endsnapshot\s*-?%\}", re.S
)
_REF_IN_TEST_RE = re.compile(r"""ref\s*\(\s*['"]([^'"]+)['"]\s*\)""")
_DOCS_BLOCK_RE = re.compile(
    r"\{%-?\s*docs\s+(\w+)\s*-?%\}(.*?)\{%-?\s*enddocs\s*-?%\}", re.S
)
_DOC_REF_RE = re.compile(r"""\{\{\s*doc\(\s*['"]([^'"]+)['"]\s*\)\s*\}\}""")

# ModelSpec fields that are declared as tuples (loader accepts scalars
# or lists for any of them, like dbt).
_TUPLE_FIELDS = {
    f.name
    for f in dataclasses.fields(ModelSpec)
    if "tuple" in str(f.type)
}
# dbt names -> ModelSpec names where they differ.
_KEY_ALIASES = {
    "pre_hook": "pre_hooks",
    "post_hook": "post_hooks",
    "pre-hook": "pre_hooks",
    "post-hook": "post_hooks",
    "schema": "database",
}


def _literal(node: ast.AST):
    """Jinja-tolerant literal: lowercase true/false/none are Names."""
    if isinstance(node, ast.Name):
        mapped = {"true": True, "false": False, "none": None}.get(node.id.lower())
        if mapped is not None or node.id.lower() == "none":
            return mapped
        raise EngineError(f"config(): unsupported expression {node.id!r}")
    if isinstance(node, (ast.List, ast.Tuple)):
        return [_literal(e) for e in node.elts]
    if isinstance(node, ast.Dict):
        return {_literal(k): _literal(v) for k, v in zip(node.keys, node.values)}
    return ast.literal_eval(node)


def _split_config_block(text: str) -> tuple[dict, str]:
    """Extract the leading ``{{ config(...) }}`` (anywhere in the file,
    dbt allows mid-file but convention is leading) and return
    (config dict, body with the block removed)."""
    m = _CONFIG_OPEN_RE.search(text)
    if m is None:
        return {}, text
    # scan from the '(' to its balanced close, skipping string literals
    # (backslash-escape aware: alias='it\'s' must not desync the scan)
    i = m.end() - 1
    depth, j = 0, i
    while True:
        ch = text[j]
        if ch in "'\"":
            q = ch
            j += 1
            while True:
                if text[j] == "\\":
                    j += 1
                elif text[j] == q:
                    break
                j += 1
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                break
        j += 1
    inner = text[i + 1 : j]
    close = text.index("}}", j) + 2
    call = ast.parse(f"__config__({inner})", mode="eval").body
    if call.args:
        raise EngineError("config() takes keyword arguments only")
    cfg = {kw.arg: _literal(kw.value) for kw in call.keywords}
    # find the opening '{{' of this block
    open_brace = text.rindex("{{", 0, m.end())
    return cfg, text[:open_brace] + text[close:]


def _config_tree_for(tree: dict, project: str, rel_parts: list[str]) -> dict:
    """Walk dbt_project.yml's ``models:`` tree along the model's folder
    path, collecting ``+key`` configs (deeper levels override)."""
    out: dict = {}
    node = tree or {}
    # dbt nests under the project name when present.
    if project in node:
        node = node[project]
    for level in [None, *rel_parts]:
        if level is not None:
            node = node.get(level)
            if not isinstance(node, dict):
                break
        for k, v in node.items():
            if isinstance(k, str) and k.startswith("+"):
                out[k[1:]] = v
    return out


def _apply_config(cfg: dict, spec_kwargs: dict) -> None:
    for raw_key, value in cfg.items():
        if raw_key in ("database", "project"):
            # dbt-bigquery's +database/+project is the BQ *project*
            # (reference: dbt_project.yml `+database: joshua-1000`) —
            # catalog-level, not a schema. The engine runs in one Spark
            # catalog, so it is recorded nowhere; mapping it onto
            # ModelSpec.database would clobber +schema in YAML-order-
            # dependent ways.
            continue
        key = _KEY_ALIASES.get(raw_key, raw_key)
        if key == "materialized":
            spec_kwargs["kind"] = value
            continue
        if key == "enabled":
            spec_kwargs["_enabled"] = bool(value)
            continue
        if key == "partition_by" and isinstance(value, dict):
            # dbt-bigquery: {'field': 'x', 'data_type': ..., ...}
            value = value.get("field")
        if key == "labels" and isinstance(value, dict):
            value = list(value.items())
        if key not in _SPEC_FIELDS:
            continue  # unknown/unsupported config: ignored like dbt adapters do
        if key in _TUPLE_FIELDS:
            if isinstance(value, (list, tuple)):
                value = tuple(
                    tuple(v) if isinstance(v, (list, tuple)) else v for v in value
                )
            else:
                value = (value,)
        spec_kwargs[key] = value


_SPEC_FIELDS = {f.name for f in dataclasses.fields(ModelSpec)}


def _schema_tests(
    model_name: str,
    col: dict | None,
    entries: list,
    generic_builder=None,
) -> list:
    """schema.yml ``tests:`` entries (column-level when ``col`` is set,
    model-level otherwise) -> engine tests. Built-in generic tests map
    to :class:`SchemaTest`; any other name routes through
    ``generic_builder`` (custom ``{% test %}`` macros) — an unknown
    name with no matching test macro fails loudly, as dbt does (a typo
    must not silently skip a test)."""
    col_name = col["name"] if col else None
    out: list = []
    for t in entries or []:
        if isinstance(t, str):
            t_name, t_cfg = t, {}
        else:
            if len(t) != 1:
                raise EngineError(
                    f"model {model_name}: malformed test entry {t!r} — "
                    "one test name per list item (check YAML indentation)"
                )
            (t_name, t_cfg), = t.items()
        t_cfg = dict(t_cfg or {})
        severity = str(t_cfg.pop("severity", "error")).lower()
        if t_name in ("unique", "not_null") and col_name:
            out.append(SchemaTest(t_name, model_name, col_name, severity=severity))
        elif t_name == "accepted_values" and col_name:
            out.append(
                SchemaTest(
                    "accepted_values",
                    model_name,
                    col_name,
                    values=tuple(str(v) for v in t_cfg.get("values", [])),
                    severity=severity,
                )
            )
        elif t_name == "relationships" and col_name:
            to = t_cfg.get("to", "")
            mref = _REF_IN_TEST_RE.search(str(to))
            out.append(
                SchemaTest(
                    "relationships",
                    model_name,
                    col_name,
                    to_model=mref.group(1) if mref else str(to),
                    to_column=t_cfg.get("field", ""),
                    severity=severity,
                )
            )
        else:
            built = (
                generic_builder(t_name, model_name, col_name, t_cfg, severity)
                if generic_builder
                else None
            )
            if built is None:
                raise EngineError(
                    f"model {model_name}: unknown test {t_name!r} "
                    "(not a built-in and no {% test %} macro defines it)"
                )
            out.append(built)
    return out


_INPUT_REF_RE = _REF_IN_TEST_RE  # same concept: a ref('name') token
_INPUT_SOURCE_RE = re.compile(
    r"""source\s*\(\s*['"]([^'"]+)['"]\s*,\s*['"]([^'"]+)['"]\s*\)"""
)


def _infer_schema_ddl(rows: list[dict], declared: dict | None = None) -> str:
    """Schema DDL for dict-shaped fixture rows (dbt 1.8 unit tests ship
    no schema — dbt uses the warehouse's; we type from the literals,
    overridable per column via a non-standard ``schema:`` mapping)."""
    declared = declared or {}
    cols: dict[str, str | None] = {}  # None = only NULLs seen so far
    for r in rows:
        for k, v in r.items():
            if isinstance(v, bool):
                t = "boolean"
            elif isinstance(v, int):
                t = "bigint"
            elif isinstance(v, float):
                t = "double"
            elif v is not None:
                t = "string"
            else:
                cols.setdefault(k, None)
                continue
            prev = cols.get(k)
            if prev is None or prev == t:
                cols[k] = t
            elif {prev, t} == {"bigint", "double"}:
                cols[k] = "double"  # widen mixed numerics (amounts [1, 2.5])
            else:
                raise EngineError(
                    f"unit test fixture column {k!r}: mixed literal types "
                    f"{prev} and {t} — declare the type via schema:"
                )
    for k, t in declared.items():
        cols[k] = t
    return ", ".join(f"{k} {t or 'string'}" for k, t in cols.items())


def _parse_unit_tests(doc: dict) -> list[UnitTest]:
    """dbt 1.8 ``unit_tests:`` YAML -> engine UnitTests."""
    out: list[UnitTest] = []
    for ut in doc.get("unit_tests", []) or []:
        given: dict[str, tuple[str, list]] = {}
        for g in ut.get("given", []) or []:
            inp = str(g.get("input", ""))
            m = _INPUT_REF_RE.search(inp)
            if m:
                key = f"ref:{m.group(1)}"
            else:
                ms = _INPUT_SOURCE_RE.search(inp)
                if not ms:
                    raise EngineError(
                        f"unit test {ut.get('name')}: unparseable input {inp!r}"
                    )
                key = f"source:{ms.group(1)}.{ms.group(2)}"
            rows = g.get("rows", []) or []
            if not rows and not g.get("schema"):
                raise EngineError(
                    f"unit test {ut.get('name')}: empty rows for {inp!r} "
                    "need an explicit schema: mapping (an empty INPUT "
                    "relation still needs column types to exist)"
                )
            given[key] = (_infer_schema_ddl(rows, g.get("schema")), rows)
        exp_cfg = ut.get("expect", {}) or {}
        # empty expect rows are dbt's assert-no-output form: no schema
        # needed (run_unit_tests compares against the empty multiset).
        exp_rows = exp_cfg.get("rows", []) or []
        out.append(
            UnitTest(
                name=ut["name"],
                model=ut["model"],
                given=given,
                expect=(_infer_schema_ddl(exp_rows, exp_cfg.get("schema")), exp_rows),
                params={
                    str(k): str(v) for k, v in (ut.get("params", {}) or {}).items()
                },
                description=ut.get("description", ""),
            )
        )
    return out


def _hook_tuple(value) -> tuple[str, ...]:
    """dbt on-run-start/on-run-end accept a string or a list."""
    if value is None:
        return ()
    if isinstance(value, str):
        return (value,)
    return tuple(str(v) for v in value)


_FRESHNESS_PERIOD_HOURS = {"minute": 1 / 60.0, "hour": 1.0, "day": 24.0}


def _freshness_hours(spec: dict | None, default: float) -> float:
    """dbt freshness threshold ({count, period}) -> hours. Malformed
    thresholds fail loudly — a silently-zero threshold would flip every
    freshness run to warn/error."""
    if not spec:
        return default
    if "count" not in spec:
        raise EngineError(f"freshness threshold missing count: {spec!r}")
    period = str(spec.get("period", "hour")).lower()
    if period not in _FRESHNESS_PERIOD_HOURS:
        raise EngineError(f"freshness threshold unknown period {period!r}")
    return float(spec["count"]) * _FRESHNESS_PERIOD_HOURS[period]


def _selector_atom(node) -> str:
    """One selectors.yml definition node -> an engine selector string."""
    if isinstance(node, str):
        return node
    if isinstance(node, dict) and "method" in node:
        unknown = set(node) - {"method", "value", "children", "parents"}
        if unknown:
            raise EngineError(
                f"selectors.yml: unsupported atom keys {sorted(unknown)}"
            )
        method = node["method"]
        value = str(node.get("value", ""))
        if method == "fqn":
            atom = value.split(".")[-1]
        elif method == "path":
            base = os.path.basename(value)
            atom = base.removesuffix(".sql").removesuffix(".py")
            if atom == base and "." in base:
                raise EngineError(
                    f"selectors.yml: path value {value!r} is not a model file"
                )
        elif method == "tag":
            atom = f"tag:{value}"
        elif method == "state":
            atom = f"state:{value}"
        else:
            raise EngineError(f"selectors.yml: unsupported method {method!r}")
        if node.get("parents") and (
            node.get("children") or method in ("tag", "state")
        ):
            raise EngineError(
                "selectors.yml: parents combined with children or with "
                "tag/state methods has no engine selector form — "
                "fail loudly rather than select the wrong set"
            )
        if node.get("children"):
            atom += "+"
        if node.get("parents"):
            atom = "+" + atom
        return atom
    raise EngineError(f"selectors.yml: unsupported definition node {node!r}")


def _parse_selectors(doc: dict) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for sel in doc.get("selectors", []) or []:
        definition = sel.get("definition")
        if isinstance(definition, dict) and "union" in definition:
            unknown = set(definition) - {"union"}
            if unknown:
                raise EngineError(
                    f"selectors.yml: unsupported definition keys {sorted(unknown)} "
                    "(exclude/intersection are not supported — fail loudly rather "
                    "than select the wrong set)"
                )
            atoms = [_selector_atom(n) for n in definition["union"]]
        elif isinstance(definition, dict) and "intersection" in definition:
            raise EngineError(
                "selectors.yml: intersection definitions are not supported "
                "(use union / single atoms)"
            )
        else:
            atoms = [_selector_atom(definition)]
        out[sel["name"]] = atoms
    return out


_PY_REF_RE = re.compile(r"""dbt\s*\.\s*ref\(\s*['"]([^'"]+)['"]""")


class _DbtShim:
    """The ``dbt`` object a dbt python model receives: ref()/source()
    resolve through the engine's build context; config() is accepted
    and ignored at runtime (configs are read at LOAD time from the
    folder tree / schema.yml, since the body only runs at build)."""

    def __init__(self, ctx):
        self._ctx = ctx

    def ref(self, name):
        return self._ctx.ref(name)

    def source(self, dataset, table):
        return self._ctx.source(dataset, table)

    @staticmethod
    def config(**_kwargs):
        return None


def _load_python_model(path: str):
    """(python_body, declared refs) for a dbt-style python model file:
    ``def model(dbt, session) -> DataFrame``. Refs are discovered by
    scanning the source for ``dbt.ref('name')`` — the same reason dbt
    itself statically parses python models for refs (DAG edges must
    exist before anything runs)."""
    with open(path) as fh:
        text = fh.read()
    namespace: dict = {}
    code = compile(text, path, "exec")
    exec(code, namespace)  # noqa: S102 — user project code, like dbt
    fn = namespace.get("model")
    if not callable(fn):
        raise EngineError(f"{path}: python model must define model(dbt, session)")

    def body(spark, ctx, _fn=fn):
        return _fn(_DbtShim(ctx), spark)

    return body, tuple(dict.fromkeys(_PY_REF_RE.findall(text)))


def _project_files(base: str, paths, suffixes) -> Iterator[tuple[str, str]]:
    """(root, path) of every file ending in ``suffixes`` under each of
    ``paths`` (relative to ``base``), directories and names sorted — the
    one walk every project loader shares."""
    for p in paths:
        root = os.path.join(base, p)
        for dirpath, _dirs, files in sorted(os.walk(root)):
            for f in sorted(files):
                if f.endswith(suffixes):
                    yield root, os.path.join(dirpath, f)


def _macro_files(base: str, paths) -> Iterator[tuple[str, dict, dict]]:
    """(path, macros, test macros) of every ``.sql`` file under ``paths``."""
    for _root, full in _project_files(base, paths, ".sql"):
        with open(full) as fh:
            text = fh.read()
        yield full, parse_macros(text, full), parse_test_macros(text, full)


def load_project(
    project_dir: str,
    env: str | None = None,
    cli_vars: dict | None = None,
) -> LoadedProject:
    """Parse a dbt-style project directory into engine specs.

    ``env`` supplies the ``{{ target }}`` context for macro bodies and
    schema.yml descriptions (model bodies resolve target at render time
    from the engine's env); ``cli_vars`` override project vars for
    load-time var() resolution inside macro control flow.

    Scale note: this is pure driver-side metadata work — O(files), no
    Spark session involved; a 1000-model project (the reference
    author's production scale, README.md:329) parses in well under a
    second.
    """
    if not os.path.isdir(project_dir):
        raise EngineError(f"project directory does not exist: {project_dir}")
    proj_path = os.path.join(project_dir, "dbt_project.yml")
    proj: dict = {}
    if os.path.exists(proj_path):
        with open(proj_path) as fh:
            proj = yaml.safe_load(fh) or {}
    else:
        # dbt refuses to run without dbt_project.yml; a typo'd path must
        # not silently load an empty project (and let `test --project`
        # pass CI with zero tests).
        raise EngineError(f"no dbt_project.yml in {project_dir}")
    name = proj.get("name", os.path.basename(os.path.abspath(project_dir)))
    model_paths = proj.get("model-paths", proj.get("source-paths", ["models"]))
    seed_paths = proj.get("seed-paths", ["seeds"])
    analysis_paths = proj.get("analysis-paths", ["analyses"])
    test_paths = proj.get("test-paths", ["tests"])
    macro_paths = proj.get("macro-paths", ["macros"])
    config_tree = proj.get("models", {})

    # Load-time Jinja context: project vars (overridden by CLI vars)
    # resolve var() inside macro-body control flow; {{ target }} is the
    # env-derived context dict (dbt's target.name/schema/database).
    load_vars = {**dict(proj.get("vars", {}) or {}), **(cli_vars or {})}
    macro_env = {"target": target_context(env)}
    load_var = var_lookup(load_vars, "project load")

    def _expand(text: str, origin: str) -> str:
        return expand_macros(text, macros, origin, load_var, macro_env)

    # {% docs %} blocks: dbt keeps long-form documentation in .md files
    # under model/macro paths and references it from schema.yml
    # descriptions via {{ doc('name') }} — resolved at load so the
    # persisted COMMENTs (F10) carry the real text.
    doc_blocks: dict[str, str] = {}
    doc_paths = [*model_paths, *proj.get("docs-paths", []), *macro_paths]
    for _root, full in _project_files(project_dir, doc_paths, ".md"):
        with open(full) as fh:
            for dm in _DOCS_BLOCK_RE.finditer(fh.read()):
                d_name, d_text = dm.group(1), dm.group(2).strip()
                if d_name in doc_blocks:
                    raise EngineError(
                        f"duplicate docs block {d_name!r} ({full})"
                    )
                doc_blocks[d_name] = d_text

    def _resolve_docs(desc: str, where: str) -> str:
        def repl(m: re.Match) -> str:
            if m.group(1) not in doc_blocks:
                raise EngineError(
                    f"{where}: doc('{m.group(1)}') has no {{% docs %}} block"
                )
            return doc_blocks[m.group(1)]

        if not desc:
            return desc
        desc = _DOC_REF_RE.sub(repl, desc)
        # {{ target.name }} in schema.yml descriptions — the dbt idiom
        # for env-stamped docs — resolves from the load env.
        return render_control_flow(desc, load_var, where, extra_env=macro_env)

    # User macros (SQL-fragment subset — see macros.py): every .sql file
    # under macro-paths contributes {% macro %} definitions; call sites
    # in model bodies / singular tests / analyses expand at load time.
    # {% test %} blocks in the same files define CUSTOM GENERIC TESTS,
    # referenced by bare name from schema.yml tests: lists.
    macros: dict[str, MacroDef] = {}
    test_macros: dict[str, MacroDef] = {}
    for full, parsed, parsed_tests in _macro_files(project_dir, macro_paths):
        for mname, mdef in parsed.items():
            if mname in macros:
                raise EngineError(
                    f"duplicate macro {mname!r} (second "
                    f"definition in {full})"
                )
            macros[mname] = mdef
        for tname, tdef in parsed_tests.items():
            if tname in test_macros:
                raise EngineError(
                    f"duplicate test macro {tname!r} ({full})"
                )
            test_macros[tname] = tdef

    # dbt packages (packages.yml): local-path packages contribute their
    # macros — callable qualified ({{ pkg.macro(...) }}) always, and
    # bare when unambiguous; the PROJECT's own macro wins a bare-name
    # collision (dbt's dispatch order), while two PACKAGES colliding on
    # a bare name is an error (dbt requires qualification there too).
    # The reference's own dbt_project.yml names dbt_packages/ in its
    # clean-targets (reference: dbt_project.yml:24) — production trees
    # lean on dbt_utils-style package macros.
    pkg_yml = os.path.join(project_dir, "packages.yml")
    pkg_bare_owner: dict[str, str] = {}
    pkg_test_owner: dict[str, str] = {}
    if os.path.exists(pkg_yml):
        with open(pkg_yml) as fh:
            pkg_doc = yaml.safe_load(fh) or {}
        for entry in pkg_doc.get("packages", []) or []:
            if isinstance(entry, dict) and "local" in entry:
                pkg_dir = os.path.normpath(
                    os.path.join(project_dir, str(entry["local"]))
                )
            elif isinstance(entry, dict) and "package" in entry:
                # Hub entry (`- package: dbt-labs/dbt_utils`). No
                # network in this engine's posture — resolution is
                # OFFLINE: first the project's own dbt_packages/<name>/
                # (dbt's install layout; the reference's dbt_project.yml
                # clean-targets names it, reference dbt_project.yml:24),
                # then a mirror shipped with the engine
                # (examples/packages/<name>/). Unmirrored names reject
                # loudly with both looked-up paths — never a silent
                # skip, never a download. `version:` is accepted but
                # informational (mirrors are unversioned).
                hub_name = str(entry["package"]).rsplit("/", 1)[-1]
                installed = os.path.join(
                    project_dir, "dbt_packages", hub_name
                )
                mirror = os.path.normpath(
                    os.path.join(
                        os.path.dirname(__file__),
                        "..",
                        "examples",
                        "packages",
                        hub_name,
                    )
                )
                if os.path.isdir(installed):
                    pkg_dir = installed
                elif os.path.isdir(mirror):
                    pkg_dir = mirror
                else:
                    raise EngineError(
                        f"packages.yml: hub package {entry['package']!r} "
                        f"is not vendored (looked in {installed} and "
                        f"{mirror}); place the package tree in "
                        f"dbt_packages/{hub_name}/ or use a local: path"
                    )
            elif isinstance(entry, dict) and "git" in entry:
                # Git entry (`- git: https://... /dbt_utils.git`). Same
                # offline posture as hub entries: NO network — resolve
                # only a pre-installed tree at dbt_packages/<repo-name>
                # (what `dbt deps` would have left behind); anything
                # else rejects loudly with the exact path looked up.
                # `revision:`/`subdirectory:` are accepted: revision is
                # informational (the vendored tree IS the pin),
                # subdirectory narrows the resolved root like dbt's.
                repo = str(entry["git"]).rstrip("/").rsplit("/", 1)[-1]
                if repo.endswith(".git"):
                    repo = repo[:-4]
                # dbt deps installs under the package's PROJECT name,
                # not the repo basename (dbt-utils.git -> dbt_utils/),
                # so probe the basename, its dash->underscore form, and
                # finally any dbt_packages/*/dbt_project.yml whose name
                # normalizes to the repo name.
                pkg_root = os.path.join(project_dir, "dbt_packages")
                sub = str(entry.get("subdirectory", "")) or None
                candidates = [repo, repo.replace("-", "_")]
                tried = []
                installed = None
                for cand in dict.fromkeys(candidates):
                    p = os.path.join(pkg_root, cand)
                    tried.append(p)
                    if os.path.isdir(p):
                        installed = p
                        break
                if installed is None and os.path.isdir(pkg_root):
                    want = repo.replace("-", "_").lower()
                    for d in sorted(os.listdir(pkg_root)):
                        py = os.path.join(pkg_root, d, "dbt_project.yml")
                        if not os.path.exists(py):
                            continue
                        with open(py) as fh:
                            nm = (yaml.safe_load(fh) or {}).get("name", "")
                        if str(nm).replace("-", "_").lower() == want:
                            installed = os.path.join(pkg_root, d)
                            break
                if installed is not None and sub:
                    subpath = os.path.join(installed, sub)
                    if os.path.isdir(subpath):
                        installed = subpath
                    else:
                        tried.append(subpath)
                        installed = None
                if installed is None:
                    raise EngineError(
                        f"packages.yml: git package {entry['git']!r} is "
                        f"not vendored (looked in {', '.join(tried)} and "
                        "scanned dbt_packages/*/dbt_project.yml names); "
                        "run your package install OUTSIDE this engine "
                        f"and place the tree in dbt_packages/, or use a "
                        "local: path"
                    )
                pkg_dir = installed
            else:
                raise EngineError(
                    f"packages.yml: unsupported package entry {entry!r} "
                    "(supported: 'local:' paths, vendored hub "
                    "'package:' names, and vendored 'git:' entries "
                    "resolved from dbt_packages/)"
                )
            pkg_proj_path = os.path.join(pkg_dir, "dbt_project.yml")
            if not os.path.exists(pkg_proj_path):
                raise EngineError(
                    f"packages.yml: {pkg_dir} has no dbt_project.yml"
                )
            with open(pkg_proj_path) as fh:
                pkg_proj = yaml.safe_load(fh) or {}
            pkg_name = pkg_proj.get("name", os.path.basename(pkg_dir))
            pkg_macro_paths = pkg_proj.get("macro-paths", ["macros"])
            for full, parsed, parsed_tests in _macro_files(pkg_dir, pkg_macro_paths):
                for tname, tdef in parsed_tests.items():
                    # project wins a bare-name collision; two
                    # PACKAGES colliding is an error (same rule
                    # as fragment macros)
                    if tname in pkg_test_owner and pkg_test_owner[tname] != pkg_name:
                        raise EngineError(
                            f"test macro {tname!r} is defined by "
                            f"packages {pkg_test_owner[tname]!r} and "
                            f"{pkg_name!r} — rename one"
                        )
                    if tname not in test_macros:
                        test_macros[tname] = tdef
                        pkg_test_owner[tname] = pkg_name
                for mname, mdef in parsed.items():
                    qual = f"{pkg_name}.{mname}"
                    if qual in macros:
                        raise EngineError(
                            f"duplicate macro {qual!r} ({full})"
                        )
                    macros[qual] = mdef
                    if mname in pkg_bare_owner:
                        if pkg_bare_owner[mname] != pkg_name:
                            raise EngineError(
                                f"macro {mname!r} is defined by "
                                f"packages {pkg_bare_owner[mname]!r} "
                                f"and {pkg_name!r} — call it "
                                "package-qualified"
                            )
                    elif mname not in macros:
                        macros[mname] = mdef
                        pkg_bare_owner[mname] = pkg_name

    # dbt's generate_schema_name override — THE most common production
    # macro customization (every multi-env tree carries one). When the
    # project (or a package) defines it, each model's dataset routes
    # through it with dbt's (custom_schema_name, node) signature; the
    # default dbt implementation (`{% if custom_schema_name is none %}`
    # + `| trim`) works verbatim. One deliberate deviation, documented:
    # the macro computes the LOGICAL dataset — target.schema binds to
    # the logical root ('udf'), because the engine applies --env
    # suffixing uniformly AFTER routing (catalog.env_database); binding
    # the env-suffixed name would double-suffix. generate_alias_name,
    # the sibling override for the PHYSICAL relation name (dbt's
    # default: custom alias if set, else the model name), routes the
    # same way; its output is authoritative (dbt): an override that
    # returns node.name DROPS a configured alias, it doesn't keep it.
    def _route(kwargs: dict, model_name: str) -> None:
        node = {"name": model_name, "resource_type": "model"}
        tgt = macro_env["target"]
        for key, macro, target in (
            ("database", "generate_schema_name", {**tgt, "schema": "udf"}),
            ("alias", "generate_alias_name", tgt),
        ):
            if macro not in macros:
                continue
            custom = kwargs.pop(key, None)
            routed = call_macro(
                macros,
                macro,
                (str(custom) if custom else None, node),
                origin=f"model {model_name} ({macro})",
                var_fn=load_var,
                env={**macro_env, "target": target},
            ).strip()
            if not re.fullmatch(r"\w+", routed or ""):
                raise EngineError(
                    f"model {model_name}: {macro} rendered "
                    f"{routed!r} — expected one identifier"
                )
            if key == "database" or routed != model_name:
                kwargs[key] = routed

    models: list[ModelSpec] = []
    tests: list[SchemaTest] = []
    sources: list[tuple[str, str]] = []
    docs: dict[str, dict] = {}  # model name -> {description, columns, tests}

    # Pass 1: YAML (descriptions, tests, sources) so docs attach to specs.
    yml_files: list[str] = []
    sql_files: list[tuple[str, list[str]]] = []  # (path, folder parts)
    model_files = (".yml", ".yaml", ".sql", ".py")
    for root, full in _project_files(project_dir, model_paths, model_files):
        if full.endswith((".yml", ".yaml")):
            yml_files.append(full)
        else:
            rel = os.path.relpath(os.path.dirname(full), root)
            sql_files.append((full, [] if rel == "." else rel.split(os.sep)))

    unit_tests: list[UnitTest] = []
    exposures: list[Exposure] = []
    metrics: list[Metric] = []
    source_freshness: list[dict] = []
    for path in yml_files:
        with open(path) as fh:
            doc = yaml.safe_load(fh) or {}
        for m in doc.get("models", []) or []:
            docs[m["name"]] = m
        for s in doc.get("sources", []) or []:
            src_defaults = {
                "loaded_at_field": s.get("loaded_at_field"),
                "freshness": s.get("freshness"),
            }
            for t in s.get("tables", []) or []:
                sources.append((s["name"], t["name"]))
                laf = t.get("loaded_at_field") or src_defaults["loaded_at_field"]
                # `freshness: null` on a table is dbt's explicit opt-out
                # from the source-level default — absent key inherits,
                # explicit null excludes.
                fr = (
                    t["freshness"] if "freshness" in t
                    else src_defaults["freshness"]
                )
                if laf and fr:
                    source_freshness.append(
                        {
                            "dataset": s["name"],
                            "table": t["name"],
                            "loaded_at_field": laf,
                            "warn_after_hours": _freshness_hours(
                                fr.get("warn_after"), default=24.0
                            ),
                            "error_after_hours": _freshness_hours(
                                fr.get("error_after"), default=72.0
                            ),
                        }
                    )
        unit_tests.extend(_parse_unit_tests(doc))
        for e in doc.get("exposures", []) or []:
            deps, src_deps = [], []
            for d in e.get("depends_on", []) or []:
                mr = _INPUT_REF_RE.search(str(d))
                if mr:
                    deps.append(mr.group(1))
                    continue
                ms = _INPUT_SOURCE_RE.search(str(d))
                if ms:
                    src_deps.append(f"{ms.group(1)}.{ms.group(2)}")
                else:
                    raise EngineError(
                        f"exposure {e.get('name')}: unparseable depends_on {d!r}"
                    )
            owner = e.get("owner", {}) or {}
            exposures.append(
                Exposure(
                    name=e["name"],
                    exposure_type=e.get("type", "dashboard"),
                    depends_on=tuple(deps),
                    depends_on_sources=tuple(src_deps),
                    owner=owner.get("name", "") if isinstance(owner, dict) else str(owner),
                    url=e.get("url", ""),
                    description=e.get("description", ""),
                    maturity=e.get("maturity", ""),
                )
            )
        for mt in doc.get("metrics", []) or []:
            metrics.append(
                Metric(
                    name=mt["name"],
                    model=mt["model"],
                    expression=mt["expression"],
                    dimensions=tuple(mt.get("dimensions", []) or []),
                    time_dimension=mt.get("time_dimension"),
                    filter=mt.get("filter"),
                    description=mt.get("description", ""),
                )
            )

    # Resolve {{ doc('name') }} references in every declared description
    # (model- and column-level) against the collected {% docs %} blocks.
    for d_model, meta_doc in docs.items():
        if meta_doc.get("description"):
            meta_doc["description"] = _resolve_docs(
                meta_doc["description"], f"model {d_model}"
            )
        for c in meta_doc.get("columns", []) or []:
            if c.get("description"):
                c["description"] = _resolve_docs(
                    c["description"], f"{d_model}.{c.get('name')}"
                )

    # dbt 1.5 model versions: a schema.yml entry carrying ``versions:``
    # is a VERSIONED MODEL ENTRY — each version's body lives in its own
    # file (``defined_in``, else ``<name>_v<N>``; the latest version may
    # also live in the bare ``<name>.sql``, dbt's lookup order). Map
    # file stems to (entry, version) so the SQL pass below registers
    # ModelSpec(name=<entry>, version=N) — ref('<entry>') then resolves
    # to the latest version, ref('<entry>', v=N) pins one (engine
    # _ref_key; dbt ref() of the same shape).
    version_lookup: dict[str, tuple[str, int, dict, dict]] = {}
    for v_entry, v_doc in docs.items():
        versions = v_doc.get("versions")
        if not versions:
            continue
        try:
            v_nums = [int(v["v"]) for v in versions]
        except (KeyError, TypeError, ValueError) as exc:
            raise EngineError(
                f"model {v_entry}: every versions: item needs an integer "
                f"v: ({exc})"
            ) from exc
        if len(set(v_nums)) != len(v_nums):
            raise EngineError(f"model {v_entry}: duplicate version numbers")
        declared = v_doc.get("latest_version")
        latest = int(declared) if declared is not None else max(v_nums)
        if latest not in v_nums:
            raise EngineError(
                f"model {v_entry}: latest_version={latest} is not a "
                f"declared version (have {sorted(v_nums)})"
            )
        for v in versions:
            vv = int(v["v"])
            stems = (
                [str(v["defined_in"])]
                if v.get("defined_in")
                else [f"{v_entry}_v{vv}"] + ([v_entry] if vv == latest else [])
            )
            for sc in stems:
                if sc in version_lookup:
                    raise EngineError(
                        f"model {v_entry}: file stem {sc!r} maps to two "
                        "versions"
                    )
                version_lookup[sc] = (v_entry, vv, dict(v), v_doc)

    seen_versions: dict[tuple[str, int], str] = {}

    def _version_columns(entry_doc: dict, v_meta: dict) -> dict[str, str]:
        """Per-version column docs: the entry's columns, filtered and
        extended by the version's ``columns:`` include/exclude list
        (dbt's ``- include: all`` / ``exclude: [...]`` directive)."""
        base = {
            c["name"]: c.get("description", "")
            for c in entry_doc.get("columns", []) or []
        }
        if "columns" not in v_meta:
            return base
        out: dict[str, str] = {}
        for item in v_meta.get("columns") or []:
            inc = item.get("include")
            if inc is not None:
                if inc in ("all", "*"):
                    out.update(base)
                elif isinstance(inc, (list, tuple)):
                    out.update({k: base.get(k, "") for k in inc})
                for ex in item.get("exclude", []) or []:
                    out.pop(ex, None)
            elif "name" in item:
                out[item["name"]] = item.get("description", "")
        return out

    seen_stems: dict[str, str] = {}
    for path, parts in sql_files:
        stem = os.path.splitext(os.path.basename(path))[0]
        if stem in seen_stems:
            # dbt fails compilation on duplicate model names; last-wins
            # would silently drop a model (register(replace=True) is for
            # overriding BUILT-INS, not intra-project collisions).
            raise EngineError(
                f"duplicate model name {stem!r}: {seen_stems[stem]} and {path}"
            )
        seen_stems[stem] = path
        meta_early = docs.get(stem, {})
        if path.endswith(".py"):
            kwargs: dict = {}
            _apply_config(_config_tree_for(config_tree, name, parts), kwargs)
            _apply_config(dict(meta_early.get("config", {}) or {}), kwargs)
            if not kwargs.pop("_enabled", True):
                continue  # disabled: never exec the file (dbt skips it)
            py_body, py_refs = _load_python_model(path)
            kwargs.pop("kind", None)  # python models are always tables
            _route(kwargs, stem)
            models.append(
                ModelSpec(
                    name=stem,
                    kind="python",
                    sql="",
                    python_body=py_body,
                    python_refs=py_refs,
                    description=meta_early.get("description", ""),
                    columns={
                        c["name"]: c.get("description", "")
                        for c in meta_early.get("columns", []) or []
                    },
                    **kwargs,
                )
            )
            continue
        with open(path) as fh:
            text = fh.read()
        # Macro expansion precedes config extraction so a config() block
        # stays literal (macros may not generate configs — out of subset),
        # but follows dbt's model: macros render before anything executes.
        text = _expand(text, path)
        try:
            cfg_inline, body = _split_config_block(text)
        except EngineError:
            raise
        except Exception as exc:  # unbalanced parens / unterminated string
            raise EngineError(
                f"{path}: malformed {{{{ config(...) }}}} block ({exc})"
            ) from exc
        ver = version_lookup.get(stem)
        if ver is not None:
            v_entry, v_num, v_meta, v_doc = ver
            if (v_entry, v_num) in seen_versions:
                raise EngineError(
                    f"model {v_entry} v{v_num}: defined in both "
                    f"{seen_versions[(v_entry, v_num)]} and {path}"
                )
            seen_versions[(v_entry, v_num)] = path
            meta = v_doc
        else:
            meta = docs.get(stem, {})
        kwargs: dict = {"kind": "view"}  # dbt's default materialization
        # dbt precedence: project tree < schema.yml config: < in-file config()
        _apply_config(_config_tree_for(config_tree, name, parts), kwargs)
        _apply_config(dict(meta.get("config", {}) or {}), kwargs)
        if ver is not None:
            # per-version config overlay (dbt: a versions: item may
            # carry its own config:, layered over the entry's)
            _apply_config(dict(v_meta.get("config", {}) or {}), kwargs)
        _apply_config(cfg_inline, kwargs)
        if not kwargs.pop("_enabled", True):
            continue
        model_name = v_entry if ver is not None else stem
        _route(kwargs, model_name)
        if ver is not None:
            kwargs["version"] = v_num
            if v_doc.get("latest_version") is not None:
                kwargs["latest_version"] = int(v_doc["latest_version"])
            if v_doc.get("deprecation_date") is not None:
                kwargs["deprecation_date"] = str(v_doc["deprecation_date"])
            columns = _version_columns(v_doc, v_meta)
        else:
            columns = {
                c["name"]: c.get("description", "")
                for c in meta.get("columns", []) or []
            }
        models.append(
            ModelSpec(
                name=model_name,
                sql=body.strip(),
                description=meta.get("description", ""),
                columns=columns,
                **kwargs,
            )
        )

    # dbt snapshots: {% snapshot name %}{{ config(...) }} SELECT ...
    # {% endsnapshot %} blocks under snapshot-paths — the SCD2 surface a
    # migrating tree brings as files (the engine's kind='snapshot' has
    # existed since round 1; this wires the dbt file format onto it).
    snapshot_paths = proj.get("snapshot-paths", ["snapshots"])
    for _root, s_path in _project_files(project_dir, snapshot_paths, ".sql"):
        with open(s_path) as fh:
            s_text = _expand(fh.read(), s_path)
        for sm in _SNAPSHOT_BLOCK_RE.finditer(s_text):
            s_name, s_body = sm.group(1), sm.group(2)
            if s_name in seen_stems:
                raise EngineError(
                    f"duplicate model name {s_name!r}: "
                    f"{seen_stems[s_name]} and {s_path}"
                )
            seen_stems[s_name] = s_path
            cfg, body = _split_config_block(s_body)
            s_kwargs: dict = {
                "kind": "snapshot",
                "unique_key": cfg.pop("unique_key", None),
                "snapshot_strategy": cfg.pop("strategy", "timestamp"),
                "updated_at": cfg.pop("updated_at", None),
            }
            if "check_cols" in cfg:
                cc = cfg.pop("check_cols")
                s_kwargs["check_cols"] = (
                    tuple(cc) if isinstance(cc, (list, tuple)) else (cc,)
                )
            # dbt's snapshot schema config is target_schema
            # (target_database is BQ-project-level, dropped like
            # +database elsewhere)
            if "target_schema" in cfg:
                s_kwargs["database"] = cfg.pop("target_schema")
            cfg.pop("target_database", None)
            _apply_config(cfg, s_kwargs)
            if not s_kwargs.pop("_enabled", True):
                continue  # config(enabled=false): dbt skips it
            if s_kwargs["unique_key"] is None:
                raise EngineError(
                    f"{s_path}: snapshot {s_name!r} needs unique_key"
                )
            meta_s = docs.get(s_name, {})
            models.append(
                ModelSpec(
                    name=s_name,
                    sql=body.strip(),
                    description=meta_s.get("description", ""),
                    **s_kwargs,
                )
            )

    for root, seed_path in _project_files(project_dir, seed_paths, ".csv"):
        stem = os.path.splitext(os.path.basename(seed_path))[0]
        meta = docs.get(stem, {})
        seed_kwargs: dict = {}
        # dbt's ``seeds:`` config tree works like ``models:``
        # (``seeds: <project>: <folder>: +schema/+tags/...``);
        # apply it before macro routing so +schema lands in
        # ModelSpec.database exactly as a model's would.
        rel_parts = [
            p
            for p in os.path.relpath(os.path.dirname(seed_path), root).split(os.sep)
            if p not in (".", "")
        ]
        _apply_config(
            _config_tree_for(proj.get("seeds", {}) or {}, name, rel_parts),
            seed_kwargs,
        )
        seed_kwargs.pop("kind", None)  # seeds are always seeds
        # dbt routes seed schemas/aliases through the same
        # generate_* macros as models (snapshots do NOT:
        # their target_schema is documented as literal).
        _route(seed_kwargs, stem)
        models.append(
            ModelSpec(
                name=stem,
                kind="seed",
                sql=seed_path,
                description=meta.get("description", ""),
                **seed_kwargs,
            )
        )

    # dbt fails compilation when two models resolve to the same physical
    # relation (aliases / generate_* overrides collapsing names would
    # otherwise last-write-win silently at build).
    # Ephemeral models never materialize (dbt: no relation, CTE-inlined),
    # so they can share a name with a physical relation; functions/TVFs
    # live in the catalog's FUNCTION namespace, disjoint from tables —
    # each namespace is checked against itself only (round-3 ADVICE).
    phys_seen: dict[tuple[str, str, str], str] = {}
    for m_spec in models:
        if m_spec.kind == "ephemeral":
            continue
        ns = (
            "function"
            if m_spec.kind in ("function", "table_function")
            else "relation"
        )
        key = (ns, m_spec.database, m_spec.relation_name)
        if key in phys_seen and phys_seen[key] != m_spec.name:
            raise EngineError(
                f"models {phys_seen[key]!r} and {m_spec.name!r} both "
                f"materialize to {key[1]}.{key[2]} — change one alias/schema"
            )
        phys_seen[key] = m_spec.name

    # Column tests attach to every loaded model — including seeds (a
    # schema.yml `unique`/`not_null` on seed columns is standard dbt
    # practice; dropping them would let `test --project` pass with the
    # tests never executed). Custom names route through {% test %}
    # macros: the body renders with model -> a ref() placeholder (so
    # relation resolution stays run-time, like singular tests) and runs
    # as a SingularTest whose rows are the violations.
    def _generic_test(t_name, model_name, col_name, t_cfg, severity):
        tdef = test_macros.get(t_name)
        if tdef is None:
            return None
        sql = expand_test_macro(
            tdef,
            f"{{{{ ref('{model_name}') }}}}",
            col_name,
            t_cfg,
            macros,
            origin=f"test {t_name} on {model_name}",
            var_fn=load_var,
            env=macro_env,
        )
        suffix = f"_{col_name}" if col_name else ""
        return SingularTest(
            name=f"{t_name}_{model_name}{suffix}",
            sql=sql,
            severity=severity,
        )

    loaded_names = {m.name for m in models}
    for entry_name, meta in docs.items():
        if entry_name not in loaded_names:
            continue
        tests.extend(
            _schema_tests(entry_name, None, meta.get("tests"), _generic_test)
        )
        for c in meta.get("columns", []) or []:
            tests.extend(
                _schema_tests(entry_name, c, c.get("tests"), _generic_test)
            )

    # dbt singular tests: .sql files under test-paths whose rows ARE
    # the violations (the reference configures test-paths but ships the
    # directory empty — reference: dbt_project.yml:17, tests/.gitkeep).
    for _root, t_path in _project_files(project_dir, test_paths, ".sql"):
        with open(t_path) as fh:
            t_name = os.path.splitext(os.path.basename(t_path))[0]
            tests.append(SingularTest(t_name, _expand(fh.read().strip(), t_path)))

    analyses: dict[str, str] = {}
    for _root, a_path in _project_files(project_dir, analysis_paths, ".sql"):
        a_stem = os.path.splitext(os.path.basename(a_path))[0]
        if a_stem in analyses:
            raise EngineError(f"duplicate analysis name {a_stem!r}")
        with open(a_path) as fh:
            analyses[a_stem] = _expand(fh.read().strip(), a_path)

    selectors: dict[str, list[str]] = {}
    sel_path = os.path.join(project_dir, "selectors.yml")
    if os.path.exists(sel_path):
        with open(sel_path) as fh:
            selectors = _parse_selectors(yaml.safe_load(fh) or {})

    return LoadedProject(
        name=name,
        models=models,
        tests=tests,
        sources=sources,
        vars=dict(proj.get("vars", {}) or {}),
        unit_tests=unit_tests,
        exposures=exposures,
        metrics=metrics,
        selectors=selectors,
        source_freshness=source_freshness,
        on_run_start=_hook_tuple(proj.get("on-run-start")),
        on_run_end=_hook_tuple(proj.get("on-run-end")),
        analyses=analyses,
        macros=macros,
    )
