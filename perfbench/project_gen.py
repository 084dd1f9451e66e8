"""Seeded dbt-style project in BigQuery dialect for the build workload.

The project follows the shape of ``examples/reference_migration``:
scalar ``function`` models (``SAFE.PARSE_DATETIME`` and ``SAFE_CAST``
ladders), ``table_function`` models that call them, ``table`` datamarts
that invoke the table functions with seeded arguments, and rollups that
fan in several datamarts so the DAG has both width and depth. The seed
varies bodies, arguments and wiring; the number of models is fixed.

``generate`` also returns, per table model, a DuckDB query that must
produce the same rows (built on the registry's ``test_table`` oracle).
"""

from __future__ import annotations

import os
import random

import yaml

# 22 models: a build takes about 4 s on 4 cores, so a run can time
# several builds and still fit its time budget
N_PARSE_FUNCS = 2
N_NUM_FUNCS = 2
N_TVFS = 4
N_MARTS = 10
N_ROLLUPS = 3
N_SUMMARIES = 1
# fixed fan-in, so that the seed changes the wiring but not the cost
ROLLUP_FAN_IN = 3
SUMMARY_FAN_IN = 3
N_MODELS = N_PARSE_FUNCS + N_NUM_FUNCS + N_TVFS + N_MARTS + N_ROLLUPS + N_SUMMARIES

# the five formats the stand-in source emits; every ladder holds all of
# them, in a seeded order, before the strict branch that raises
_FORMATS = (
    "%Y/%m/%d %H:%M:%S", "%Y/%m/%d", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d",
    "%Y-%m-%dT%H:%M:%E*SZ",
)
_KINDS = ("click", "error", "purchase", "signup", "view")

_PROJECT_YML = {
    "name": "bench_udf_project",
    "model-paths": ["models"],
    "models": {
        "bench_udf_project": {
            "datamart": {"+schema": "datamart", "+materialized": "table"},
            "udf": {
                "+schema": "udf",
                "function": {"+materialized": "function"},
                "table_function": {"+materialized": "table_function"},
            },
        }
    },
}


def _parse_func(rng: random.Random) -> str:
    fmts = list(_FORMATS)
    rng.shuffle(fmts)
    branches = [
        f"  SAFE.PARSE_DATETIME('{f}', timestamp_expression)," for f in fmts
    ]
    return "\n".join([
        "{{ config(params=['timestamp_expression STRING'], return_type='DATETIME') }}",
        "COALESCE(",
        *branches,
        "  PARSE_DATETIME('%Y/%m/%d %H:%M:%S', timestamp_expression)",
        ")",
    ]) + "\n"


def _num_func(rng: random.Random) -> str:
    fallback = rng.choice(["-1", "0", "NULL"])
    return (
        "{{ config(params=['value STRING'], return_type='INT64') }}\n"
        "COALESCE(\n"
        "  SAFE_CAST(value AS INT64),\n"
        "  CAST(SAFE_CAST(value AS FLOAT64) AS INT64),\n"
        f"  {fallback}\n"
        ")\n"
    )


def _tvf(parse: str, num: str, mod: int, rem: int) -> str:
    return (
        "{{ config(params=['kind STRING']) }}\n"
        "SELECT\n"
        f"  {{{{ ref('{num}') }}}}(column1) AS column1,\n"
        f"  {{{{ ref('{parse}') }}}}(column2) AS datetime\n"
        "FROM {{ source('bench', 'test_table') }}\n"
        f"WHERE id = kind AND MOD(CAST(column1 AS INT64), {mod}) = {rem}\n"
    )


def _rollup_sql(parts: list[str]) -> str:
    union = "\n  UNION ALL\n  ".join(f"SELECT column1, datetime FROM {p}" for p in parts)
    return (
        "SELECT COUNT(*) AS n_rows, MAX(column1) AS max_id,\n"
        "       MIN(datetime) AS first_ts, MAX(datetime) AS last_ts\n"
        f"FROM (\n  {union}\n) u"
    )


def _summary_sql(parts: list[str]) -> str:
    union = "\n  UNION ALL\n  ".join(
        f"SELECT n_rows, max_id, first_ts FROM {p}" for p in parts
    )
    return (
        # INT64: DuckDB would widen SUM(BIGINT) to HUGEINT
        "SELECT CAST(SUM(n_rows) AS INT64) AS n_rows, MAX(max_id) AS max_id,\n"
        "       MIN(first_ts) AS first_ts, COUNT(*) AS n_parts\n"
        f"FROM (\n  {union}\n) u"
    )


def _write(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(text)


def generate(out_dir: str, seed: int, oracle_prelude: str) -> dict[str, str]:
    """Write the project under ``out_dir``; returns {table model: DuckDB
    oracle SQL}. ``oracle_prelude`` defines the ``parsed`` relation
    (id, column1 BIGINT, datetime) over the DuckDB ``events`` view."""
    rng = random.Random(seed)
    models = os.path.join(out_dir, "models")
    _write(os.path.join(out_dir, "dbt_project.yml"), yaml.safe_dump(_PROJECT_YML))
    descriptions: dict[str, list[dict]] = {"udf": [], "datamart": []}

    def describe(folder: str, name: str, text: str) -> None:
        descriptions[folder].append({"name": name, "description": text})

    parses = [f"parse_ts_{i:02d}" for i in range(N_PARSE_FUNCS)]
    nums = [f"to_int_{i:02d}" for i in range(N_NUM_FUNCS)]
    for name in parses:
        _write(f"{models}/udf/function/{name}.sql", _parse_func(rng))
        describe("udf", name, "Multi-format DATETIME parser; raises on unparseable input.")
    for name in nums:
        _write(f"{models}/udf/function/{name}.sql", _num_func(rng))
        describe("udf", name, "Lenient INT64 parser built from a SAFE_CAST ladder.")

    tvf_filter: dict[str, tuple[int, int]] = {}
    for i in range(N_TVFS):
        name = f"rows_{i:02d}"
        mod = rng.choice((2, 3, 4, 5, 7))
        rem = rng.randrange(mod)
        tvf_filter[name] = (mod, rem)
        body = _tvf(rng.choice(parses), rng.choice(nums), mod, rem)
        _write(f"{models}/udf/table_function/{name}.sql", body)
        describe("udf", name, f"Rows of one kind whose id is {rem} mod {mod}.")

    oracles: dict[str, str] = {}
    marts = []
    for i in range(N_MARTS):
        name = f"mart_{i:02d}"
        tvf, kind = rng.choice(sorted(tvf_filter)), rng.choice(_KINDS)
        mod, rem = tvf_filter[tvf]
        _write(
            f"{models}/datamart/{name}.sql",
            f"SELECT column1, datetime\nFROM {{{{ ref('{tvf}') }}}}('{kind}')\n",
        )
        describe("datamart", name, f"{kind} rows delivered through {tvf}.")
        oracles[name] = (
            f"SELECT column1, datetime FROM parsed "
            f"WHERE id = '{kind}' AND column1 % {mod} = {rem}"
        )
        marts.append(name)

    rollups = []
    for i in range(N_ROLLUPS):
        name = f"rollup_{i:02d}"
        parts = rng.sample(marts, ROLLUP_FAN_IN)
        _write(
            f"{models}/datamart/{name}.sql",
            _rollup_sql([f"{{{{ ref('{p}') }}}}" for p in parts]) + "\n",
        )
        describe("datamart", name, "Fan-in of " + ", ".join(parts) + ".")
        oracles[name] = _rollup_sql([f"({oracles[p]})" for p in parts])
        rollups.append(name)

    for i in range(N_SUMMARIES):
        name = f"summary_{i:02d}"
        parts = rng.sample(rollups, SUMMARY_FAN_IN)
        _write(
            f"{models}/datamart/{name}.sql",
            _summary_sql([f"{{{{ ref('{p}') }}}}" for p in parts]) + "\n",
        )
        describe("datamart", name, "Fan-in of " + ", ".join(parts) + ".")
        oracles[name] = _summary_sql([f"({oracles[p]})" for p in parts])

    _write(
        f"{models}/udf/schema.yml",
        yaml.safe_dump({
            "version": 2,
            "models": descriptions["udf"],
            "sources": [{"name": "bench", "tables": [{"name": "test_table"}]}],
        }, sort_keys=False),
    )
    _write(
        f"{models}/datamart/schema.yml",
        yaml.safe_dump({"version": 2, "models": descriptions["datamart"]}, sort_keys=False),
    )
    return {name: oracle_prelude + sql for name, sql in oracles.items()}
