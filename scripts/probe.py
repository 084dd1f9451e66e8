"""One probe tool: isolated query timing, scaling over on-disk corpus
replicas, and per-query comparison of two bench sidecars.

    python scripts/probe.py time NAME... [--runs N] [--top N] [--plans DIR] [--isolate]
    python scripts/probe.py scale NAME... [--multiples 1 10 30]
    python scripts/probe.py compare A.json B.json

``time`` resets the retrain-epoch databases (``bench._reset_epoch_dbs``)
and prints, per query, the end-to-end fn+collect runs and their minimum
(``bench.time_query``, the bench's own timing loop), and the number of
Spark jobs each run started (``jobs``). ``--top N`` adds
the N slowest queries of the bench sidecar for this core count;
``--plans DIR`` writes each query's ``explain("formatted")`` to
``DIR/<name>.txt`` (for lifecycle queries that is the plan of the final
read only); ``--isolate`` runs each name in a fresh process, so no
earlier query's session state is in the number.

``scale`` stages shifted-id replicas of the corpus tables the named
queries read (found from ``inputFiles()`` of one untimed warm-up run),
symlinks the other tables, times each query at each multiple as the
min of 2 runs, drops the staged corpus' index and epoch databases
between multiples, and prints the log-log exponent (t ~ N^e: e ~ 1 is
linear in the corpus, e ~ 0 flat). A query whose result frame reads no
corpus table (a lifecycle query returning its sink or index tables)
gets every table in ``STRIDES`` replicated, and says so on stderr.

``compare`` prints each shared query's B/A ratio of the per-query
minima and their geomean.

``--sf-dir`` (default ``$SPARK_GRAFT_SF_DIR``, as bench.py) picks the
corpus for ``time`` and the base corpus for ``scale``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
from urllib.parse import unquote, urlparse

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from dbt_bigquery_udf_spark import get_spark  # noqa: E402
from dbt_bigquery_udf_spark import queries as Q  # noqa: E402
from dbt_bigquery_udf_spark.session import default_cpus  # noqa: E402
from dbt_bigquery_udf_spark.testing import job_ids  # noqa: E402

# Key columns shifted per replica copy, so joins and groups scale with
# the data instead of collapsing onto the first copy's keys.
STRIDES = {
    "documents": {"doc_id": 10_000_000},
    "embeddings": {"vec_id": 10_000_000},
    "events": {"event_id": 10_000_000, "user_id": 1_000_000},
    "lineitem": {"l_orderkey": 10_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
}


def stage(spark, n: int, root: str, sf_dir: str, tables) -> str:
    """Write ``root/x<n>``: an sf layout holding ``n`` shifted-id copies
    of each of ``tables`` and a symlink to every other table. The copies
    are written as at least 4n files, rounded up to a whole multiple of
    the cores, so no multiple runs a half-idle straggler wave."""
    from pyspark.sql import functions as F

    out = os.path.join(root, f"x{n}")
    cores = spark.sparkContext.defaultParallelism
    for table in tables:
        df = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
        rep = None
        for i in range(n):
            c = df.withColumns({
                col: (F.col(col) + F.lit(i * stride)).cast("long")
                for col, stride in STRIDES[table].items()
            })
            rep = c if rep is None else rep.unionByName(c)
        files = cores * math.ceil(4 * n / cores)
        rep.repartition(files).write.mode("overwrite").parquet(
            os.path.join(out, f"{table}.parquet")
        )
    os.makedirs(out, exist_ok=True)
    for f in os.listdir(sf_dir):
        dst = os.path.join(out, f)
        if f.endswith(".parquet") and not os.path.exists(dst):
            os.symlink(os.path.join(sf_dir, f), dst)
    return out


def corpus_tables(files, sf_dir: str) -> set[str]:
    """The corpus tables under ``sf_dir`` that ``files`` (URIs, as
    ``DataFrame.inputFiles()`` gives them) belong to."""
    base = os.path.realpath(sf_dir)
    out = set()
    for uri in files:
        rel = os.path.relpath(os.path.realpath(unquote(urlparse(uri).path)), base)
        head = rel.split(os.sep, 1)[0]
        if head.endswith(".parquet") and not rel.startswith(".."):
            out.add(head.removesuffix(".parquet"))
    return out


def _time(args) -> None:
    names = list(args.names)
    if args.top:
        with open(os.path.join(REPO, bench.sidecar_file(default_cpus()))) as fh:
            minima = json.load(fh)["queries"]
        slowest = sorted(minima, key=minima.get, reverse=True)[: args.top]
        names += [n for n in slowest if n not in names]
    if args.isolate:
        for name in names:
            cmd = [sys.executable, os.path.abspath(__file__), "time", name,
                   "--runs", str(args.runs), "--sf-dir", args.sf_dir]
            if args.plans:
                cmd += ["--plans", args.plans]
            proc = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                print(json.dumps({"query": name, "error": proc.stderr[-400:]}))
            else:
                print(lines[-1])
            sys.stdout.flush()
        return
    spark = get_spark(app_name="probe")
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    for name in names:
        fn = Q.QUERIES[name]
        bench._reset_epoch_dbs(spark, args.sf_dir)
        runs, jobs = [], []
        for _ in range(args.runs):
            with job_ids(spark) as ids:
                runs += bench.time_query(spark, fn, 1, args.sf_dir)
            jobs.append(len(ids))
        if args.plans:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                fn(spark, args.sf_dir).explain("formatted")
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as fh:
                fh.write(buf.getvalue())
        spark.catalog.clearCache()
        print(json.dumps(
            {"query": name, "runs": runs, "min": min(runs), "jobs": jobs}))
        sys.stdout.flush()


def _index_dbs(spark) -> set[str]:
    return {
        d.name for d in spark.catalog.listDatabases()
        if d.name.startswith(bench._INDEX_DB_PREFIXES)
    }


def _scale(args) -> None:
    spark = get_spark(app_name="probe-scale")
    tables: set[str] = set()
    for name in args.names:  # untimed warm-up: JVM, codegen, broadcasts
        df = Q.QUERIES[name](spark, args.sf_dir)
        df.collect()
        read = corpus_tables(df.inputFiles(), args.sf_dir) & STRIDES.keys()
        if not read:
            print(f"{name}: result reads no corpus table, replicating all",
                  file=sys.stderr)
        tables |= read or STRIDES.keys()
    spark.catalog.clearCache()
    root = tempfile.mkdtemp(prefix="probe_scale_")
    best: dict[str, dict[int, float]] = {n: {} for n in args.names}
    try:
        for n in args.multiples:
            d = stage(spark, n, root, args.sf_dir, sorted(tables))
            rows = {t: spark.read.parquet(os.path.join(d, f"{t}.parquet")).count()
                    for t in sorted(tables)}
            print(json.dumps({"x": n, "rows": rows}))
            before = _index_dbs(spark)
            for name in args.names:
                bench._reset_epoch_dbs(spark, d)
                runs = bench.time_query(spark, Q.QUERIES[name], 2, d)
                best[name][n] = min(runs)
                spark.catalog.clearCache()
                print(json.dumps(
                    {"query": name, "x": n, "runs": runs, "min": min(runs)}))
                sys.stdout.flush()
            bench._drop_databases(spark, sorted(_index_dbs(spark) - before))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    lo, hi = min(args.multiples), max(args.multiples)
    if lo != hi:
        for name, t in best.items():
            e = math.log(t[hi] / t[lo]) / math.log(hi / lo)
            print(json.dumps(
                {"query": name, "exponent": round(e, 2), "from": lo, "to": hi}))


def _compare(args) -> None:
    with open(args.a) as fa, open(args.b) as fb:
        a, b = json.load(fa)["queries"], json.load(fb)["queries"]
    shared = [q for q in a if q in b and a[q] > 0 and b[q] > 0]
    for q in shared:
        ratio = round(b[q] / a[q], 3)
        print(json.dumps({"query": q, "a": a[q], "b": b[q], "ratio": ratio}))
    if shared:
        geo = math.exp(sum(math.log(b[q] / a[q]) for q in shared) / len(shared))
        print(json.dumps({"geomean": round(geo, 3), "n_shared": len(shared)}))


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    t = sub.add_parser("time")
    t.add_argument("names", nargs="*")
    t.add_argument("--runs", type=int, default=3)
    t.add_argument("--top", type=int, default=0)
    t.add_argument("--plans")
    t.add_argument("--isolate", action="store_true")
    s = sub.add_parser("scale")
    s.add_argument("names", nargs="+")
    s.add_argument("--multiples", type=int, nargs="+", default=[1, 10, 30])
    for p in (t, s):
        p.add_argument("--sf-dir", default=bench.SF_DIR)
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    args = ap.parse_args(argv)
    {"time": _time, "scale": _scale, "compare": _compare}[args.mode](args)


if __name__ == "__main__":
    main()
