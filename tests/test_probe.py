"""scripts/probe.py: replica staging, the ``time`` mode's output line
and the ``compare`` ratios."""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

import probe  # noqa: E402


def test_stage_replicates_with_disjoint_ids(spark, sf_small, tmp_path):
    d = probe.stage(spark, 2, str(tmp_path), sf_small, ["documents", "embeddings"])
    for table in ("documents", "embeddings"):
        (key, stride), = probe.STRIDES[table].items()
        base = [r[0] for r in spark.read.parquet(
            os.path.join(sf_small, f"{table}.parquet")).select(key).collect()]
        rep = [r[0] for r in spark.read.parquet(
            os.path.join(d, f"{table}.parquet")).select(key).collect()]
        shifted = [i + stride for i in base]
        assert len(rep) == 2 * len(base)
        assert Counter(rep) == Counter(base + shifted)
        assert max(base) < min(shifted)
    replicated = ("documents.parquet", "embeddings.parquet")
    others = [f for f in os.listdir(sf_small)
              if f.endswith(".parquet") and f not in replicated]
    assert others
    for f in others:
        assert os.path.islink(os.path.join(d, f))
        assert os.path.realpath(os.path.join(d, f)) == os.path.realpath(
            os.path.join(sf_small, f))


def test_corpus_tables_from_input_files(spark, sf_small):
    df = spark.read.parquet(os.path.join(sf_small, "orders.parquet"))
    assert probe.corpus_tables(df.inputFiles(), sf_small) == {"orders"}
    assert probe.corpus_tables(["file:///elsewhere/orders.parquet"], sf_small) == set()


def test_time_prints_one_line_per_query(spark, sf_small, capsys):
    probe.main(["time", "--runs", "1", "--sf-dir", sf_small, "q1_pricing_summary"])
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 1
    rec = json.loads(lines[0])
    assert rec["query"] == "q1_pricing_summary"
    assert len(rec["runs"]) == 1 and rec["min"] == rec["runs"][0] > 0
    assert len(rec["jobs"]) == 1 and rec["jobs"][0] > 0


def test_compare_ratios_and_geomean(tmp_path, capsys):
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps({"queries": {"q1": 1.0, "q2": 2.0, "q3": 4.0}}))
    b.write_text(json.dumps({"queries": {"q1": 2.0, "q2": 1.0, "q4": 3.0}}))
    probe.main(["compare", str(a), str(b)])
    recs = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert {r["query"]: r["ratio"] for r in recs[:-1]} == {"q1": 2.0, "q2": 0.5}
    assert recs[-1] == {"geomean": 1.0, "n_shared": 2}
