"""bench.py: a query or section that raises reports ``null`` in its slot
of the one stdout JSON line (never a number that could pass for a
measurement), is left out of the total, and its error text goes to one
stderr JSON line."""

from __future__ import annotations

import json
from types import SimpleNamespace

import bench


def _boom(*_a, **_k):
    raise RuntimeError("planted failure")


def test_failed_query_and_sections_report_null(spark, sf_dir, monkeypatch, capsys):
    registry = {
        "q_ok": SimpleNamespace(bench=True, oracle="SELECT 1", spark=lambda s, _sf: s.range(3)),
        "q_bad": SimpleNamespace(bench=True, oracle="SELECT * FROM no_such_table", spark=_boom),
    }
    monkeypatch.setattr(bench, "REGISTRY", registry)
    monkeypatch.setattr(bench, "load_all", lambda: None)
    monkeypatch.setattr(bench, "get_spark", lambda _name: spark)
    monkeypatch.setattr(bench, "RUNS", 1)
    monkeypatch.setattr(bench, "SF1_DIR", sf_dir)  # holds every table: no generation
    monkeypatch.setattr(bench, "lsh_recall", _boom)
    monkeypatch.setattr(bench, "ivf_recall", lambda _s: 0.75)
    monkeypatch.setattr(bench, "pq_recall", _boom)
    try:
        bench.main()
    finally:
        spark.sparkContext.setLogLevel("WARN")
    out, err = capsys.readouterr()
    line = json.loads(out.strip().splitlines()[-1])
    assert line["queries"]["q_bad"] is None
    assert line["value"] == line["queries"]["q_ok"] >= 0
    assert line["recall"] is None and line["recall_multiprobe"] is None
    assert line["ivf_recall"] == 0.75
    assert line["pq_recall"] == {"adc": None, "rerank": None}
    sf1 = line["sf1"]
    assert sf1["spark_sec"]["q_bad"] is None and sf1["duckdb_sec"]["q_bad"] is None
    assert sf1["spark_total"] == sf1["spark_sec"]["q_ok"] >= 0
    assert sf1["duckdb_total"] == sf1["duckdb_sec"]["q_ok"] >= 0
    errors = [json.loads(x)["errors"] for x in err.splitlines() if x.startswith('{"errors"')]
    assert len(errors) == 1
    assert set(errors[0]) == {
        "q_bad", "recall", "recall_multiprobe", "pq_recall", "sf1.spark.q_bad", "sf1.duckdb.q_bad",
    }
    assert "no_such_table" in errors[0]["sf1.duckdb.q_bad"]
    assert all("planted failure" in v for k, v in errors[0].items() if k != "sf1.duckdb.q_bad")
