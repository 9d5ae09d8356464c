"""bench.py, the one catalog timer: its per-query record and its refusal
of unknown query names (as tools/check.py refuses them)."""

from __future__ import annotations

import pathlib
import subprocess
import sys

import bench

ROOT = pathlib.Path(__file__).resolve().parents[1]
FIELDS = {"wall_s", "build_s", "jobs", "stages", "tasks", "compiles", "compile_s"}


def test_measure_records_every_field_and_counts_failures(spark):
    def bad(spark, sf_dir):
        raise RuntimeError("boom")

    qs = {
        "good": lambda spark, sf_dir: spark.range(100).selectExpr("id * 2 AS x"),
        "bad": bad,
    }
    m = bench.measure(spark, qs, ["good", "bad"], "unused", 2)

    for p in ("cold", "warm"):
        assert set(m["layers"][p]) == {"good", "bad"}
        for rec in m["layers"][p].values():
            assert set(rec) == FIELDS
        good = m["layers"][p]["good"]
        assert good["jobs"] >= 1 and good["wall_s"] >= good["build_s"] >= 0
    assert m["layers"]["cold"]["bad"]["wall_s"] == -1.0
    assert m["cold"]["bad"] == m["warm"]["bad"] == -1.0
    assert m["failed_reps"] == {"bad": 2}
    assert m["cold"]["good"] >= 0 and m["warm"]["good"] >= 0
    assert set(m["spread"]) == {"good"}
    assert set(m["cache_bytes"]) == {"good", "bad"}


def _run(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, *args],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )


def test_bench_refuses_unknown_query():
    r = _run("bench.py", "--only", "no_such_query", "--out", "")
    assert r.returncode != 0
    assert "no_such_query" in r.stderr


def test_check_refuses_unknown_query(tmp_path):
    r = _run("tools/check.py", str(tmp_path), "no_such_query")
    assert r.returncode != 0
    assert "no_such_query" in r.stderr
