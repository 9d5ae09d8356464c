"""Full oracle check of the catalog on the benchmark's own inputs.

Every ``queries()`` entry that has an ``oracle_sql()`` twin runs on Spark
and on DuckDB over the same generated sf 0.01 tables, and the two results
are compared with ``tools/check.py``'s exact compare. The benchmark runs
re-check only a seeded sample of the queries they time; this test covers
the rest. Run from the root of the checkout (several minutes):

    python3 -m pytest perfbench/test_catalog_oracle.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (ROOT, HERE, os.path.join(ROOT, "tools")):
    if p not in sys.path:
        sys.path.insert(0, p)
os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
# Spark's Python workers import the engine too; they do not see sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]
)

import __spark_entry__ as entry  # noqa: E402
import check  # noqa: E402  (tools/check.py)
import gen_sf  # noqa: E402  (tools/gen_sf.py)
import worker  # noqa: E402

SF = 0.01
SEED = 42
NAMES = [n for n in entry.queries() if n in entry.oracle_sql()]


@pytest.fixture(scope="module")
def env(tmp_path_factory):
    from binance_futures_availability_spark.session import get_session

    root = tmp_path_factory.mktemp("perfbench_oracle")
    sf_dir = str(root / "inputs")
    gen_sf.generate(SF, sf_dir, SEED)
    os.environ["SPARK_GRAFT_CACHE"] = str(root / "cache")
    worker.redirect_ivf_index(entry, str(root / "ivf"))
    spark = get_session("perfbench-oracle")
    spark.sparkContext.setLogLevel("ERROR")
    con = worker.duckdb_views(sf_dir)
    yield spark, sf_dir, con
    con.close()


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(env, name):
    spark, sf_dir, con = env
    got = entry.queries()[name](spark, sf_dir).toPandas()
    want = con.execute(entry.oracle_sql()[name]).fetchdf()
    assert check.compare(name, got, want) == []
