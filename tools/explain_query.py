"""Dump .explain('formatted') for named catalog queries to files.

Usage: python tools/explain_query.py OUT_DIR SUFFIX query [query ...]

Writes OUT_DIR/<query>_<SUFFIX>.txt for each query. Explain does not
run the plan, but building a query runs its eager jobs (the fact
materialization, the IVF seed collect in ``similarity._seeds``, the
``arrays.count`` corpus count in ``dedup``). The artifact registry is
cleared before each query is built, so a plan does not depend on which
artifacts the queries named before it materialized. Run from the repo
checkout whose plans you want (a ``git archive`` copy of an older commit
gives the 'before' side).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from binance_futures_availability_spark import index_cache  # noqa: E402
from binance_futures_availability_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_session("explain")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    for name in names:
        if name not in qs:
            print(f"SKIP {name}: not in catalog", file=sys.stderr)
            continue
        index_cache.clear_indexes()
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write(plan)
        n_ex = plan.count("Exchange")
        print(f"{name}: {len(plan)} bytes, Exchange x{n_ex} -> {path}")


if __name__ == "__main__":
    main()
