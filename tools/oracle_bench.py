"""Time the DuckDB oracle side of the query catalog — the single-node
comparator for bench.py.

Runs every ``oracle_sql()`` statement on the same parquet tables DuckDB-side
and prints one JSON line mirroring bench.py's shape, so Spark-vs-DuckDB is
an apples-to-apples diff at any SF:

    python tools/oracle_bench.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from binance_futures_availability_spark.catalog import (  # noqa: E402
    TESTDATA_TABLES,
    table_path,
)


def run(sf_dir: str, warm_reps: int = 3, names=None) -> dict:
    """Oracle catalog sweeps (over ``names`` only, when given); returns the
    bench-shaped dict. Importable
    so ``bench.py --assert-budget`` can pair Spark and oracle back-to-back
    in ONE process (cross-process totals vary ±3 s on this box and are not
    comparable).

    Protocol pinned in r11 (verdict r10 #4): ONE discarded cold sweep
    (page cache + DuckDB's lazy parquet metadata), then ``warm_reps`` warm
    sweeps aggregated per-query MIN with SPREAD = max−min — the same
    discipline bench.py applies Spark-side, so the paired ratio compares
    steady states instead of one side's single shot (the r9→r10 ratio
    moved 0.72×→1.21× on identical queries mostly from single-shot DuckDB
    variance)."""
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        try:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'"
            )
        except duckdb.Error:
            pass
    sqls = {
        name: sql
        for name, sql in entrymod.oracle_sql().items()
        if names is None or name in names
    }
    reps: dict[str, list[float]] = {name: [] for name in sqls}
    for sweep in range(warm_reps + 1):
        for name, sql in sqls.items():
            t0 = time.time()
            try:
                con.execute(sql).fetchall()
                t = round(time.time() - t0, 3)
            except Exception:  # noqa: BLE001
                t = -1.0
            if sweep > 0:  # sweep 0 = cold, discarded
                reps[name].append(t)
    times: dict[str, float] = {}
    spread: dict[str, float] = {}
    for name, rs in reps.items():
        ok = [t for t in rs if t >= 0]
        if not ok:
            times[name] = -1.0
        else:
            times[name] = min(ok)
            spread[name] = round(max(ok) - min(ok), 3)
    total = round(sum(v for v in times.values() if v >= 0), 3)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spreads = sorted(spread.values())
    return {
        "metric": "oracle_catalog_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "queries_spread": spread,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "reps": {"warm": warm_reps, "agg": "min", "cold_discarded": 1},
        "spread": (
            {
                "p50": spreads[len(spreads) // 2],
                "max": max(spreads),
                "total": round(sum(spreads), 3),
            }
            if spreads
            else {}
        ),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    # warm_reps is wall-clock-tunable for the big SFs (an sf1 DuckDB sweep
    # is ~23 min); the artifact's `reps` field records what actually ran
    warm_reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    print(json.dumps(run(sf_dir, warm_reps=warm_reps)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
