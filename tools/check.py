"""Local correctness harness mimicking the driver's oracle gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet tables, then compares row count, column names, and
values (column-name-sorted, row-sorted) — exact comparison so any
nondeterminism shows up before the driver sees it.

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from binance_futures_availability_spark.catalog import TESTDATA_TABLES, table_path  # noqa: E402
from binance_futures_availability_spark.session import get_session  # noqa: E402


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif s.dtype == object:
            # dates / decimals / strings → canonical string
            df[c] = s.map(lambda v: None if v is None else str(v))
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean")
    if len(df):
        df = df.sort_values(by=list(df.columns), na_position="last").reset_index(
            drop=True
        )
    return df


def compare(name: str, spark_pd: pd.DataFrame, oracle_pd: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pd) != len(oracle_pd):
        problems.append(f"rowcount spark={len(spark_pd)} oracle={len(oracle_pd)}")
    scols, ocols = sorted(spark_pd.columns), sorted(oracle_pd.columns)
    if scols != ocols:
        problems.append(f"columns spark={scols} oracle={ocols}")
        return problems
    if problems:
        return problems
    # the driver hashes raw values: an int64 Spark column vs a float64 oracle
    # column (DuckDB HUGEINT fetch) hash-mismatches even when values are
    # numerically equal — flag dtype-kind drift instead of coercing it away
    for c in spark_pd.columns:
        sk = spark_pd[c].dtype.kind
        ok_ = oracle_pd[c].dtype.kind
        num = {"i", "u", "f"}
        if sk in num and ok_ in num and (sk == "f") != (ok_ == "f"):
            problems.append(
                f"col {c}: dtype kind spark={spark_pd[c].dtype} "
                f"oracle={oracle_pd[c].dtype} (would hash-mismatch)"
            )
    if problems:
        return problems
    s, o = normalize(spark_pd.copy()), normalize(oracle_pd.copy())
    for c in s.columns:
        sv, ov = s[c], o[c]
        if pd.api.types.is_float_dtype(sv) and pd.api.types.is_float_dtype(ov):
            a, b = sv.to_numpy(), ov.to_numpy()
            eq = (a == b) | (np.isnan(a) & np.isnan(b))
            if not eq.all():
                bad = np.where(~eq)[0][:3]
                diffs = [(float(a[i]), float(b[i])) for i in bad]
                problems.append(f"col {c}: {int((~eq).sum())} float diffs e.g. {diffs}")
        else:
            try:
                eq = sv.fillna("__NULL__").eq(ov.fillna("__NULL__"))
            except Exception:
                eq = sv.astype(str).eq(ov.astype(str))
            if not eq.all():
                bad = list(eq[~eq].index[:3])
                ex = [(sv.iloc[i], ov.iloc[i]) for i in bad]
                problems.append(f"col {c}: {int((~eq).sum())} diffs e.g. {ex}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    spark = get_session("check")
    con = duckdb.connect()
    # DuckDB defaults its memory_limit to 80% of PHYSICAL RAM, blind to
    # the Spark driver JVM sharing the process — at sf10 one hungry
    # oracle grew the process to 106 GB RSS and the kernel OOM-killed
    # the whole gate. Cap the oracle side so it spills to disk instead;
    # override with CHECK_DUCKDB_MEM for bigger boxes.
    con.execute(
        f"SET memory_limit='{os.environ.get('CHECK_DUCKDB_MEM', '48GB')}'"
    )
    for t in TESTDATA_TABLES:
        try:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'"
            )
        except duckdb.Error:
            pass

    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"skip  {name}: no oracle (rows={len(sdf)})")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error {type(e).__name__}: {e}")
            failed.append(name)
            continue
        problems = compare(name, sdf, odf)
        dt = time.time() - t0
        if problems:
            print(f"FAIL  {name} ({dt:.1f}s rows={len(sdf)}): " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"ok    {name} ({dt:.1f}s rows={len(sdf)})")
    print(f"\n{len(failed)} failures: {failed}" if failed else "\nALL OK")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
