"""Benchmark harness — the one place the repo times a catalog query.

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}. Each query plan is fully executed via
the noop sink (materializes every output column; nothing collected to the
driver). Session startup is excluded.

The COMPLETE artifact (cold + warm + secondary per-query maps, and each
query's per-layer record under ``layers`` — everything, including what
goes to stderr) is also written to ``--out FILE`` (default
``BENCH_FULL.json`` next to this script), because the driver captures only
the tail of combined output and a 111-query stdout line loses its head.

    python bench.py                          # the full catalog
    python bench.py --only q1 q2 --out x.json  # a subset, same protocol
    python bench.py --oracle-out o.json      # plus the paired DuckDB sweep
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
sys.path += [os.path.join(ROOT, "perfbench"), os.path.join(ROOT, "tools")]

import __spark_entry__ as entrymod
from binance_futures_availability_spark.session import DEFAULT_CPUS, get_session
from probes import SparkCounters, codegen_delta  # perfbench/probes.py

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: three warm passes, per-query MIN, per-query SPREAD (max−min of the
#: warm reps): steady-state latency, robust to ambient load spikes
#: (standard min-of-N benchmarking practice — the min is the run least
#: polluted by noise, not a best case: these are fixed deterministic
#: plans). The spread is the repetition-noise bound that makes the
#: round-over-round warm ratio interpretable: a query whose spread rivals
#: its min moved because the BOX moved, not the plan. Pinned in r11:
#: min-of-3 warm on BOTH sides, reps + spread recorded in every artifact.
WARM_REPS = 3


def run_df(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def measure(spark, qs: dict, names: list, sf_dir: str, warm_reps: int) -> dict:
    """Time the catalog queries ``names`` (keys of ``qs``) at ``sf_dir``:
    one cold sweep, then ``warm_reps`` warm sweeps, every run through the
    noop sink under its own job group.

    Returns per-query maps ``cold`` (seconds), ``warm`` (min over the
    successful warm reps; -1 when the cold run or every warm rep failed),
    ``spread`` (max − min of the successful warm reps), ``failed_reps``
    (warm reps that raised, only where non-zero), ``cache_bytes`` (session
    storage after each query of the first warm sweep) and ``layers``:
    for the cold sweep and the first warm sweep, one record per query of

    - ``wall_s``: the run, timed inside the job group (-1 when it raised);
    - ``build_s``: inside the query function, before the final DataFrame
      exists — the eager jobs (-1 when the function raised);
    - ``jobs``, ``stages``, ``tasks``: the job group's, from the status
      tracker (stages that ran at least one task);
    - ``compiles``, ``compile_s``: Janino compiles and their seconds.
    """
    from binance_futures_availability_spark.index_cache import storage_bytes

    counters = SparkCounters(spark)

    def run(name: str) -> dict:
        cg0 = counters.codegen()
        n0 = (counters.jobs, counters.stages, counters.tasks)
        build = wall = -1.0
        with counters.op_group():
            t0 = time.perf_counter()
            try:
                df = qs[name](spark, sf_dir)
                build = round(time.perf_counter() - t0, 3)
                run_df(df)
                wall = round(time.perf_counter() - t0, 3)
            except Exception:  # noqa: BLE001 — a failed run is a recorded -1
                pass
        cg = codegen_delta(cg0, counters.codegen())
        return {
            "wall_s": wall,
            "build_s": build,
            "jobs": counters.jobs - n0[0],
            "stages": counters.stages - n0[1],
            "tasks": counters.tasks - n0[2],
            "compiles": int(cg["codegen.compiles"]),
            "compile_s": round(cg["codegen.compile_s"], 3),
        }

    layers: dict[str, dict[str, dict]] = {"cold": {}, "warm": {}}
    for name in names:
        layers["cold"][name] = run(name)
    reps: dict[str, list[float]] = {name: [] for name in names}
    cache_bytes: dict[str, int] = {}
    for sweep in range(warm_reps):
        for name in names:
            rec = run(name)
            reps[name].append(rec["wall_s"])
            if sweep == 0:
                layers["warm"][name] = rec
                cache_bytes[name] = storage_bytes(spark)
    cold = {name: rec["wall_s"] for name, rec in layers["cold"].items()}
    warm: dict[str, float] = {}
    spread: dict[str, float] = {}
    # intermittent warm-path failures stay visible: a query that throws
    # on some reps but succeeds once still reports min(successes), and
    # its failed-rep count is recorded so flaky warm runs are
    # distinguishable from clean min-of-N numbers
    failed_reps: dict[str, int] = {}
    for name in names:
        rs = [t for t in reps[name] if t >= 0]
        if len(rs) < len(reps[name]):
            failed_reps[name] = len(reps[name]) - len(rs)
        if cold[name] < 0 or not rs:
            warm[name] = -1.0
        else:
            warm[name] = min(rs)
            spread[name] = round(max(rs) - min(rs), 3)
    return {
        "cold": cold,
        "warm": warm,
        "spread": spread,
        "failed_reps": failed_reps,
        "cache_bytes": cache_bytes,
        "layers": layers,
    }


def _sf_value(sf_dir: str):
    sf = sf_dir.rstrip("/").split("sf")[-1]
    return float(sf) if sf.replace(".", "").isdigit() else sf


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--out",
        default=os.path.join(ROOT, "BENCH_FULL.json"),
        help="write the complete bench artifact (cold+warm+secondary "
        "per-query, per-layer records) here; '' disables",
    )
    ap.add_argument(
        "--only",
        nargs="+",
        metavar="NAME",
        help="time only these catalog queries (every pass, the oracle "
        "sweep and the budget checks)",
    )
    ap.add_argument(
        "--assert-budget",
        action="store_true",
        help="after the warm pass, run the DuckDB oracle catalog in this "
        "same process and FAIL (exit 2) if the warm Spark total exceeds "
        "2x the paired oracle total — the BASELINE.md contract — or if "
        "any query exceeds its entry in --budgets (reference "
        "scripts/validation/validate_performance.py's latency-target "
        "assertion harness)",
    )
    ap.add_argument(
        "--budget-ratio",
        type=float,
        default=2.0,
        help="max allowed warm-total / oracle-total ratio (default 2.0)",
    )
    ap.add_argument(
        "--oracle-out",
        default="",
        help="run the paired in-process DuckDB oracle sweep over the same "
        "queries after the warm pass and write its bench-shaped dict here "
        "(the ORACLE_BENCH_* artifact), so the committed pair is "
        "same-process",
    )
    ap.add_argument(
        "--budgets",
        default=os.path.join(ROOT, "BUDGETS.json"),
        help="per-query warm-latency budget file {name: max_sec}; missing "
        "file means no per-query assertions",
    )
    args = ap.parse_args()
    qs = entrymod.queries()
    unknown = sorted(set(args.only or ()) - set(qs))
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    names = [n for n in qs if not args.only or n in args.only]
    # Session sized to the benchmark scale: shuffle partitions small enough
    # that sub-GB shuffles don't pay 32-task scheduling overhead, and AQE off
    # because its per-exchange replanning (each exchange becomes a separate
    # job) costs ~0.1 s — noise at TB scale, dominant on sub-second queries.
    # The engine default (session.get_session) keeps AQE ON; a cluster run at
    # real scale keeps it and overrides shuffle partitions via spark-submit.
    #
    # r14 (verdict r13 item 2): the width DEFAULT is data-adaptive instead
    # of the constant 8 — ceil(input_bytes / 128 MB) floored at 8 and
    # capped at session.DEFAULT_CPUS ($SPARK_GRAFT_CPUS, else the CPU
    # affinity; guide §2.2: size partitions by bytes, not by a constant
    # tuned to one box). At sf0.1 (~17 MB input) this
    # still resolves to 8, keeping the warm protocol comparable with every
    # committed r11-r13 artifact; at sf10+ the width grows with the data
    # and the low-core/high-core runs genuinely diverge. Setting
    # BENCH_SHUFFLE to the raw core count was measured and REJECTED:
    # +24% warm / +13% cold at sf0.1 (23.22 vs 18.67 s warm, same code,
    # same box) — pure per-task scheduling floor on sub-GB shuffles, a
    # perverse scaling signal (more cores reads slower). The cold pass
    # total is now part of the printed contract line (cold_value): cold
    # does real data work (artifact builds at scan parallelism = cores),
    # so it is the core-sensitive number for the scaling study.
    def _adaptive_shuffle() -> int:
        total = 0
        for root, _dirs, files in os.walk(SF_DIR):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return max(8, min(DEFAULT_CPUS, -(-total // (128 << 20))))

    spark = get_session(
        "bench",
        shuffle_partitions=int(
            os.environ.get("BENCH_SHUFFLE") or _adaptive_shuffle()
        ),
        extra_conf={
            "spark.sql.adaptive.enabled": "false",
            "spark.locality.wait": "0",
            # keep stdout clean: the driver captures only the tail of the
            # combined output and must find the one JSON line intact
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Two passes, both reported. The cold pass includes one-time JVM
    # whole-stage-codegen compilation per plan shape (~0.2-0.9 s/query) and
    # the fact-table materialization; the warm pass is the steady-state
    # latency of the fixed query catalog — the operationally relevant number
    # for templates that run every day — and is the headline metric.
    primary = measure(spark, qs, names, SF_DIR, WARM_REPS)
    cold, times, spread = primary["cold"], primary["warm"], primary["spread"]
    failed_reps = primary["failed_reps"]

    sf_val = _sf_value(SF_DIR)
    total = round(sum(t for t in times.values() if t >= 0), 3)
    cold_total = round(sum(t for t in cold.values() if t >= 0), 3)
    # Cold-pass diagnostics go to stderr: the driver captures only the tail
    # of combined output and parses the single stdout JSON line below —
    # r02's line with both passes inline overflowed that buffer.
    print(
        json.dumps({"cold_value": cold_total, "queries_cold": cold, "sf": sf_val}),
        file=sys.stderr,
    )
    sys.stderr.flush()

    # Secondary-SF pass (advisor r03 #7): one warm catalog sweep at a second
    # scale factor so every BENCH artifact carries a cross-SF ratio check.
    # Compact summary inline (the stdout line must stay tail-window-safe);
    # full per-query secondary timings go to stderr.
    secondary = None
    sec_dir = os.environ.get("BENCH_SECONDARY_SF_DIR", "/root/testdata/sf0.01")
    if sec_dir and os.path.isdir(sec_dir) and sec_dir != SF_DIR:
        sec_times = measure(spark, qs, names, sec_dir, 1)["warm"]
        secondary = {
            "sf": _sf_value(sec_dir),
            "value": round(sum(t for t in sec_times.values() if t >= 0), 3),
        }
        print(
            json.dumps({"secondary_queries": sec_times, **secondary}),
            file=sys.stderr,
        )
        sys.stderr.flush()

    spreads = sorted(spread.values())
    spread_summary = (
        {
            "p50": spreads[len(spreads) // 2],
            "max": max(spreads),
            "total": round(sum(spreads), 3),
        }
        if spreads
        else {}
    )
    out = {
        "metric": "query_catalog_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf_val,
        "reps": {"warm": WARM_REPS, "agg": "min"},
        "spread": spread_summary,
        # r14 (verdict item 2): the cold-pass total rides the contract
        # line so the driver's low-core/high-core artifacts carry a
        # core-sensitive number — cold does real data work (one-time
        # artifact builds at scan parallelism = cores), where warm at
        # this SF is scheduling-floor + cache-read bound by construction.
        "cold_value": cold_total,
    }
    if failed_reps:
        out["failed_warm_reps"] = failed_reps
    if secondary is not None:
        out["secondary"] = secondary
    budget_failures: list[str] = []
    if args.assert_budget or args.oracle_out:
        # paired oracle run in the SAME process, immediately after the warm
        # pass — the only comparison that survives this box's ±3 s ambient
        # cross-process variance
        import oracle_bench

        oracle = oracle_bench.run(SF_DIR, names=names)
        if args.oracle_out:
            with open(args.oracle_out, "w", encoding="utf-8") as f:
                json.dump(oracle, f, indent=1, sort_keys=True)
                f.write("\n")
    if args.assert_budget:
        ratio = (total / oracle["value"]) if oracle["value"] > 0 else 0.0
        print(
            json.dumps(
                {
                    "budget_oracle_value": oracle["value"],
                    "budget_ratio": round(ratio, 3),
                    "budget_ratio_max": args.budget_ratio,
                }
            ),
            file=sys.stderr,
        )
        if oracle["value"] > 0 and ratio > args.budget_ratio:
            budget_failures.append(
                f"warm catalog {total}s is {ratio:.2f}x the paired oracle "
                f"{oracle['value']}s (budget {args.budget_ratio}x)"
            )
        if os.path.exists(args.budgets):
            with open(args.budgets, encoding="utf-8") as f:
                budgets = json.load(f)
            for name, limit in sorted(budgets.items()):
                if args.only and name not in names:
                    continue
                got = times.get(name)
                if got is None:
                    budget_failures.append(f"{name}: budgeted but not in catalog")
                elif got < 0:
                    budget_failures.append(f"{name}: errored")
                elif got > limit:
                    budget_failures.append(
                        f"{name}: warm {got}s exceeds budget {limit}s"
                    )
        for msg in budget_failures:
            print(f"BUDGET FAIL: {msg}", file=sys.stderr)
        sys.stderr.flush()
    if args.out:
        full = {
            **out,
            "cold_value": cold_total,
            "queries_cold": cold,
            "queries_spread": spread,
            # session-cache residency after each query of the first warm
            # sweep — the growth curve that explains (or acquits) warm
            # drift as the catalog's cache population accumulates
            "cache_bytes_after": primary["cache_bytes"],
            # per pass, per query: where the time went (see measure())
            "layers": primary["layers"],
        }
        if secondary is not None:
            full["secondary"] = {**secondary, "queries": sec_times}
        if args.assert_budget:
            full["budget_failures"] = budget_failures
        with open(args.out, "w", encoding="utf-8") as f:
            json.dump(full, f, indent=1, sort_keys=True)
            f.write("\n")
    # The driver records only the LAST ~2000 bytes of stdout; a 167-query
    # dict makes the summary line ~5 KB, so the driver's artifact carried
    # a front-truncated, unparseable line (r12 verdict item 8). Keep the
    # final line truncate-safe: full per-query detail always lives in the
    # --out file (BENCH_FULL.json); the printed line carries the headline
    # numbers plus as many of the SLOWEST queries as fit the window.
    line = json.dumps(out)
    if len(line) > 1800:
        slowest = dict(
            sorted(times.items(), key=lambda kv: -kv[1])
        )
        compact = {**out, "n_queries": len(times), "queries_agg": "slowest-first"}
        while True:
            compact["queries"] = dict(list(slowest.items()))
            line = json.dumps(compact)
            if len(line) <= 1800 or len(slowest) <= 1:
                break
            slowest = dict(list(slowest.items())[: max(1, len(slowest) * 3 // 4)])
    print(line)
    if budget_failures:
        raise SystemExit(2)


if __name__ == "__main__":
    main()
