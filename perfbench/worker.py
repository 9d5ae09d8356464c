"""One benchmark process: set up a workload, time its ops, check the outputs.

``run.py`` starts this in a fresh process with a fresh cache root and
reads the JSON it writes to ``--out``. Not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import hashlib
import json
import os
import random
import statistics
import sys
import threading
import time

import probes

PACKAGES = ("binance_futures_availability_spark", "__spark_entry__")

#: catalog_cold: queries per second of ``--seconds`` (a query's first run in
#: a fresh process takes 0.2-5 s at sf 0.01 on 4 cores, 1-2 s median)
CATALOG_QUERIES_PER_S = 1.0
#: catalog_cold: executed queries re-checked against their oracle_sql()
CATALOG_CHECKS = 2
#: cron_ticks: timed ticks per second of ``--seconds``, at least three (a
#: tick takes 3-7 s at sf 0.01 on 4 cores; more ticks would not fit the
#: benchmark's time budget on a slow host)
CRON_TICKS_PER_S = 0.3
#: cron_ticks: untimed ticks in set-up. The first creates the rankings
#: archive; ticks keep getting faster for the first few (after one, the
#: first timed tick took 7-9.5 s and the next ones 6-7 s)
CRON_WARMUP_TICKS = 2
CRON_SEED_FROM = "2001-08-01"
CRON_FIRST_TODAY = dt.date(2001, 10, 1)
CRON_LOOKBACK = 7
CRON_GENERATED_AT = "2001-10-01T00:00:00"


def systematic_sample(names: list[str], n: int) -> list[str]:
    """n names spread evenly over the list, each from the middle of its
    stride (deterministic; depends only on the list and n)."""
    n = max(1, min(n, len(names)))
    return [names[int((i + 0.5) * len(names) / n)] for i in range(n)]


def md5_head(seed: int, counter):
    """Deterministic synthetic S3 transport: availability and size are a
    pure md5 function of (seed, symbol, date) parsed back out of the URL."""

    def status(symbol: str, day: str) -> tuple[int, dict]:
        h = int(hashlib.md5(f"{seed}:{symbol}:{day}".encode()).hexdigest()[:15], 16)
        if h % 10 < 7:
            return 200, {"Content-Length": str(h % 100_000)}
        return 404, {}

    def head(url: str, timeout: float) -> tuple[int, dict]:
        counter()
        name = url.rsplit("/", 1)[-1]  # SYM-1m-YYYY-MM-DD.zip
        symbol, _, rest = name.partition("-1m-")
        return status(symbol, rest[:-4])

    head.status = status
    return head


# ------------------------------------------------------------- workloads


class CatalogCold:
    """Every sampled ``queries()`` entry once, in registry order, through
    the noop sink, in a fresh process."""

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self) -> None:
        from binance_futures_availability_spark.operators import availability

        ctx = self.ctx
        availability.availability_fact(ctx.spark, ctx.sf_dir)
        ctx.stage("materialize")
        n = round(ctx.args.seconds * CATALOG_QUERIES_PER_S)
        self.qs = ctx.entry.queries()
        self.names = systematic_sample(list(self.qs), n)

    def ops(self):
        for name in self.names:
            yield name, lambda name=name: self._run(name)

    def _run(self, name: str) -> None:
        ctx = self.ctx
        with ctx.span("operators.build"):
            df = self.qs[name](ctx.spark, ctx.sf_dir)
        if ctx.tracer:
            with ctx.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        with ctx.span("spark.execute"):
            df.write.format("noop").mode("overwrite").save()

    def stored_bytes(self) -> int:
        return probes.dir_bytes(self.ctx.cache_root) + probes.dir_bytes(
            self.ctx.ivf_root
        )

    def check(self, done: list[str]) -> list[str]:
        """Re-run a seeded sample of the executed queries and compare them,
        with the oracle gate's exact compare (``tools/check.py``), to DuckDB
        running the catalog's own oracle_sql() on the same input files."""
        import check as gate

        oracles = self.ctx.entry.oracle_sql()
        pool = [n for n in done if n in oracles]
        rng = random.Random(self.ctx.args.seed)
        picked = rng.sample(pool, min(CATALOG_CHECKS, len(pool)))
        problems = []
        con = duckdb_views(self.ctx.sf_dir)
        try:
            for name in picked:
                got = self.qs[name](self.ctx.spark, self.ctx.sf_dir).toPandas()
                want = con.execute(oracles[name]).fetchdf()
                problems += [f"{name}: {p}" for p in gate.compare(name, got, want)]
        finally:
            con.close()
        self.ctx.env["checked_queries"] = picked
        return problems


class CronTicks:
    """Consecutive ``update.run_daily_update`` ticks, ``today`` advancing one
    day per tick, over a fresh date-partitioned fact table."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.requests = 0
        self._lock = threading.Lock()
        self.tick = 0
        self.summaries: list[tuple[dt.date, dict]] = []

    def _count(self) -> None:
        with self._lock:  # the prober calls head from its thread pool
            self.requests += 1

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from binance_futures_availability_spark.operators import availability
        from binance_futures_availability_spark.sources import writer

        ctx = self.ctx
        root = os.path.join(ctx.work, "cron")
        self.fact = os.path.join(root, "fact")
        self.rankings = os.path.join(root, "rankings")
        self.release = os.path.join(root, "release", "availability.duckdb.gz")
        da = availability.availability_fact(ctx.spark, ctx.sf_dir)
        ctx.stage("materialize")
        writer.write_partitioned(
            da.filter(F.col("date") >= F.lit(CRON_SEED_FROM)), self.fact
        )
        self.symbols = sorted(
            r["symbol"] for r in da.select("symbol").distinct().collect()
        )
        ctx.env["symbols"] = len(self.symbols)
        ctx.stage("seed")
        self.head = md5_head(ctx.args.seed, self._count)
        self.n_ticks = max(3, round(ctx.args.seconds * CRON_TICKS_PER_S))
        for _ in range(CRON_WARMUP_TICKS):
            self._tick()
        ctx.stage("warmup_ticks")

    def _tick(self) -> None:
        from binance_futures_availability_spark import update

        today = CRON_FIRST_TODAY + dt.timedelta(days=self.tick)
        self.tick += 1
        start, end = update.lookback_window(today, CRON_LOOKBACK)
        # the partitions this tick's upsert should rewrite (traced runs)
        self.ctx.upsert_window = {
            f"date={start + dt.timedelta(days=i)}"
            for i in range((end - start).days + 1)
        }
        summary = update.run_daily_update(
            self.ctx.spark,
            self.fact,
            self.symbols,
            lookback_days=CRON_LOOKBACK,
            today=today,
            head=self.head,
            rankings_path=self.rankings,
            generated_at=CRON_GENERATED_AT,
            max_workers=len(os.sched_getaffinity(0)),
            release_path=self.release,
        )
        self.summaries.append((today, summary))

    def ops(self):
        for i in range(self.n_ticks):
            yield f"tick{i}", self._tick

    @property
    def release_bytes(self) -> int:
        return probes.dir_bytes(os.path.dirname(self.release))

    def stored_bytes(self) -> int:
        return (
            probes.dir_bytes(self.fact)
            + probes.dir_bytes(self.rankings)
            + self.release_bytes
        )

    def check(self, done: list[str]) -> list[str]:
        import pyarrow.parquet as pq

        from binance_futures_availability_spark import update
        from binance_futures_availability_spark.schema import DAILY_AVAILABILITY

        problems = []
        for today, summary in self.summaries:
            start, end = update.lookback_window(today, CRON_LOOKBACK)
            days = [
                (start + dt.timedelta(days=i)).isoformat()
                for i in range((end - start).days + 1)
            ]
            want = sum(
                self.head.status(s, d)[0] == 200
                for s in self.symbols
                for d in days
            )
            got = (summary["records"], summary["available"])
            if got != (len(self.symbols) * len(days), want):
                problems.append(f"tick {today}: summary {got}, want {want}")
        # every committed file, not just the footer a read picks, must carry
        # the full schema (``date`` lives in the partition path)
        want_cols = sorted(DAILY_AVAILABILITY.fieldNames())
        for rel in probes.file_index(self.fact):
            if rel.endswith(".parquet"):
                path = os.path.join(self.fact, rel)
                cols = sorted(pq.read_schema(path).names + ["date"])
                if cols != want_cols:
                    problems.append(f"{rel} has {len(cols)} of 17 columns")
        return problems


WORKLOADS = {"catalog_cold": CatalogCold, "cron_ticks": CronTicks}


# ------------------------------------------------------------ the process


class Context:
    def __init__(self, args):
        self.args = args
        self.work = args.work
        self.sf_dir = args.inputs
        self.cache_root = os.environ["SPARK_GRAFT_CACHE"]
        self.ivf_root = os.path.join(self.work, "ivf")
        self.tracer = probes.Tracer() if args.trace else None
        self.upsert_window: set[str] = set()
        self.env: dict = {"setup_stages": {}}

    def stage(self, name: str) -> None:
        """Record seconds since process start at the end of a set-up stage."""
        self.env["setup_stages"][name] = round(time.time() - self.args.spawned, 3)

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)


def duckdb_views(sf_dir: str):
    """A small DuckDB connection with one view per input table."""
    import duckdb

    from binance_futures_availability_spark.catalog import (
        TESTDATA_TABLES,
        table_path,
    )

    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=2")
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")
    return con


def redirect_ivf_index(entry, root: str) -> None:
    """The engine keeps its on-disk IVF index under a hard-coded
    ``/tmp/spark_graft_ivf_<fp>``, which outlives the process and makes a
    second run warm. Re-point the path resolver at this run's own root
    (same fingerprint, same build call, same existence check)."""
    from binance_futures_availability_spark.operators import similarity
    from binance_futures_availability_spark.sources import writer

    def ivf_index_path(spark, sf_dir):
        path = entry._IVF_INDEX_PATHS.get(sf_dir)
        if path is None:
            emb = entry._emb(spark, sf_dir)
            fp = hashlib.md5("|".join(sorted(emb.inputFiles())).encode()).hexdigest()
            path = os.path.join(root, f"spark_graft_ivf_{fp[:12]}")
            if not writer.table_exists(spark, path + "/vectors"):
                similarity.write_ivf_index(emb, path)
            entry._IVF_INDEX_PATHS[sf_dir] = path
        return path

    entry._ivf_index_path = ivf_index_path


def hermetic_paths(ctx) -> dict:
    """Every fact table and IVF index the engine resolved in this process
    must lie in this run's fresh roots; any other path means a run could
    read what an earlier one left (the engine's defaults are a fixed
    ``.cache`` directory and ``/tmp/spark_graft_ivf_*``)."""
    from binance_futures_availability_spark.operators import availability

    def outside(paths, root):
        root = os.path.join(os.path.realpath(root), "")
        return sorted(p for p in paths if not os.path.realpath(p).startswith(root))

    return {
        "fact_outside_run": outside(availability._FACT_HANDLES, ctx.cache_root),
        "ivf_outside_run": outside(ctx.entry._IVF_INDEX_PATHS.values(), ctx.ivf_root),
        "no_fact_resolved": not availability._FACT_HANDLES,
    }


def install_spans(ctx) -> None:
    """Spans around the engine's public layer entry points."""
    from binance_futures_availability_spark import catalog, index_cache, update
    from binance_futures_availability_spark.ingest import probe
    from binance_futures_availability_spark.operators import availability
    from binance_futures_availability_spark.sources import release, writer

    tr = ctx.tracer
    probes.traced(tr, "availability.materialize", availability.materialize_fact, PACKAGES)
    probes.traced(tr, "catalog.load", catalog.load_table, PACKAGES)
    probes.traced(tr, "catalog.load", catalog.load_table_hot, PACKAGES)
    probes.traced(tr, "validation", update.validate_report, PACKAGES)
    probes.traced(tr, "release", release.release_database, PACKAGES)
    orig_probe = probe.BatchProber.probe_date_range

    def probe_date_range(self, *a, **kw):
        with tr.span("probe"):
            return orig_probe(self, *a, **kw)

    probe.BatchProber.probe_date_range = probe_date_range

    orig_cached = index_cache.cached_index

    def cached_index(key, factory):
        if key is None or key in index_cache._HANDLES:
            tr.count("index_cache.hits", key is not None)
            return orig_cached(key, factory)
        # the blocks fill later, in the first job that reads the handle
        with tr.span("index_cache.build"):
            handle = orig_cached(key, factory)
        tr.count("index_cache.builds")
        return handle

    probes.rebind(orig_cached, cached_index, PACKAGES)

    orig_upsert = writer.upsert_partitioned

    def upsert_partitioned(path, incoming, *a, **kw):
        # the directory scans are the harness's, not the writer's: their
        # own span keeps them out of the tick's self time (rankings.s)
        with tr.span("trace.instrument"):
            before = probes.file_index(path)
        with tr.span("writer.upsert"):
            orig_upsert(path, incoming, *a, **kw)
        with tr.span("trace.instrument"):
            after = probes.file_index(path)
        new = [f for f, meta in after.items() if before.get(f) != meta]
        tr.count("writer.files_written", len(new))
        tr.count("writer.bytes_written", sum(after[f][0] for f in new))
        parts = {f.split(os.sep, 1)[0] for f in new if os.sep in f}
        tr.count("writer.partitions_touched", len(parts))
        window = ctx.upsert_window
        tr.count(
            "writer.window_bytes",
            sum(m[0] for f, m in after.items() if f.split(os.sep, 1)[0] in window),
        )

    probes.rebind(orig_upsert, upsert_partitioned, PACKAGES)


def percentile(values: list[float], q: int) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spawned", type=float, required=True)
    ap.add_argument("--spawned-cpu", type=float, nargs=2, required=True)
    args = ap.parse_args()
    ctx = Context(args)

    import __spark_entry__ as entry
    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.session import get_session

    ctx.entry = entry
    redirect_ivf_index(entry, ctx.ivf_root)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
    }
    if ctx.tracer:
        install_spans(ctx)
        log_dir = os.path.join(ctx.work, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    ctx.stage("imports")
    with ctx.span("session.start"):
        spark = get_session("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    ctx.stage("session")
    counters = probes.SparkCounters(spark) if ctx.tracer else None
    wl = WORKLOADS[args.workload](ctx)
    wl.setup()
    setup_wall = time.time() - args.spawned
    setup_s = probes.unstolen(setup_wall, args.spawned_cpu, probes.host_cpu())

    # ------------------------------------------------------- timed phase
    cg0 = counters.codegen() if counters else None
    mark = (len(ctx.tracer.spans), dict(ctx.tracer.counts)) if ctx.tracer else None
    requests0 = getattr(wl, "requests", 0)
    cpu0, host0 = probes.tree_cpu(), probes.host_cpu()
    wall0 = time.perf_counter()
    epoch0 = time.time() * 1000
    walls, latencies, done, failed = [], [], [], []
    for label, fn in wl.ops():
        op_host0 = probes.host_cpu()
        t0 = time.perf_counter()
        try:
            if counters:
                with counters.op_group(), ctx.span("op"):
                    fn()
            else:
                fn()
            done.append(label)
        except Exception as e:  # noqa: BLE001 — counted, reported below
            failed.append(f"{label}: {type(e).__name__}: {str(e)[:300]}")
        walls.append(time.perf_counter() - t0)
        latencies.append(probes.unstolen(walls[-1], op_host0, probes.host_cpu()))
    total_wall = time.perf_counter() - wall0
    epoch1 = time.time() * 1000
    cpu1, host1 = probes.tree_cpu(), probes.host_cpu()
    total_s = probes.unstolen(total_wall, host0, host1)
    cg1 = counters.codegen() if counters else None
    ctx.env["probe_requests"] = getattr(wl, "requests", 0) - requests0
    cache_bytes = index_cache.storage_bytes(spark)
    stored = wl.stored_bytes()

    problems = list(failed)
    try:
        problems += wl.check(done)
    except Exception as e:  # noqa: BLE001 — a check that cannot run fails
        problems.append(f"check error: {type(e).__name__}: {e}")
    ctx.env["hermetic"] = hermetic_paths(ctx)

    result = {
        "ops": len(latencies),
        "failed_ops": len(failed),
        "problems": problems,
        "metrics": {
            "setup_s": setup_s,
            "total_s": total_s,
            "cpu_s": cpu1["total"] - cpu0["total"],
            "op_p50_s": statistics.median(latencies),
            "op_p90_s": percentile(latencies, 90),
            "cache_mb": cache_bytes / 1e6,
            "stored_mb": stored / 1e6,
        },
        "env": {
            **ctx.env,
            "steal_s": host1[1] - host0[1],
            "setup_wall_s": setup_wall,
            "total_wall_s": total_wall,
            "op_labels": done,
            "op_s": [round(x, 3) for x in latencies],
            "op_wall_s": [round(x, 3) for x in walls],
        },
    }
    if ctx.tracer:
        result["layers"] = layer_metrics(ctx, counters, mark, cg0, cg1, cpu0, cpu1)
        result["layers"]["storage.cache_bytes"] = cache_bytes
        result["layers"]["release.bytes"] = getattr(wl, "release_bytes", 0)
    spark.stop()
    if ctx.tracer:
        result["layers"].update(
            probes.event_log_task_metrics(log_dir, epoch0, epoch1)
        )
    with open(args.out, "w", encoding="utf-8") as f:
        json.dump(result, f)
    return 0


def layer_metrics(ctx, counters, mark, cg0, cg1, cpu0, cpu1) -> dict:
    """Per-layer figures of the timed phase (set-up spans only for the two
    set-up layers). Seconds are self times summed over the phase."""
    tr = ctx.tracer
    setup_s = tr.self_times()
    self_s = tr.self_times(since=mark[0])
    c = {k: v - mark[1].get(k, 0) for k, v in tr.counts.items()}
    ops = max(1, sum(1 for s in tr.spans[mark[0]:] if s[0] == "op"))
    builds = c.get("index_cache.builds", 0)
    hits = c.get("index_cache.hits", 0)
    out = {
        "session.start_s": setup_s.get("session.start", 0.0),
        "availability.materialize_s": setup_s.get("availability.materialize", 0.0),
        "operators.build_s": self_s.get("operators.build", 0.0),
        "index_cache.builds": builds,
        "index_cache.hits": hits,
        "index_cache.build_s": self_s.get("index_cache.build", 0.0),
        "index_cache.hit_ratio": hits / (hits + builds) if hits + builds else 0.0,
        "catalog.load_s": self_s.get("catalog.load", 0.0),
        "spark.plan_s": self_s.get("spark.plan", 0.0),
        **probes.codegen_delta(cg0, cg1),
        "spark.jobs": counters.jobs / ops,
        "spark.stages": counters.stages / ops,
        "spark.tasks": counters.tasks / ops,
        "python.worker_cpu_s": cpu1["python_workers"] - cpu0["python_workers"],
        "probe.s": self_s.get("probe", 0.0),
        "probe.requests": ctx.env.get("probe_requests", 0),
        "writer.upsert_s": self_s.get("writer.upsert", 0.0),
        "writer.files_written": c.get("writer.files_written", 0),
        "writer.bytes_written": c.get("writer.bytes_written", 0),
        "writer.partitions_touched": c.get("writer.partitions_touched", 0),
        "writer.write_amplification": c.get("writer.bytes_written", 0)
        / c["writer.window_bytes"]
        if c.get("writer.window_bytes")
        else 0.0,
        "validation.s": self_s.get("validation", 0.0),
        "release.s": self_s.get("release", 0.0),
        "rankings.s": self_s.get("op", 0.0) if ctx.args.workload == "cron_ticks" else 0.0,
        # work the traced run does and the untraced run does not: status
        # tracker polls, directory scans, and the forced physical plan
        # (the noop write plans its own copy again)
        "trace.overhead_s": counters.poll_s
        + self_s.get("trace.instrument", 0.0)
        + self_s.get("spark.plan", 0.0),
    }
    return out


if __name__ == "__main__":
    sys.exit(main())
