"""HTTP HEAD availability probing — S11 (single), S12 (batch), S13 (range).

Parity: reference probing/s3_vision.py:37-132 (URL pattern, 200/404/other
status policy, RFC-2822 Last-Modified parse, percent-encoded symbols) and
probing/batch_prober.py:65-201 (ThreadPool fan-out, collect-errors-then-
raise, per-day range loop with checkpoint callback).

Design notes:
- The HTTP transport is an injectable callable ``head(url, timeout) ->
  (status, headers)`` so unit tests run without a network and production
  can plug a pooled urllib3 client.
- Probing is driver-side by design: one probe wave is bounded by the symbol
  count (~10³ requests) — far below the crossover where ``mapInPandas``
  executor fan-out pays for itself. The executor path exists for backfills
  (symbols × years of dates): ``probe_matrix_distributed``.
- Error policy: a probe wave collects per-symbol failures and raises ONE
  error listing them (strict, no retry — reference ADR-0003 cited at
  batch_prober.py:121-132). 404 is data ("not available"), not an error.
"""

from __future__ import annotations

import datetime as dt
import urllib.parse
from collections.abc import Callable, Iterable, Sequence
from concurrent.futures import ThreadPoolExecutor, as_completed
from email.utils import parsedate_to_datetime

from pyspark.sql import DataFrame, SparkSession

from ..schema import PROBE_RESULT

#: (url, timeout_sec) -> (status_code, headers_dict)
HeadFn = Callable[[str, float], tuple[int, dict]]

BASE_URL = "https://data.binance.vision/data/futures/um/daily/klines"


def kline_url(symbol: str, date: dt.date, granularity: str = "1m") -> str:
    """Binance Vision daily kline ZIP URL (s3_vision.py:66-72); non-ASCII
    symbols are fully percent-encoded."""
    enc = urllib.parse.quote(symbol, safe="")
    return f"{BASE_URL}/{enc}/{granularity}/{enc}-{granularity}-{date.isoformat()}.zip"


def _default_head(url: str, timeout: float) -> tuple[int, dict]:
    import urllib.request

    req = urllib.request.Request(url, method="HEAD")
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return resp.status, dict(resp.headers)
    except urllib.error.HTTPError as e:  # 404 etc. arrive as exceptions
        return e.code, dict(e.headers or {})


def check_symbol_availability(
    symbol: str,
    date: dt.date,
    head: HeadFn | None = None,
    timeout: float = 10.0,
    now: Callable[[], dt.datetime] | None = None,
) -> dict:
    """S11 — probe one (symbol, date); returns a PROBE_RESULT-shaped dict.

    200 → available with Content-Length/Last-Modified; 404 → unavailable;
    anything else raises (strict policy, s3_vision.py:118-121).
    """
    head = head or _default_head
    now = now or (lambda: dt.datetime.now(dt.timezone.utc).replace(tzinfo=None))
    url = kline_url(symbol, date)
    status, headers = head(url, timeout)
    ts = now()
    if status == 200:
        lm = None
        lm_str = headers.get("Last-Modified")
        if lm_str:
            try:
                lm = parsedate_to_datetime(lm_str).replace(tzinfo=None)
            except (TypeError, ValueError):
                lm = None
        return {
            "date": date,
            "symbol": symbol,
            "available": True,
            "file_size_bytes": int(headers.get("Content-Length", 0)),
            "last_modified": lm,
            "url": url,
            "status_code": 200,
            "probe_timestamp": ts,
        }
    if status == 404:
        return {
            "date": date,
            "symbol": symbol,
            "available": False,
            "file_size_bytes": None,
            "last_modified": None,
            "url": url,
            "status_code": 404,
            "probe_timestamp": ts,
        }
    raise RuntimeError(f"S3 probe failed for {symbol} on {date}: HTTP {status}")


class BatchProber:
    """S12 — ThreadPool fan-out over symbols for one date.

    max_workers default mirrors the reference's measured optimum
    (batch_prober.py:33-47: 150 workers, 3.94× over 10).
    """

    def __init__(self, max_workers: int = 150, head: HeadFn | None = None):
        self.max_workers = max_workers
        self.head = head

    def probe_all_symbols(
        self, date: dt.date, symbols: Sequence[str]
    ) -> list[dict]:
        results: list[dict] = []
        failed: list[tuple[str, str]] = []
        with ThreadPoolExecutor(max_workers=self.max_workers) as pool:
            futures = {
                pool.submit(
                    check_symbol_availability, sym, date, self.head
                ): sym
                for sym in symbols
            }
            for fut in as_completed(futures):
                sym = futures[fut]
                try:
                    results.append(fut.result())
                except Exception as e:  # noqa: BLE001 — collected, raised below
                    failed.append((sym, str(e)))
        if failed:
            listing = "\n".join(f"  - {s}: {err}" for s, err in failed)
            raise RuntimeError(
                f"Batch probe failed for {len(failed)}/{len(symbols)} symbols"
                f" on {date}:\n{listing}"
            )
        return results

    def probe_date_range(
        self,
        start: dt.date,
        end: dt.date,
        symbols: Sequence[str],
        checkpoint: Callable[[dt.date, list[dict]], None] | None = None,
    ) -> list[dict]:
        """S13 — sequential per-day waves with an optional checkpoint
        callback after each day (batch_prober.py:141-201) so a long
        backfill commits progress incrementally."""
        out: list[dict] = []
        d = start
        while d <= end:
            day = self.probe_all_symbols(d, symbols)
            if checkpoint is not None:
                checkpoint(d, day)
            out.extend(day)
            d += dt.timedelta(days=1)
        return out


def results_to_df(spark: SparkSession, records: Iterable[dict]) -> DataFrame:
    """Probe results → DataFrame in the 8-column PROBE_RESULT schema,
    ready for writer.upsert into the fact table.

    The records travel as one Arrow table, so the frame plans as a
    ``LocalTableScan``: every later scan of it (touched dates, the merge)
    reads JVM-local rows. A ``createDataFrame(list_of_tuples)`` frame is
    an RDD scan instead, and each of its scans re-pickles the rows through
    Python workers. Naive timestamps are read as UTC, the probe's clock.
    One partition: a wave is bounded by symbols × lookback days (~10⁴
    rows), one task's worth; the local scan would otherwise split it into
    one task per core in every stage that reads it."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(
        list(records), schema=to_arrow_schema(PROBE_RESULT)
    )
    return spark.createDataFrame(table).coalesce(1)


def probe_matrix_distributed(
    spark: SparkSession,
    dates: Sequence[dt.date],
    symbols: Sequence[str],
    head: HeadFn | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Executor-side probe of the symbols × dates matrix (the historical
    backfill shape, where requests number in the millions).

    Spark-first: the (symbol, date) work-list is a DataFrame, probing runs
    in ``mapInPandas`` batches so each executor keeps its own HTTP
    connection pool, and the result lands directly in PROBE_RESULT shape —
    bytes and records never pass through the driver.
    """
    import pandas as pd

    work = spark.createDataFrame(
        [(s, d) for s in symbols for d in dates], "symbol string, date date"
    )
    if partitions:
        work = work.repartition(partitions)

    def probe_batches(batches):
        for pdf in batches:
            recs = [
                check_symbol_availability(sym, d, head)
                for sym, d in zip(pdf["symbol"], pdf["date"])
            ]
            yield pd.DataFrame.from_records(recs)[
                [f.name for f in PROBE_RESULT.fields]
            ]

    return work.mapInPandas(probe_batches, PROBE_RESULT)
