"""Ingestion layer tests — S11-S18, all transports mocked (no network).

Mirrors the reference's mocked-HTTP fixture style (tests/conftest.py:125-189,
tests/test_probing/) plus an end-to-end: probe → DataFrame → upsert →
snapshot query on a seeded fixture.
"""

from __future__ import annotations

import datetime as dt
import io
import json
import zipfile

import pytest

from binance_futures_availability_spark.ingest import (
    aws_lister,
    discovery,
    probe,
    rest,
)
from binance_futures_availability_spark.operators import backfill, snapshots
from binance_futures_availability_spark.sources import writer

D = dt.date
NOW = lambda: dt.datetime(2024, 1, 16, 3, 0, 0)  # noqa: E731


def head_200(url, timeout):
    return 200, {
        "Content-Length": "8421945",
        "Last-Modified": "Mon, 15 Jan 2024 02:03:04 GMT",
    }


def head_404(url, timeout):
    return 404, {}


def head_503(url, timeout):
    return 503, {}


# ------------------------------------------------------------------- S11


def test_probe_url_pattern():
    url = probe.kline_url("BTCUSDT", D(2024, 1, 15))
    assert url == (
        "https://data.binance.vision/data/futures/um/daily/klines/"
        "BTCUSDT/1m/BTCUSDT-1m-2024-01-15.zip"
    )


def test_probe_unicode_symbol_percent_encoded():
    url = probe.kline_url("币安人生USDT", D(2024, 1, 15))
    assert "币安人生" not in url
    assert "%E5%B8%81" in url  # first char percent-encoded


def test_probe_200(spark):
    r = probe.check_symbol_availability(
        "BTCUSDT", D(2024, 1, 15), head=head_200, now=NOW
    )
    assert r["available"] is True
    assert r["file_size_bytes"] == 8421945
    assert r["last_modified"] == dt.datetime(2024, 1, 15, 2, 3, 4)
    assert r["status_code"] == 200
    assert r["probe_timestamp"] == NOW()


def test_probe_404_is_data_not_error():
    r = probe.check_symbol_availability(
        "GONEUSDT", D(2024, 1, 15), head=head_404, now=NOW
    )
    assert r["available"] is False
    assert r["file_size_bytes"] is None
    assert r["status_code"] == 404


def test_probe_other_status_raises():
    with pytest.raises(RuntimeError, match="HTTP 503"):
        probe.check_symbol_availability("BTCUSDT", D(2024, 1, 15), head=head_503)


# --------------------------------------------------------------- S12/S13


def test_batch_probe_collects_then_raises():
    def flaky(url, timeout):
        if "BAD" in url:
            return 503, {}
        return 200, {"Content-Length": "1"}

    prober = probe.BatchProber(max_workers=4, head=flaky)
    with pytest.raises(RuntimeError) as e:
        prober.probe_all_symbols(D(2024, 1, 15), ["AUSDT", "BADUSDT", "CUSDT"])
    assert "1/3" in str(e.value)
    assert "BADUSDT" in str(e.value)


def test_date_range_probe_checkpoints():
    prober = probe.BatchProber(max_workers=2, head=head_200)
    seen = []
    out = prober.probe_date_range(
        D(2024, 1, 1),
        D(2024, 1, 3),
        ["AUSDT", "BUSDT"],
        checkpoint=lambda d, recs: seen.append((d, len(recs))),
    )
    assert len(out) == 6
    assert seen == [(D(2024, 1, 1), 2), (D(2024, 1, 2), 2), (D(2024, 1, 3), 2)]


def test_probe_matrix_distributed(spark):
    # local closure (not module-level): cloudpickle ships it by value, since
    # the tests package is not importable on executors
    def local_head(url, timeout):
        return 200, {"Content-Length": "8421945"}

    df = probe.probe_matrix_distributed(
        spark, [D(2024, 1, 1), D(2024, 1, 2)], ["AUSDT", "BUSDT"], head=local_head
    )
    rows = df.collect()
    assert len(rows) == 4
    assert all(r["available"] for r in rows)


def test_results_to_df_matches_tuple_path(spark, monkeypatch):
    """The Arrow-built probe frame equals the ``createDataFrame(tuples)``
    frame it replaces — schema (nullability included) and rows, with NULL
    size/last-modified and naive UTC timestamps — and plans as a local
    table scan, not an RDD scan through Python workers."""
    import time

    from binance_futures_availability_spark.schema import PROBE_RESULT

    # the tuple path reads naive datetimes in the process's local zone
    monkeypatch.setenv("TZ", "UTC")
    time.tzset()
    try:
        recs = [
            probe.check_symbol_availability(
                "BTCUSDT", D(2024, 1, 15), head=head_200, now=NOW
            ),
            probe.check_symbol_availability(
                "GONEUSDT", D(2024, 1, 15), head=head_404, now=NOW
            ),
            dict(
                probe.check_symbol_availability(
                    "ETHUSDT", D(2024, 1, 14), head=head_200, now=NOW
                ),
                probe_timestamp=dt.datetime(2024, 1, 16, 3, 0, 0, 123456),
            ),
        ]
        got = probe.results_to_df(spark, recs)
        old = spark.createDataFrame(
            [tuple(r[f.name] for f in PROBE_RESULT.fields) for r in recs],
            PROBE_RESULT,
        )
        assert got.schema == old.schema == PROBE_RESULT
        assert sorted(got.collect()) == sorted(old.collect())
        gone = [r for r in got.collect() if r["symbol"] == "GONEUSDT"][0]
        assert gone["file_size_bytes"] is None and gone["last_modified"] is None
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    finally:
        monkeypatch.undo()
        time.tzset()
    assert probe.results_to_df(spark, []).schema == PROBE_RESULT


def test_probe_to_upsert_to_query_end_to_end(spark):
    """fetch → DataFrame → writer.upsert → snapshot query."""

    def head(url, timeout):
        return (404, {}) if "DEADUSDT" in url else head_200(url, timeout)

    prober = probe.BatchProber(max_workers=4, head=head)
    recs = prober.probe_all_symbols(
        D(2024, 1, 15), ["BTCUSDT", "ETHUSDT", "DEADUSDT"]
    )
    incoming = probe.results_to_df(spark, recs)
    # seed an existing table where BTCUSDT was previously a 404
    existing = probe.results_to_df(
        spark,
        [
            probe.check_symbol_availability(
                "BTCUSDT", D(2024, 1, 15), head=head_404, now=NOW
            )
        ],
    )
    table = writer.upsert(
        existing, incoming, ["date", "symbol"], "probe_timestamp"
    )
    got = snapshots.available_symbols_on_date(table, D(2024, 1, 15)).collect()
    assert [r["symbol"] for r in got] == ["BTCUSDT", "ETHUSDT"]  # re-probe won


# ------------------------------------------------------------------- S14


LISTING_PAGE_1 = b"""<?xml version="1.0" encoding="UTF-8"?>
<ListBucketResult xmlns="http://s3.amazonaws.com/doc/2006-03-01/">
  <IsTruncated>true</IsTruncated>
  <NextMarker>data/futures/um/daily/klines/ETHUSDT/</NextMarker>
  <CommonPrefixes><Prefix>data/futures/um/daily/klines/BTCUSDT/</Prefix></CommonPrefixes>
  <CommonPrefixes><Prefix>data/futures/um/daily/klines/BTCUSDT_240329/</Prefix></CommonPrefixes>
</ListBucketResult>"""

LISTING_PAGE_2 = b"""<?xml version="1.0" encoding="UTF-8"?>
<ListBucketResult xmlns="http://s3.amazonaws.com/doc/2006-03-01/">
  <IsTruncated>false</IsTruncated>
  <CommonPrefixes><Prefix>data/futures/um/daily/klines/ETHUSDT/</Prefix></CommonPrefixes>
</ListBucketResult>"""


def test_discovery_pagination_and_classification(spark):
    calls = []

    def fetch(url):
        calls.append(url)
        return LISTING_PAGE_2 if "marker=" in url else LISTING_PAGE_1

    out = discovery.discover_classified(spark, fetch)
    assert out == {
        "perpetual": ["BTCUSDT", "ETHUSDT"],
        "delivery": ["BTCUSDT_240329"],
    }
    assert len(calls) == 2
    assert "marker=data/futures/um/daily/klines/ETHUSDT/" in calls[1]


def test_discovery_malformed_xml_raises():
    with pytest.raises(RuntimeError, match="S3 listing"):
        discovery.discover_symbols(lambda url: b"<notxml")


def test_symbols_file_round_trip(spark, tmp_path):
    payload = discovery.symbols_file_payload(
        {"perpetual": ["BTCUSDT"], "delivery": ["BTCUSDT_240329"]},
        dt.datetime(2024, 1, 16),
    )
    p = tmp_path / "symbols.json"
    p.write_text(json.dumps(payload))
    assert rest.load_symbols(p, "perpetual") == ["BTCUSDT"]
    assert rest.load_symbols(p, "all") == ["BTCUSDT", "BTCUSDT_240329"]


# ------------------------------------------------------------------- S15


AWS_LS = """\
2022-03-21 01:58:10      56711 BTCUSDT-1m-2019-12-31.zip
2022-03-21 01:58:10         92 BTCUSDT-1m-2019-12-31.zip.CHECKSUM
2022-03-22 02:01:11      60000 BTCUSDT-1m-2020-01-01.zip
garbage line
"""


def test_listing_to_df_parses_and_skips(spark):
    df = aws_lister.listing_to_df(spark, {"BTCUSDT": AWS_LS})
    rows = sorted(df.collect(), key=lambda r: r["date"])
    assert len(rows) == 2  # CHECKSUM + garbage skipped
    assert rows[0]["date"] == D(2019, 12, 31)
    assert rows[0]["file_size_bytes"] == 56711
    assert rows[0]["last_modified"] == dt.datetime(2022, 3, 21, 1, 58, 10)
    assert rows[0]["url"].endswith("/BTCUSDT/1m/BTCUSDT-1m-2019-12-31.zip")


def test_list_symbol_files_error_policy():
    def run_ok(argv, timeout):
        return 0, AWS_LS.encode(), b""

    def run_absent(argv, timeout):
        return 1, b"", b""

    def run_err(argv, timeout):
        return 255, b"", b"AccessDenied"

    assert "BTCUSDT-1m" in aws_lister.list_symbol_files_raw("BTCUSDT", run_ok)
    assert aws_lister.list_symbol_files_raw("GONEUSDT", run_absent) == ""
    with pytest.raises(RuntimeError, match="AccessDenied"):
        aws_lister.list_symbol_files_raw("XUSDT", run_err)


# ------------------------------------------------------------------- S16


KLINE_ROW = (
    "1705276800000,42000.1,43000.2,41000.3,42500.4,1234.5,"
    "1705363199999,52345678.9,98765,600.25,25345678.5,0"
)


def test_parse_1d_kline_csv_with_and_without_header():
    expected = {
        "quote_volume_usdt": 52345678.9,
        "trade_count": 98765,
        "volume_base": 1234.5,
        "taker_buy_volume_base": 600.25,
        "taker_buy_quote_volume_usdt": 25345678.5,
        "open_price": 42000.1,
        "high_price": 43000.2,
        "low_price": 41000.3,
        "close_price": 42500.4,
    }
    assert aws_lister.parse_1d_kline_csv(KLINE_ROW) == expected
    header = ",".join(aws_lister.KLINE_FIELDS)
    assert aws_lister.parse_1d_kline_csv(header + "\n" + KLINE_ROW) == expected


def test_parse_1d_kline_csv_rejects_bad_shapes():
    with pytest.raises(RuntimeError, match="12 fields"):
        aws_lister.parse_1d_kline_csv("1,2,3")
    with pytest.raises(RuntimeError, match="1-2 rows"):
        aws_lister.parse_1d_kline_csv(
            KLINE_ROW + "\n" + KLINE_ROW + "\n" + KLINE_ROW
        )


def _zip_bytes(name: str, content: str) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(name, content)
    return buf.getvalue()


def test_download_1d_kline_zip_roundtrip():
    payload = _zip_bytes("BTCUSDT-1d-2024-01-15.csv", KLINE_ROW)

    def run(argv, timeout):
        return 0, payload, b""

    m = aws_lister.download_1d_kline("BTCUSDT", D(2024, 1, 15), run)
    assert m["trade_count"] == 98765

    def run_absent(argv, timeout):
        return 1, b"", b""

    assert aws_lister.download_1d_kline("BTCUSDT", D(2024, 1, 15), run_absent) is None


def test_kline_metrics_flow_into_enrich(spark):
    from binance_futures_availability_spark.schema import DAILY_AVAILABILITY
    from conftest import _row

    da = spark.createDataFrame(
        [_row(D(2024, 1, 15), "BTCUSDT", True, None)], DAILY_AVAILABILITY
    )
    metrics = aws_lister.klines_to_metrics_df(
        spark,
        [(D(2024, 1, 15), "BTCUSDT", aws_lister.parse_1d_kline_csv(KLINE_ROW))],
    )
    out = backfill.enrich_volume(da, metrics).collect()[0]
    assert out["quote_volume_usdt"] == 52345678.9
    assert out["open_price"] == 42000.1


# ------------------------------------------------------------------- S17


EXCHANGE_INFO = {
    "symbols": [
        {"symbol": "BTCUSDT", "status": "TRADING", "contractType": "PERPETUAL"},
        {"symbol": "ETHUSDT", "status": "BREAK", "contractType": "PERPETUAL"},
        {"symbol": "BTCUSD_PERP", "status": "TRADING", "contractType": "PERPETUAL"},
        {"symbol": "BTCUSDT_240329", "status": "TRADING", "contractType": "CURRENT_QUARTER"},
        {"symbol": "XRPUSDT", "status": "TRADING", "contractType": "PERPETUAL"},
    ]
}


def test_exchange_info_filter_host_and_df(spark):
    assert rest.current_usdt_perpetuals(EXCHANGE_INFO) == {"BTCUSDT", "XRPUSDT"}
    df = rest.exchange_info_df(spark, EXCHANGE_INFO)
    assert {r["symbol"] for r in df.collect()} == {"BTCUSDT", "XRPUSDT"}


def test_fetch_exchange_info_mocked():
    info = rest.fetch_exchange_info(
        lambda url: json.dumps(EXCHANGE_INFO).encode()
    )
    assert rest.current_usdt_perpetuals(info) == {"BTCUSDT", "XRPUSDT"}
    with pytest.raises(RuntimeError, match="exchangeInfo"):
        rest.fetch_exchange_info(lambda url: (_ for _ in ()).throw(OSError("down")))
