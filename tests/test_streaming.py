"""Structured Streaming pipeline tests — file source → dedup/agg → sinks.

availableNow triggers so each test drains the backlog and stops (bounded
runtime, no async flakiness).
"""

from __future__ import annotations

import ast
import datetime as dt
import glob
import pathlib

import pyarrow.parquet as pq
import pytest

from binance_futures_availability_spark.ingest import probe
from binance_futures_availability_spark.operators import snapshots
from binance_futures_availability_spark.schema import DAILY_AVAILABILITY
from binance_futures_availability_spark.streaming import (
    availability_transitions,
    dedup_probe_stream,
    probe_stream_source,
    start_upsert_sink,
    streaming_symbol_counts,
)

D = dt.date
TS = dt.datetime


def _recs(day, symbols, available=True, ts=None):
    ts = ts or TS(2024, 1, 16, 3, 0, 0)
    return [
        {
            "date": day,
            "symbol": s,
            "available": available,
            "file_size_bytes": 1024 if available else None,
            "last_modified": ts if available else None,
            "url": probe.kline_url(s, day),
            "status_code": 200 if available else 404,
            "probe_timestamp": ts,
        }
        for s in symbols
    ]


def _drop(spark, incoming, recs):
    probe.results_to_df(spark, recs).write.mode("append").parquet(str(incoming))


def test_stream_upsert_end_to_end(spark, tmp_path):
    incoming = tmp_path / "incoming"
    table = tmp_path / "fact"
    counts = tmp_path / "counts"
    ckpt = tmp_path / "ckpt"

    # wave 1: two symbols on day 1
    _drop(spark, incoming, _recs(D(2024, 1, 15), ["BTCUSDT", "ETHUSDT"]))
    stream = dedup_probe_stream(probe_stream_source(spark, str(incoming)))
    q = start_upsert_sink(stream, str(table), str(ckpt), str(counts)).start()
    q.awaitTermination(120)

    got = spark.read.parquet(str(table))
    assert got.count() == 2
    # the first batch creates the table full width: every committed file
    # holds the 17 fact columns (``date`` from its directory)
    want_cols = sorted(DAILY_AVAILABILITY.fieldNames())
    files = glob.glob(str(table / "date=*" / "*.parquet"))
    assert files
    assert all(
        sorted(pq.read_schema(f).names + ["date"]) == want_cols for f in files
    )

    # wave 2: re-probe flips ETHUSDT to 404 (later probe_timestamp wins)
    # and adds day 2 — only touched partitions rewritten, matview follows
    _drop(
        spark,
        incoming,
        _recs(
            D(2024, 1, 15), ["ETHUSDT"], available=False, ts=TS(2024, 1, 17)
        )
        + _recs(D(2024, 1, 16), ["BTCUSDT"], ts=TS(2024, 1, 17)),
    )
    q = start_upsert_sink(
        dedup_probe_stream(probe_stream_source(spark, str(incoming))),
        str(table),
        str(ckpt),
        str(counts),
    ).start()
    q.awaitTermination(120)

    table_df = spark.read.parquet(str(table))
    assert table_df.count() == 3
    snap = snapshots.available_symbols_on_date(table_df, D(2024, 1, 15)).collect()
    assert [r["symbol"] for r in snap] == ["BTCUSDT"]  # ETHUSDT now 404

    mv = {r["date"]: r for r in spark.read.parquet(str(counts)).collect()}
    assert mv[D(2024, 1, 15)]["total_symbols"] == 2
    assert mv[D(2024, 1, 15)]["available_count"] == 1
    assert mv[D(2024, 1, 16)]["available_count"] == 1


def test_stream_checkpoint_no_reprocess(spark, tmp_path):
    incoming = tmp_path / "incoming"
    table = tmp_path / "fact"
    ckpt = tmp_path / "ckpt"
    _drop(spark, incoming, _recs(D(2024, 1, 15), ["BTCUSDT"]))
    for _ in range(2):  # second run: checkpoint says nothing new → no-op
        q = start_upsert_sink(
            probe_stream_source(spark, str(incoming)), str(table), str(ckpt)
        ).start()
        q.awaitTermination(120)
    assert spark.read.parquet(str(table)).count() == 1


def test_streaming_dedup_drops_replays(spark, tmp_path):
    incoming = tmp_path / "incoming"
    recs = _recs(D(2024, 1, 15), ["BTCUSDT"])
    _drop(spark, incoming, recs)
    _drop(spark, incoming, recs)  # identical replay (same probe_timestamp)
    out = (
        dedup_probe_stream(probe_stream_source(spark, str(incoming)))
        .writeStream.format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    out.awaitTermination(120)
    assert spark.sql("SELECT COUNT(*) n FROM dedup_out").collect()[0]["n"] == 1


def test_stateful_transitions_and_restart(spark, tmp_path):
    incoming = tmp_path / "incoming"
    ckpt = tmp_path / "ckpt"
    out = tmp_path / "events"

    def drain(_name):
        # file sink (memory sink cannot recover from a checkpoint); events
        # accumulate across runs
        q = (
            availability_transitions(probe_stream_source(spark, str(incoming)))
            .writeStream.format("parquet")
            .option("path", str(out))
            .outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return [
            tuple(r)
            for r in spark.read.parquet(str(out))
            .select("symbol", "event", "event_date", "prev_date")
            .collect()
        ]

    # wave 1: BTC listed d15, seen d16, then d18 (gap over d17);
    # ETH listed d15, delisted d16, relisted d17
    _drop(
        spark,
        incoming,
        _recs(D(2024, 1, 15), ["BTCUSDT", "ETHUSDT"])
        + _recs(D(2024, 1, 16), ["BTCUSDT"])
        + _recs(D(2024, 1, 18), ["BTCUSDT"])
        + _recs(D(2024, 1, 16), ["ETHUSDT"], available=False)
        + _recs(D(2024, 1, 17), ["ETHUSDT"]),
    )
    got = set(drain("transitions_1"))
    assert got == {
        ("BTCUSDT", "listing", D(2024, 1, 15), None),
        ("BTCUSDT", "gap", D(2024, 1, 18), D(2024, 1, 16)),
        ("ETHUSDT", "listing", D(2024, 1, 15), None),
        ("ETHUSDT", "delisting", D(2024, 1, 16), D(2024, 1, 15)),
        ("ETHUSDT", "relisting", D(2024, 1, 17), D(2024, 1, 16)),
    }

    # wave 2, NEW run on the same checkpoint: state must remember BTC was
    # available on d18 → a d19 404 is a delisting, not a fresh listing
    _drop(spark, incoming, _recs(D(2024, 1, 19), ["BTCUSDT"], available=False))
    got2 = set(drain("transitions_2"))
    assert got2 - got == {("BTCUSDT", "delisting", D(2024, 1, 19), D(2024, 1, 18))}


def test_transitions_stream_equals_batch(spark, tmp_path):
    """The stateful streaming operator and the batch LAG-window operator
    (analytics.transition_events) implement the same event semantics —
    one history, two engines, identical events."""
    from binance_futures_availability_spark.operators import analytics

    recs = (
        _recs(D(2024, 1, 15), ["BTCUSDT", "ETHUSDT"])
        + _recs(D(2024, 1, 16), ["BTCUSDT"])
        + _recs(D(2024, 1, 18), ["BTCUSDT"])
        + _recs(D(2024, 1, 16), ["ETHUSDT"], available=False)
        + _recs(D(2024, 1, 17), ["ETHUSDT"])
        + _recs(D(2024, 1, 19), ["BTCUSDT"], available=False)
    )
    incoming = tmp_path / "incoming"
    out = tmp_path / "events"
    _drop(spark, incoming, recs)
    q = (
        availability_transitions(probe_stream_source(spark, str(incoming)))
        .writeStream.format("parquet")
        .option("path", str(out))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        tuple(r)
        for r in spark.read.parquet(str(out))
        .select("symbol", "event", "event_date", "prev_date")
        .collect()
    }
    batch = {
        tuple(r)
        for r in analytics.transition_events(
            probe.results_to_df(spark, recs)
        ).collect()
    }
    # BTC: listing(15), gap(18), delisting(19); ETH: listing(15),
    # delisting(16), relisting(17)
    assert streamed == batch and len(batch) == 6


def test_streaming_symbol_counts_watermarked(spark, tmp_path):
    incoming = tmp_path / "incoming"
    _drop(
        spark,
        incoming,
        _recs(D(2024, 1, 15), ["BTCUSDT", "ETHUSDT"], ts=TS(2024, 1, 16, 1))
        + _recs(D(2024, 1, 15), ["XRPUSDT"], available=False, ts=TS(2024, 1, 16, 2))
        # a much later probe advances the watermark past day-15's horizon
        + _recs(D(2024, 1, 20), ["BTCUSDT"], ts=TS(2024, 1, 21)),
    )
    counts = streaming_symbol_counts(
        probe_stream_source(spark, str(incoming)), late_horizon="3 days"
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("counts_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r["date"]: r
        for r in spark.sql("SELECT * FROM counts_out").collect()
    }
    # day 15 finalized (watermark passed): 3 probes, 2 available
    assert rows[D(2024, 1, 15)]["total_symbols"] == 3
    assert rows[D(2024, 1, 15)]["available_count"] == 2


def test_stream_upsert_sink_on_non_ospath_scheme(spark, tmp_path):
    """FS-scheme routing proof (advisor item): with the fact/summary tables
    on a Hadoop scheme that os.path cannot see (``viewfs://`` with a local
    mount), table_exists still finds the committed _SUCCESS, so the second
    wave takes the UPSERT branch — an os.path-based check would have
    returned False and silently overwritten day 1."""
    import os

    spark.sparkContext._jsc.hadoopConfiguration().set(
        "fs.viewfs.mounttable.sinktest.link./data", "file:" + str(tmp_path)
    )
    incoming = tmp_path / "incoming"
    table_uri = "viewfs://sinktest/data/fact"
    counts_uri = "viewfs://sinktest/data/counts"
    ckpt = tmp_path / "ckpt"

    _drop(spark, incoming, _recs(D(2024, 1, 15), ["BTCUSDT", "ETHUSDT"]))
    q = start_upsert_sink(
        dedup_probe_stream(probe_stream_source(spark, str(incoming))),
        table_uri,
        str(ckpt),
        counts_uri,
    ).start()
    q.awaitTermination(120)

    # the URI string is opaque to os.path — the exact failure mode the
    # Hadoop-FS routing exists to prevent
    assert not os.path.exists(table_uri + "/_SUCCESS")
    assert os.path.exists(str(tmp_path / "fact" / "_SUCCESS"))
    from binance_futures_availability_spark.sources import writer

    assert writer.table_exists(spark, table_uri)
    assert spark.read.parquet(table_uri).count() == 2

    # wave 2 on the existing committed table: MUST merge, not overwrite
    _drop(
        spark,
        incoming,
        _recs(D(2024, 1, 15), ["ETHUSDT"], available=False, ts=TS(2024, 1, 17))
        + _recs(D(2024, 1, 16), ["BTCUSDT"], ts=TS(2024, 1, 17)),
    )
    q = start_upsert_sink(
        dedup_probe_stream(probe_stream_source(spark, str(incoming))),
        table_uri,
        str(ckpt),
        counts_uri,
    ).start()
    q.awaitTermination(120)

    table_df = spark.read.parquet(table_uri)
    assert table_df.count() == 3  # day-1 BTC row survived the wave-2 merge
    snap = snapshots.available_symbols_on_date(table_df, D(2024, 1, 15)).collect()
    assert [r["symbol"] for r in snap] == ["BTCUSDT"]
    # staging dir was cleaned through the same FS routing (the viewfs
    # mount resolves to tmp_path, where os.path CAN check the cleanup)
    assert not glob.glob(str(tmp_path / "fact.__staging__*"))
    mv = {r["date"]: r for r in spark.read.parquet(counts_uri).collect()}
    assert mv[D(2024, 1, 15)]["available_count"] == 1


def test_streaming_document_dedup_drops_short_range_duplicates(spark, tmp_path):
    """Online exact dedup (streaming twin of dedup.exact_duplicates):
    duplicate content within the watermark horizon is dropped across
    micro-batches with first-arrival-wins; distinct content passes."""
    from binance_futures_availability_spark.streaming.pipeline import (
        dedup_document_stream,
        document_stream_source,
    )

    incoming = tmp_path / "docs_in"
    out = tmp_path / "docs_out"
    ckpt = tmp_path / "ckpt"
    t0 = TS(2024, 1, 15, 12, 0, 0)

    def drop(rows):
        spark.createDataFrame(
            rows, "doc_id long, text string, ingest_ts timestamp"
        ).write.mode("append").parquet(str(incoming))

    def run_wave():
        q = (
            dedup_document_stream(
                document_stream_source(spark, str(incoming)), "1 hour"
            )
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # wave 1: doc 2 duplicates doc 1 (same content modulo whitespace/case)
    drop(
        [
            (1, "The Quick Brown Fox", t0),
            (2, "  the quick   brown fox ", t0),
            (3, "something else entirely", t0),
        ]
    )
    run_wave()
    # wave 2: doc 4 re-submits doc 1's content inside the horizon
    drop([(4, "the quick brown fox", TS(2024, 1, 15, 12, 30, 0)),
          (5, "fresh new content", TS(2024, 1, 15, 12, 30, 0))])
    run_wave()

    got = {r["doc_id"] for r in spark.read.parquet(str(out)).collect()}
    # exactly one of the wave-1 twins survives (within-batch winner is
    # arbitrary), the wave-2 re-submit (doc 4) is dropped by cross-batch
    # state, and distinct content (3, 5) passes
    assert len(got & {1, 2}) == 1 and 4 not in got
    assert got - {1, 2} == {3, 5}


def test_streaming_quality_gate_filters_in_flight(spark, tmp_path):
    """Stateless in-flight quality gate: length bounds and the repetition
    rule drop rows; PII is scrubbed and counted; language is predicted —
    all with no state store (append mode, availableNow drain)."""
    from binance_futures_availability_spark.streaming.pipeline import (
        document_stream_source,
        quality_gate_stream,
    )

    incoming = tmp_path / "gate_in"
    t0 = TS(2024, 1, 15, 12, 0, 0)
    rows = [
        (1, "the fine document and one of the good long examples here", t0),
        (2, "tiny", t0),  # below min_words
        (3, "spam spam spam spam spam spam spam spam", t0),  # repetition
        (4, "der gute hund und die schnelle katze ist hier bob@example.com", t0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, ingest_ts timestamp"
    ).write.mode("append").parquet(str(incoming))

    q = (
        quality_gate_stream(
            document_stream_source(spark, str(incoming)),
            min_words=5,
            max_dup_2gram_frac=0.5,
        )
        .writeStream.format("memory")
        .queryName("quality_gate")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"]: r for r in spark.sql("SELECT * FROM quality_gate").collect()}
    assert set(got) == {1, 4}  # 2 too short, 3 all-duplicate 2-grams
    assert got[1]["predicted_lang"] == "en" and got[1]["n_pii"] == 0
    assert got[4]["predicted_lang"] == "de" and got[4]["n_pii"] == 1
    assert "<EMAIL>" in got[4]["text_clean"]
    assert "@" not in got[4]["text_clean"]


def test_streaming_event_counts_watermarked(spark, tmp_path):
    """Tumbling event rollup finalizes once the watermark passes the
    window end; the emitted rows equal the batch twin over the same data."""
    from binance_futures_availability_spark.operators import events as ev_ops
    from binance_futures_availability_spark.streaming.pipeline import (
        event_counts_stream,
        event_stream_source,
    )

    incoming = tmp_path / "ev_in"
    rows = [
        (1, TS(2024, 1, 1, 10, 5), 1, "view", 1.25, "{}"),
        (2, TS(2024, 1, 1, 10, 40), 2, "view", 2.25, "{}"),
        (3, TS(2024, 1, 1, 11, 10), 1, "click", 4.00, "{}"),
        # late-window closer: pushes the watermark past 11:00+horizon
        (4, TS(2024, 1, 1, 14, 0), 3, "error", 0.50, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.mode("append").parquet(str(incoming))

    q = (
        event_counts_stream(event_stream_source(spark, str(incoming)))
        .writeStream.format("memory")
        .queryName("ev_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): r
        for r in spark.sql("SELECT * FROM ev_counts").collect()
    }
    # finalized windows: 10:00 and 11:00 (watermark = 14:00 - 2h = 12:00)
    k10 = (TS(2024, 1, 1, 10), "view")
    assert got[k10]["n_events"] == 2 and got[k10]["total_value"] == 3.5
    assert got[(TS(2024, 1, 1, 11), "click")]["n_events"] == 1
    # the 14:00 window is NOT finalized yet
    assert (TS(2024, 1, 1, 14), "error") not in got
    # stream ≡ batch twin on the finalized windows
    batch = {
        (r["window_start"], r["event_type"]): r
        for r in ev_ops.window_counts(spark.read.parquet(str(incoming))).collect()
    }
    for key, r in got.items():
        assert batch[key]["n_events"] == r["n_events"]
        assert batch[key]["total_value"] == r["total_value"]


def test_streaming_sessionization_matches_batch_gap_rule(spark, tmp_path):
    """session_window sessions equal the batch sessionize split (same gap),
    modulo the window-end convention (stream end = last event + gap)."""
    from binance_futures_availability_spark.operators import events as ev_ops
    from binance_futures_availability_spark.streaming.pipeline import (
        event_stream_source,
        session_stream,
    )

    incoming = tmp_path / "sess_in"
    rows = [
        (1, TS(2024, 1, 1, 10, 0), 1, "view", 0.0, "{}"),
        (2, TS(2024, 1, 1, 10, 20), 1, "view", 0.0, "{}"),   # same session
        (3, TS(2024, 1, 1, 11, 0), 1, "view", 0.0, "{}"),    # 40min gap → new
        (4, TS(2024, 1, 1, 10, 0), 2, "view", 0.0, "{}"),
        # far-future closer so the watermark passes every session above
        (5, TS(2024, 1, 2, 0, 0), 3, "view", 0.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.mode("append").parquet(str(incoming))

    q = (
        session_stream(event_stream_source(spark, str(incoming)), gap_minutes=30)
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"]): r
        for r in spark.sql("SELECT * FROM sessions_out").collect()
    }
    # user 1: two sessions; session window end = last event + gap
    s1 = got[(1, TS(2024, 1, 1, 10, 0))]
    assert s1["n_events"] == 2
    assert s1["session_end"] == TS(2024, 1, 1, 10, 50)
    s2 = got[(1, TS(2024, 1, 1, 11, 0))]
    assert s2["n_events"] == 1
    assert (2, TS(2024, 1, 1, 10, 0)) in got
    # the 00:00 closer session is still open (watermark = closer - 2h)
    assert (3, TS(2024, 1, 2, 0, 0)) not in got
    # batch twin agrees on the split (session count per user)
    batch = ev_ops.sessionize(
        spark.read.parquet(str(incoming)), gap_minutes=30
    ).collect()
    batch_sessions = {(r["user_id"], r["session_start"]) for r in batch}
    for key in got:
        assert key in batch_sessions


def test_streaming_spike_detection_matches_batch(spark, tmp_path):
    """The stateful spike stream emits the batch twin's exact verdicts for
    completed days, withholds the open day, and survives a restart with
    its trailing history intact."""
    from binance_futures_availability_spark.operators import events as ev_ops
    from binance_futures_availability_spark.streaming.pipeline import (
        event_stream_source,
        spike_stream,
    )

    counts = [3, 4, 3, 4, 3, 4, 20, 1]  # burst on day 7; day 8 stays open
    rows, eid = [], 0
    for day, n in enumerate(counts, start=1):
        for _ in range(n):
            eid += 1
            rows.append((eid, TS(2024, 1, day, 12, 0), 1, "view", 0.0, "{}"))
    incoming = tmp_path / "spk_in"
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    # two micro-batches split mid-history to exercise checkpointed state
    spark.createDataFrame(rows[:20], schema).write.mode("append").parquet(
        str(incoming)
    )

    def run():
        q = (
            spike_stream(event_stream_source(spark, str(incoming)))
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "spk_out"))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "spk_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    spark.createDataFrame(rows[20:], schema).write.mode("append").parquet(
        str(incoming)
    )
    run()

    got = {
        r["day"]: r
        for r in spark.read.parquet(str(tmp_path / "spk_out")).collect()
    }
    batch = {
        r["day"]: r
        for r in ev_ops.spike_detection(
            spark.read.parquet(str(incoming))
        ).collect()
    }
    # days 1..7 completed (day 8 open and withheld); verdicts identical
    assert set(got) == {d for d in batch if d.day <= 7}
    for d, r in got.items():
        b = batch[d]
        for c in ("n_events", "trailing_n", "trailing_sum", "is_spike"):
            assert r[c] == b[c], (d, c)
    assert got[max(got)]["is_spike"]  # the burst day flagged


def test_streaming_ivf_append_sink(spark, tmp_path):
    """First micro-batch builds the index (frozen quantizer); later
    batches append incrementally; the served top-k equals a batch-built
    index over the union."""
    import math as _math

    from binance_futures_availability_spark.operators import similarity
    from binance_futures_availability_spark.streaming.pipeline import (
        embedding_stream_source,
        start_ivf_append_sink,
    )

    def vec(deg):
        return [
            float(_math.cos(_math.radians(deg))),
            float(_math.sin(_math.radians(deg))),
        ]

    schema = "vec_id long, embedding array<float>, label int"
    incoming = tmp_path / "emb_in"
    idx = str(tmp_path / "ividx")
    batch1 = [(i, vec(7 * i), 0) for i in range(10)]
    batch2 = [(i, vec(7 * i), 0) for i in range(10, 20)]
    spark.createDataFrame(batch1, schema).write.mode("append").parquet(
        str(incoming)
    )

    def run():
        q = start_ivf_append_sink(
            embedding_stream_source(spark, str(incoming)),
            idx,
            str(tmp_path / "ivckpt"),
            n_cells=4,
        ).start()
        q.awaitTermination(120)

    run()
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(
        str(incoming)
    )
    run()

    ref = str(tmp_path / "refidx")
    similarity.write_ivf_index(
        spark.createDataFrame(batch1 + batch2, schema), ref, n_cells=4
    )
    got = [
        (r["vec_id"], r["cosine"])
        for r in similarity.ivf_topk_indexed(spark, idx, 15, k=5, nprobe=4).collect()
    ]
    want = [
        (r["vec_id"], r["cosine"])
        for r in similarity.ivf_topk_indexed(spark, ref, 15, k=5, nprobe=4).collect()
    ]
    assert got == want and any(v >= 10 for v, _ in got)


def test_streaming_spike_handles_multichunk_groups(spark, tmp_path):
    """A group whose micro-batch spans several Arrow chunks must see ONE
    globally-sorted timestamp series: with per-chunk sorting, day-1 rows
    landing in a later chunk than day-2 rows were dropped as late and the
    finalized counts diverged from the batch twin."""
    from binance_futures_availability_spark.streaming.pipeline import (
        event_stream_source,
        spike_stream,
    )

    # file written with DAY 2 FIRST so small Arrow chunks deliver day 1
    # after day 2 within the same micro-batch
    rows, eid = [], 0
    for day in (2, 1):
        for _ in range(6):
            eid += 1
            rows.append((eid, TS(2024, 1, day, 12, 0), 1, "view", 0.0, "{}"))
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    incoming = tmp_path / "spk_mc_in"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(incoming))

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        q = (
            spike_stream(event_stream_source(spark, str(incoming)))
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "spk_mc_out"))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "spk_mc_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    got = spark.read.parquet(str(tmp_path / "spk_mc_out")).collect()
    # day 1 finalized (when day 2 appears) with ALL six events; day 2 open
    assert [(r["day"], r["n_events"]) for r in got] == [(D(2024, 1, 1), 6)]


def test_streaming_ivf_append_sink_replay_is_noop(spark, tmp_path):
    """A checkpoint replay of an already-applied append batch (crash
    between the parquet append and the checkpoint commit) must not
    double-append: the per-batch commit marker makes the replay skip."""
    import math as _math
    import os

    from binance_futures_availability_spark.streaming.pipeline import (
        embedding_stream_source,
        start_ivf_append_sink,
    )

    def vec(deg):
        return [
            float(_math.cos(_math.radians(deg))),
            float(_math.sin(_math.radians(deg))),
        ]

    schema = "vec_id long, embedding array<float>, label int"
    incoming = tmp_path / "emb_rp_in"
    idx = str(tmp_path / "ividx_rp")
    ckpt = tmp_path / "ivckpt_rp"

    def run(ckpt_dir):
        q = start_ivf_append_sink(
            embedding_stream_source(spark, str(incoming)),
            idx,
            str(ckpt_dir),
            n_cells=4,
        ).start()
        q.awaitTermination(120)

    spark.createDataFrame(
        [(i, vec(7 * i), 0) for i in range(10)], schema
    ).write.mode("append").parquet(str(incoming))
    run(ckpt)
    spark.createDataFrame(
        [(i, vec(7 * i), 0) for i in range(10, 20)], schema
    ).write.mode("append").parquet(str(incoming))
    run(ckpt)

    n_before = spark.read.parquet(idx + "/vectors").count()
    assert n_before == 20

    # simulate the crash window: the append happened (marker present) but
    # the checkpoint never acknowledged the batch. A checkpoint copy
    # missing the newest commit record IS that crashed state; restarting
    # from it forces Spark to re-deliver the batch.
    import shutil

    crashed = tmp_path / "ivckpt_rp_crashed"
    shutil.copytree(ckpt, crashed)
    commits = sorted(
        f for f in os.listdir(crashed / "commits") if not f.startswith(".")
    )
    os.remove(crashed / "commits" / commits[-1])
    # the stale Hadoop checksum would fail the re-written commit's rename
    crc = crashed / "commits" / f".{commits[-1]}.crc"
    if crc.exists():
        os.remove(crc)
    run(crashed)

    assert spark.read.parquet(idx + "/vectors").count() == n_before


def test_streaming_pq_append_sink_batch_equivalence(spark, tmp_path):
    """First micro-batch trains and freezes the PQ codebook; later
    batches encode against it — codes are identical to a one-shot batch
    encode of the union against the same frozen codebook, and a
    checkpoint replay appends nothing twice."""
    import math as _math
    import os

    from binance_futures_availability_spark.operators import similarity
    from binance_futures_availability_spark.streaming.pipeline import (
        embedding_stream_source,
        read_committed,
        start_pq_append_sink,
    )

    def vec(deg):
        return [
            float(_math.cos(_math.radians(deg))),
            float(_math.sin(_math.radians(deg))),
            0.0,
            0.0,
        ]

    schema = "vec_id long, embedding array<float>, label int"
    incoming = tmp_path / "pq_in"
    store = str(tmp_path / "pqstore")
    batch1 = [(i, vec(17 * i), 0) for i in range(8)]
    batch2 = [(i, vec(17 * i), 0) for i in range(8, 16)]
    spark.createDataFrame(batch1, schema).write.mode("append").parquet(
        str(incoming)
    )

    def run():
        q = start_pq_append_sink(
            embedding_stream_source(spark, str(incoming)),
            store,
            str(tmp_path / "pqckpt"),
            m=2,
            k=4,
            iters=1,
        ).start()
        q.awaitTermination(120)

    run()
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(
        str(incoming)
    )
    run()

    cb = spark.read.parquet(os.path.join(store, "codebook"))
    union = spark.createDataFrame(batch1 + batch2, schema)
    want = sorted(
        (r["vec_id"], r["m"], r["code"])
        for r in similarity.pq_encode_with(union, cb, m=2, dim=4).collect()
    )
    got = sorted(
        (r["vec_id"], r["m"], r["code"])
        for r in read_committed(spark, store, "codes").collect()
    )
    assert got == want
    # frozen quantizer: the codebook was trained on batch 1 only
    assert cb.count() == 2 * 4

    # replay: wipe the checkpoint, re-run over the same input — markers
    # make every re-delivered batch a no-op
    import shutil

    shutil.rmtree(str(tmp_path / "pqckpt"))
    run()
    assert (
        sorted(
            (r["vec_id"], r["m"], r["code"])
            for r in read_committed(spark, store, "codes").collect()
        )
        == want
    )


@pytest.mark.parametrize(
    "sink, artifact, output",
    [("pq", "codebook", "codes/batch-0"), ("ivf", "seeds", "vectors")],
    ids=["pq", "ivf"],
)
def test_streaming_pq_sink_corrupt_codebook_raises(
    spark, tmp_path, sink, artifact, output
):
    """A readable-but-corrupt frozen artifact (PQ codebook, IVF seeds)
    must FAIL the batch, not silently retrain: retraining would overwrite
    the frozen artifact while output from earlier batches remains encoded
    against the old one (ADVICE r8) — for IVF, the rebuild also replaced
    every stored vector with the current batch. Only a genuinely missing
    artifact takes the train path."""
    import math as _math
    import os

    from binance_futures_availability_spark.streaming.pipeline import (
        embedding_stream_source,
        start_ivf_append_sink,
        start_pq_append_sink,
    )

    def vec(deg):
        return [
            float(_math.cos(_math.radians(deg))),
            float(_math.sin(_math.radians(deg))),
            0.0,
            0.0,
        ]

    schema = "vec_id long, embedding array<float>, label int"
    incoming = tmp_path / "pq_in_corrupt"
    store = str(tmp_path / "pqstore_corrupt")
    spark.createDataFrame(
        [(i, vec(17 * i), 0) for i in range(8)], schema
    ).write.mode("append").parquet(str(incoming))

    def run(ckpt):
        source = embedding_stream_source(spark, str(incoming))
        if sink == "pq":
            q = start_pq_append_sink(
                source, store, str(tmp_path / ckpt), m=2, k=4
            ).start()
        else:
            q = start_ivf_append_sink(
                source, store, str(tmp_path / ckpt), n_cells=4
            ).start()
        q.awaitTermination(120)

    run("ck1")
    cb_path = os.path.join(store, artifact)
    # corrupt every parquet part file in the frozen artifact
    for name in os.listdir(cb_path):
        if name.endswith(".parquet"):
            with open(os.path.join(cb_path, name), "wb") as fh:
                fh.write(b"not parquet")
        crc = os.path.join(cb_path, "." + name + ".crc")
        if os.path.exists(crc):
            os.remove(crc)

    spark.createDataFrame(
        [(i, vec(17 * i), 0) for i in range(8, 16)], schema
    ).write.mode("append").parquet(str(incoming))
    # fresh checkpoint restarts batch ids at 0 — drop the old commit
    # markers so the batch actually processes instead of replay-skipping
    import shutil

    shutil.rmtree(os.path.join(store, "_committed_batches"))
    with pytest.raises(Exception):
        run("ck2")  # corrupt (but present) artifact read must raise
    # and the corrupt artifact was NOT overwritten by a retrain
    with open(
        [
            os.path.join(cb_path, n)
            for n in sorted(os.listdir(cb_path))
            if n.endswith(".parquet")
        ][0],
        "rb",
    ) as fh:
        assert fh.read() == b"not parquet"
    # the first batch's output is intact
    first = spark.read.parquet(os.path.join(store, output))
    assert {r["vec_id"] for r in first.collect()} == set(range(8))


def _rm_commit(ckpt: str, batch_id: str) -> None:
    """Erase one batch's entry from a checkpoint's commit log (the crash
    simulation: offsets written, commit lost) — including the local-FS
    CRC shadow file, which would otherwise fail the re-commit rename."""
    import os

    for name in (batch_id, f".{batch_id}.crc"):
        path = os.path.join(ckpt, "commits", name)
        if os.path.exists(path):
            os.remove(path)


def test_streaming_classifier_score_sink_batch_equivalence(spark, tmp_path):
    """First micro-batch trains and freezes the classifier weight table;
    later batches score against it — appended scores are identical to a
    one-shot batch score of the union with the same frozen weights, and a
    checkpoint replay appends nothing twice."""
    import datetime as _dt
    import os
    import shutil

    from binance_futures_availability_spark.operators import textops
    from binance_futures_availability_spark.streaming.pipeline import (
        document_stream_source,
        read_committed,
        start_classifier_score_sink,
    )

    ts = _dt.datetime(2024, 1, 1)
    texts = [
        "the cat is a good one",
        "spam spam junk junk junk",
        "the dog is a fine one",
        "junk spam junk noise",
    ]
    batch1 = [(i, texts[i % 4] + f" w{i}", ts) for i in range(12)]
    batch2 = [(i, texts[i % 4] + f" w{i}", ts) for i in range(12, 20)]
    schema = "doc_id long, text string, ingest_ts timestamp"
    incoming = tmp_path / "cls_in"
    store = str(tmp_path / "clsstore")
    spark.createDataFrame(batch1, schema).write.mode("append").parquet(
        str(incoming)
    )

    def run():
        q = start_classifier_score_sink(
            document_stream_source(spark, str(incoming)),
            store,
            str(tmp_path / "clsckpt"),
        ).start()
        q.awaitTermination(120)

    run()
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(
        str(incoming)
    )
    run()

    weights = spark.read.parquet(os.path.join(store, "weights"))
    union = spark.createDataFrame(batch1 + batch2, schema)
    want = sorted(
        tuple(r)
        for r in textops.classifier_score_with(union, weights).collect()
    )
    got = sorted(tuple(r) for r in read_committed(spark, store, "scores").collect())
    assert got == want
    # frozen model: weights trained on batch 1 only — batch 2's novel
    # terms (w12..w19) are absent from the table
    wterms = {r["term"] for r in weights.collect()}
    assert "w12" not in wterms and "w1" not in wterms  # min_df=2 drops singletons

    # crash window: drop the last batch's marker + stream commit entry —
    # the same-id replay overwrites its batch dir (exactly-once scores)
    committed = sorted(os.listdir(os.path.join(store, "_committed_batches")))
    last_id = committed[-1].rsplit("-", 1)[1]
    os.remove(os.path.join(store, "_committed_batches", committed[-1]))
    _rm_commit(str(tmp_path / "clsckpt"), last_id)
    run()
    assert (
        sorted(tuple(r) for r in read_committed(spark, store, "scores").collect())
        == want
    )

    # replay: wipe the checkpoint — markers make re-delivery a no-op
    shutil.rmtree(str(tmp_path / "clsckpt"))
    run()
    assert (
        sorted(tuple(r) for r in read_committed(spark, store, "scores").collect())
        == want
    )


def test_streaming_span_census_matches_batch_and_replays_safely(spark, tmp_path):
    """Batch equivalence for the incremental substring census: three
    document batches through the sink == duplicated_spans over their
    union; a checkpoint replay appends nothing twice (markers)."""
    import os
    import shutil

    from binance_futures_availability_spark.operators import dedup
    from binance_futures_availability_spark.streaming.pipeline import (
        document_stream_source,
        read_span_census,
        start_span_census_sink,
    )

    schema = "doc_id long, text string, ingest_ts timestamp"
    incoming = tmp_path / "span_in"
    store = str(tmp_path / "spanstore")
    ts = __import__("datetime").datetime(2026, 1, 1)
    common = "alpha beta gamma delta"
    batches = [
        [(1, f"{common} one two", ts), (2, f"{common} three four", ts)],
        [(3, "unique words only here now", ts)],
        # cross-BATCH duplication: doc 4 repeats batch 1's common prefix
        [(4, f"{common} five six", ts), (5, f"{common} {common}", ts)],
    ]

    def run():
        q = start_span_census_sink(
            document_stream_source(spark, str(incoming)),
            store,
            str(tmp_path / "spanckpt"),
            width=4,
        ).start()
        q.awaitTermination(120)

    all_rows = []
    for b in batches:
        spark.createDataFrame(b, schema).write.mode("append").parquet(
            str(incoming)
        )
        all_rows.extend(b)
        run()

    union = spark.createDataFrame(all_rows, schema)
    want = sorted(
        (r["span_md5"], r["n_docs"], r["n_occurrences"])
        for r in dedup.duplicated_spans(union, width=4).collect()
    )
    got = sorted(
        (r["span_md5"], r["n_docs"], r["n_occurrences"])
        for r in read_span_census(spark, store).collect()
    )
    assert got == want
    assert len(want) > 0  # the cross-batch duplicated span actually exists
    # the partial log holds one committed batch dir per non-empty batch
    committed = os.listdir(os.path.join(store, "_committed_batches"))
    assert len(committed) == len(batches)
    parts = spark.read.parquet(
        *(os.path.join(store, "parts", m) for m in committed)
    )
    assert parts.count() >= len(want)

    # crash window: output written but marker lost before the stream's
    # commit — drop the marker AND the checkpoint commit entry so
    # Structured Streaming replays THAT batch with the SAME id; the
    # replay must OVERWRITE the batch dir, not append a duplicate
    # partial (exactly-once), and until it does the orphan dir is
    # invisible to the reader
    last = sorted(committed)[-1]
    last_id = last.rsplit("-", 1)[1]
    os.remove(os.path.join(store, "_committed_batches", last))
    _rm_commit(str(tmp_path / "spanckpt"), last_id)
    partial_crash = sorted(
        (r["span_md5"], r["n_docs"], r["n_occurrences"])
        for r in read_span_census(spark, store).collect()
    )
    assert partial_crash != want  # orphan excluded until recommitted
    run()
    after_crash = sorted(
        (r["span_md5"], r["n_docs"], r["n_occurrences"])
        for r in read_span_census(spark, store).collect()
    )
    assert after_crash == want

    # replay: wipe the checkpoint and re-run — markers no-op every batch
    shutil.rmtree(str(tmp_path / "spanckpt"))
    run()
    again = sorted(
        (r["span_md5"], r["n_docs"], r["n_occurrences"])
        for r in read_span_census(spark, store).collect()
    )
    assert again == want


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["path", "file_uri"])
def test_streaming_sq_append_sink_batch_equivalence(
    spark, tmp_path, monkeypatch, scheme
):
    """First micro-batch trains and freezes the SQ8 min/max grid; later
    batches encode against it (out-of-range values clamp) — codes equal
    a one-shot frozen-grid encode of the union, and a checkpoint replay
    appends nothing twice. The same holds for a store given as a
    ``file://`` URI, and no stray ``file:`` directory appears in the cwd
    (store I/O goes through the Hadoop FS, never os.path)."""
    import os
    import shutil

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)

    from binance_futures_availability_spark.operators import similarity
    from binance_futures_availability_spark.streaming.pipeline import (
        embedding_stream_source,
        read_committed,
        start_sq_append_sink,
    )

    schema = "vec_id long, embedding array<float>, label int"
    incoming = tmp_path / "sq_in"
    store = scheme + str(tmp_path / "sqstore")
    batch1 = [
        (i, [float((i * 7 + j) % 11) / 10.0 for j in range(4)], 0)
        for i in range(8)
    ]
    # batch 2 exceeds batch 1's trained range in every dimension -> the
    # clamp rule must fire and codes stay within [0, 255]
    batch2 = [
        (i, [2.0 + float(i % 3), -1.0, 0.5, float(i) / 4.0], 0)
        for i in range(8, 16)
    ]
    spark.createDataFrame(batch1, schema).write.mode("append").parquet(
        str(incoming)
    )

    def run():
        q = start_sq_append_sink(
            embedding_stream_source(spark, str(incoming)),
            store,
            str(tmp_path / "sqckpt"),
        ).start()
        q.awaitTermination(120)

    run()
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(
        str(incoming)
    )
    run()

    grid = spark.read.parquet(os.path.join(store, "grid"))
    union = spark.createDataFrame(batch1 + batch2, schema)
    want = sorted(
        (r["vec_id"], r["i"], r["code"])
        for r in similarity.sq_encode_with(union, grid).collect()
    )
    got = sorted(
        (r["vec_id"], r["i"], r["code"])
        for r in read_committed(spark, store, "codes").collect()
    )
    assert got == want
    assert all(0 <= c <= 255 for _, _, c in got)
    # out-of-range batch-2 values actually hit the clamp boundary
    assert any(c == 255 for v, _, c in got if v >= 8)
    # frozen grid: trained on batch 1 only (4 dims)
    assert grid.count() == 4
    # batch-1 rows re-encode exactly as the corpus-trained store would
    b1 = spark.createDataFrame(batch1, schema)
    want_b1 = sorted(
        (r["vec_id"], r["i"], r["code"])
        for r in similarity.sq_codes(b1).collect()
    )
    assert sorted(t for t in got if t[0] < 8) == want_b1

    # replay: wipe the checkpoint, re-run — markers make it a no-op
    shutil.rmtree(str(tmp_path / "sqckpt"))
    run()
    assert (
        sorted(
            (r["vec_id"], r["i"], r["code"])
            for r in read_committed(spark, store, "codes").collect()
        )
        == want
    )
    assert not [n for n in os.listdir(cwd) if n.startswith("file:")]


def test_streaming_sq_sink_recovers_from_partial_artifact(spark, tmp_path):
    """A frozen-artifact directory a crashed first write left behind
    (Spark's ``_temporary/`` only, no ``_SUCCESS``) counts as missing: the
    sink removes it and trains, and the next run reads the frozen grid —
    both runs succeed, and every batch is encoded against the one grid."""
    import os

    from binance_futures_availability_spark.operators import similarity
    from binance_futures_availability_spark.streaming.pipeline import (
        embedding_stream_source,
        read_committed,
        start_sq_append_sink,
    )

    schema = "vec_id long, embedding array<float>, label int"
    incoming = str(tmp_path / "sq_in")
    store = str(tmp_path / "sqstore")
    os.makedirs(os.path.join(store, "grid", "_temporary", "0"))
    batches = [
        [(i, [float((i * 5 + j) % 7) for j in range(4)], 0) for i in range(8)],
        [(i, [float(i), -2.0, 3.0, 0.5], 0) for i in range(8, 12)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).write.mode("append").parquet(
            incoming
        )
        start_sq_append_sink(
            embedding_stream_source(spark, incoming),
            store,
            str(tmp_path / "sqckpt"),
        ).start().awaitTermination(120)

    grid_dir = os.path.join(store, "grid")
    assert "_temporary" not in os.listdir(grid_dir)
    assert os.path.exists(os.path.join(grid_dir, "_SUCCESS"))
    assert not glob.glob(grid_dir + ".__staging__*")
    grid = spark.read.parquet(grid_dir)
    assert sorted(grid.collect()) == sorted(
        similarity.sq_grid(spark.createDataFrame(batches[0], schema)).collect()
    )
    union = spark.createDataFrame(batches[0] + batches[1], schema)
    want = sorted(
        (r["vec_id"], r["i"], r["code"])
        for r in similarity.sq_encode_with(union, grid).collect()
    )
    got = sorted(
        (r["vec_id"], r["i"], r["code"])
        for r in read_committed(spark, store, "codes").collect()
    )
    assert got == want


def test_streaming_debounce_matches_batch(spark, tmp_path):
    """Stream ≡ batch on COMPLETED bursts across a restart; the open
    burst per key is withheld until its successor arrives."""
    from binance_futures_availability_spark.operators import events as ev_ops
    from binance_futures_availability_spark.streaming.pipeline import (
        debounce_stream,
        event_stream_source,
    )

    t = lambda s: TS(2024, 1, 1, 0, 0) + dt.timedelta(seconds=s)  # noqa: E731
    rows = [
        # user 1 click: burst (0,100,200), burst (600), burst (1500)
        (1, t(0), 1, "click", 1.0, "{}"),
        (2, t(100), 1, "click", 1.0, "{}"),
        (3, t(200), 1, "click", 1.0, "{}"),
        (4, t(600), 1, "click", 1.0, "{}"),
        (5, t(1500), 1, "click", 1.0, "{}"),
        # user 1 view inside the click burst: independent key
        (6, t(50), 1, "view", 1.0, "{}"),
        (7, t(1400), 1, "view", 1.0, "{}"),
        # user 2: tie on ts — lower id leads
        (9, t(0), 2, "click", 1.0, "{}"),
        (8, t(0), 2, "click", 1.0, "{}"),
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    incoming = tmp_path / "db_in"
    # split mid-burst to exercise checkpointed state
    spark.createDataFrame(rows[:3], schema).write.mode("append").parquet(
        str(incoming)
    )

    def run():
        q = (
            debounce_stream(
                event_stream_source(spark, str(incoming)), window_s=150
            )
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "db_out"))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "db_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    spark.createDataFrame(rows[3:], schema).write.mode("append").parquet(
        str(incoming)
    )
    run()

    got = {
        r["event_id"]: r
        for r in spark.read.parquet(str(tmp_path / "db_out")).collect()
    }
    batch = {
        r["event_id"]: r
        for r in ev_ops.debounce(
            spark.read.parquet(str(incoming)), window_s=150
        ).collect()
    }
    # open bursts per key (click@1500, view@1400, user2 click@0) are
    # withheld by the stream; everything completed matches the batch op
    open_leaders = {5, 7, 8}
    assert set(got) == set(batch) - open_leaders
    for eid, r in got.items():
        assert r["n_suppressed"] == batch[eid]["n_suppressed"], eid
        assert r["ts"] == batch[eid]["ts"]


def test_streaming_anomaly_scores_frozen_stats(spark, tmp_path):
    """First batch trains and freezes the per-type median/MAD; its own
    scores equal the batch operator on batch 1; batch 2 is scored under
    the FROZEN stats (not its own); a same-id replay leaves the committed
    rows unchanged."""
    from binance_futures_availability_spark.operators import events as ev_ops
    from binance_futures_availability_spark.streaming.pipeline import (
        event_stream_source,
        read_committed,
        start_anomaly_score_sink,
    )

    t0 = TS(2024, 1, 1)
    batch1 = [(i, t0, 1, "A", v, "{}") for i, v in enumerate(
        [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 100.0]
    )]
    # batch 2: same type, a value extreme under batch-1 stats
    batch2 = [(100, t0, 2, "A", 200.0, "{}"), (101, t0, 2, "A", 4.0, "{}"),
              (102, t0, 2, "B", 1.0, "{}")]  # unseen type -> dropped
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    incoming = tmp_path / "an_in"
    store = str(tmp_path / "an_store")
    spark.createDataFrame(batch1, schema).write.mode("append").parquet(
        str(incoming)
    )

    def run():
        q = start_anomaly_score_sink(
            event_stream_source(spark, str(incoming)), store,
            str(tmp_path / "an_ckpt"), k=5,
        ).start()
        q.awaitTermination(120)

    run()
    got1 = {r["event_id"]: r for r in read_committed(spark, store, "scores").collect()}
    want1 = {
        r["event_id"]: r
        for r in ev_ops.value_outliers(
            spark.createDataFrame(batch1, schema), k=5
        ).collect()
    }
    assert set(got1) == set(want1)
    for eid in got1:
        assert got1[eid]["robust_z_milli"] == want1[eid]["robust_z_milli"]

    spark.createDataFrame(batch2, schema).write.mode("append").parquet(
        str(incoming)
    )
    run()
    got2 = {r["event_id"]: r for r in read_committed(spark, store, "scores").collect()}
    # frozen stats from batch 1: med=4.5, mad2=8e6 -> 200.0 flags, 4.0
    # doesn't; type B unseen -> dropped
    assert set(got2) == set(got1) | {100}
    d = abs(2 * 200_000_000 - 9_000_000)
    assert got2[100]["robust_z_milli"] == 2000 * d // 8_000_000

    # same-id replay: drop the last batch's marker and its checkpoint
    # commit, so the stream re-delivers that batch; it rewrites its own
    # batch dir and the committed rows stay the same
    import os

    markers = os.path.join(store, "_committed_batches")
    last = sorted(os.listdir(markers))[-1]
    os.remove(os.path.join(markers, last))
    _rm_commit(str(tmp_path / "an_ckpt"), last.rsplit("-", 1)[1])
    run()
    assert os.path.exists(os.path.join(markers, last))
    got3 = sorted(map(tuple, read_committed(spark, store, "scores").collect()))
    assert got3 == sorted(map(tuple, got2.values()))


PIPELINE = (
    pathlib.Path(__file__).resolve().parents[1]
    / "binance_futures_availability_spark"
    / "streaming"
    / "pipeline.py"
)


def test_pipeline_store_io_has_one_protocol():
    """Every store sink goes through the one marker protocol on the
    Hadoop FS: no os.path/os.makedirs/os.listdir/open call (they miss any
    non-local scheme), the marker dir named once, one foreachBatch."""
    tree = ast.parse(PIPELINE.read_text())
    docstrings = {
        id(n.value)
        for n in ast.walk(tree)
        if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
    }
    calls = [
        ast.unparse(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)
    ]
    local_io = [
        c
        for c in calls
        if c.startswith("os.path.") or c in ("os.makedirs", "os.listdir", "open")
    ]
    assert not local_io, local_io
    assert sum(c.endswith(".foreachBatch") for c in calls) == 1
    marker_names = [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and "_committed_batches" in n.value
        and id(n) not in docstrings
    ]
    assert len(marker_names) == 1
