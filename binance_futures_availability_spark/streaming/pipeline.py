"""Streaming probe-ingestion pipeline.

Mapping from the reference's batch-incremental behaviors (SURVEY.md §2.9):

| reference mechanism                      | streaming analogue here          |
|------------------------------------------|----------------------------------|
| 20-day lookback re-probe + idempotent    | watermarked dropDuplicates +     |
| UPSERT (run_daily_update.py:41-69)       | foreachBatch upsert sink         |
| T+3 publishing-delay buffer              | event-time watermark on          |
| (validation/completeness.py:71-76)       | probe_timestamp                  |
| matview refresh after each batch         | incremental refresh inside the   |
| (availability_db.py:192-195)             | same foreachBatch                |

Scale notes: the file source scans only NEW files per micro-batch; state for
dropDuplicates is bounded by the watermark horizon × symbol count; the sink
rewrites only the date partitions present in each micro-batch
(writer.upsert_partitioned), so per-batch cost tracks batch size, not table
size. foreachBatch + idempotent partition overwrite gives effectively-once
output on top of the checkpoint's exactly-once source tracking.

Exactly-once store sinks (IVF append, PQ, SQ, classifier, anomaly, span
census) share one protocol, ``_idempotent_batch_sink``; all of their store
I/O goes through the Hadoop FileSystem, so a store on any scheme (local,
``file://``, ``hdfs://``, ``s3a://``) behaves the same:

- Per micro-batch: skip it if its marker ``<store>/_committed_batches/
  batch-<id>`` exists (a checkpoint replay of a committed batch), skip it if
  empty, run the sink's transform on the locally checkpointed batch, and
  write the marker LAST, after the transform's output is committed.
- Per-batch output lands in ``<store>/<sub>/batch-<id>``, written with
  overwrite: a replay of the same id (crash after the output commit, before
  the marker) rewrites its directory and never appends a second copy.
- ``read_committed`` lists markers and batch dirs and reads only the
  marker-committed ones, so an orphan dir stays invisible until its replay
  commits it.
- Frozen artifacts (PQ codebook, SQ grid, classifier weights, anomaly stats,
  IVF seeds) are trained on the current batch only when the artifact path
  holds no committed table (``_SUCCESS``); a partial directory there is
  removed and the artifact is staged to a sibling and renamed into place.
  An artifact that exists is never retrained: if it cannot be read, the
  batch fails and the stream retries it, instead of splitting the output
  across two models.
- The IVF sink appends into the index's ``vectors`` table instead of a
  per-batch dir, so a crash between that append and the marker write (a
  window of milliseconds) re-appends the batch on replay; a transactional
  table format (Delta/Iceberg) would close it.
- Markers are keyed by ``batch_id``. A fresh checkpoint restarts ids at 0,
  so reusing a store with a new checkpoint skips every id that already has
  a marker: start a new checkpoint on a new store, or clear its markers.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import normalized_text
from ..schema import DAILY_AVAILABILITY_KEY, DAILY_AVAILABILITY_VERSION, PROBE_RESULT
from ..sources import writer


def probe_stream_source(spark: SparkSession, incoming_dir: str) -> DataFrame:
    """readStream over a drop-directory of probe-result parquet batches.

    Each probe wave (ingest/probe.results_to_df written as parquet) becomes
    one micro-batch; maxFilesPerTrigger bounds batch size under backlog.
    """
    return (
        spark.readStream.schema(PROBE_RESULT)
        .option("maxFilesPerTrigger", 64)
        .parquet(incoming_dir)
    )


def dedup_probe_stream(stream: DataFrame, late_horizon: str = "3 days") -> DataFrame:
    """Drop duplicate probes of the same (date, symbol) within the horizon.

    The reference re-probes a rolling window, so the same key arrives many
    times; the watermark bounds dedup state exactly like the T+3 buffer
    bounds how late a correction is accepted. Latest probe_timestamp still
    wins at the sink (writer.upsert), so dedup here is purely a state/IO
    reducer, not a correctness requirement.
    """
    return stream.withWatermark("probe_timestamp", late_horizon).dropDuplicates(
        ["date", "symbol", "probe_timestamp"]
    )


#: document ingest-stream schema (LLM-pipeline streaming twin)
DOCUMENT_STREAM = "doc_id long, text string, ingest_ts timestamp"


def document_stream_source(spark: SparkSession, incoming_dir: str) -> DataFrame:
    """readStream over a drop-directory of document parquet batches —
    the ingest half of an online training-data pipeline."""
    return (
        spark.readStream.schema(DOCUMENT_STREAM)
        .option("maxFilesPerTrigger", 64)
        .parquet(incoming_dir)
    )


def dedup_document_stream(
    stream: DataFrame, late_horizon: str = "1 hour"
) -> DataFrame:
    """Online EXACT dedup of a document stream — the streaming twin of
    ``operators.dedup.exact_duplicates``: same content key (md5 of the
    normalized text). Survivorship is first-batch-wins (within one
    micro-batch the kept row is arbitrary; across batches earlier always
    beats later — the only well-defined online policy).

    ``dropDuplicatesWithinWatermark`` (not plain dropDuplicates) is what
    bounds state when the dedup key is NOT the event-time column: a
    content hash seen once is held only until the watermark passes its
    arrival time + horizon, so state ∝ ingest rate × horizon, never corpus
    size. The trade every online dedup makes: an exact duplicate arriving
    AFTER the horizon is re-admitted — downstream batch dedup (the batch
    twin) remains the corpus-wide guarantee; this stage strips the
    short-range duplicate mass (retries, double-submits, crawl echoes)
    before it ever lands.
    """
    keyed = stream.withColumn(
        "content_md5", F.md5(normalized_text(F.col("text")))
    )
    return keyed.withWatermark(
        "ingest_ts", late_horizon
    ).dropDuplicatesWithinWatermark(["content_md5"])


def streaming_symbol_counts(stream: DataFrame, late_horizon: str = "3 days") -> DataFrame:
    """Watermarked probe-count monitoring stream.

    Counts per (1-day probe_timestamp window, data date); a row finalizes —
    append-mode emits it — once the watermark passes the probe window, i.e.
    probes later than the horizon are dropped exactly like the reference's
    T+3 buffer stops trusting older days. Note the semantics: this is a
    finalized *increment* stream (what arrived per probe-day), good for
    monitoring/alerting; the authoritative table-state matview is maintained
    transactionally by the foreachBatch sink (start_upsert_sink), because
    "current state of an upserted table" is a changelog, which append-mode
    streaming aggregation cannot express.
    """
    return (
        stream.withWatermark("probe_timestamp", late_horizon)
        .groupBy(F.window("probe_timestamp", "1 day").alias("probe_window"), "date")
        .agg(
            F.count(F.lit(1)).alias("total_symbols"),
            F.sum(F.when(F.col("available"), 1).otherwise(0)).alias(
                "available_count"
            ),
            F.sum(F.when(~F.col("available"), 1).otherwise(0)).alias(
                "unavailable_count"
            ),
        )
    )


#: output schema of availability_transitions
TRANSITIONS_SCHEMA = "symbol string, event string, event_date date, prev_date date"
#: per-symbol state: where the symbol's history left off
_TRANSITIONS_STATE = "last_date date, last_available boolean"


def availability_transitions(stream: DataFrame) -> DataFrame:
    """Custom stateful operator: online listing/delisting/gap detection.

    The streaming form of the reference's anti-join analytics (J3 new
    listings, J4 delistings, J5 continuity gaps — SURVEY.md §2.3): instead
    of re-scanning history per question, a per-symbol state machine built
    on ``applyInPandasWithState`` carries (last_date, last_available)
    across micro-batches and emits transition events as probes arrive:

    - ``listing``    first available sighting of a symbol
    - ``delisting``  available → unavailable
    - ``relisting``  unavailable → available again
    - ``gap``        consecutive available probes more than 1 day apart

    Scale: state is 2 small fields × #symbols (bounded by the universe,
    not by throughput); each micro-batch shuffles only its own rows by
    symbol. Arrow-batched — the pandas kernel sees one symbol's batch rows
    at a time, sorted here by (date, probe_timestamp) since micro-batch
    arrival order is arbitrary.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter, state: GroupState):
        (symbol,) = key
        last_date, last_available = state.get if state.exists else (None, None)
        events: list[tuple] = []
        for pdf in pdf_iter:
            for r in pdf.sort_values(["date", "probe_timestamp"]).itertuples():
                d, avail = r.date, bool(r.available)
                if last_available is None:
                    if avail:
                        events.append((symbol, "listing", d, None))
                elif avail and not last_available:
                    events.append((symbol, "relisting", d, last_date))
                elif not avail and last_available:
                    events.append((symbol, "delisting", d, last_date))
                elif avail and last_available and (d - last_date).days > 1:
                    events.append((symbol, "gap", d, last_date))
                last_date, last_available = d, avail
        state.update((last_date, last_available))
        yield pd.DataFrame(
            events, columns=["symbol", "event", "event_date", "prev_date"]
        )

    return stream.groupBy("symbol").applyInPandasWithState(
        fn,
        TRANSITIONS_SCHEMA,
        _TRANSITIONS_STATE,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def start_upsert_sink(
    stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    counts_path: str | None = None,
):
    """writeStream → foreachBatch(upsert + incremental matview refresh).

    Each micro-batch is UPSERTed into the date-partitioned fact table
    (touched partitions only); when ``counts_path`` is given, the summary
    table is refreshed for exactly the touched dates — the streaming form
    of the reference's refresh-after-insert. Restart-safe: the checkpoint
    replays unacknowledged batches and the upsert is idempotent. The first
    batch creates the table through the same upsert, NULL-filled to the
    fact table's full width.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not batch_df.take(1):
            return
        writer.upsert_partitioned(
            table_path,
            batch_df,
            DAILY_AVAILABILITY_KEY,
            DAILY_AVAILABILITY_VERSION,
        )
        if counts_path is not None:
            table = spark.read.parquet(table_path)
            touched = [
                r["date"] for r in batch_df.select("date").distinct().collect()
            ]
            if writer.table_exists(spark, counts_path):
                existing = spark.read.parquet(counts_path)
                refreshed = writer.refresh_symbol_counts_incremental(
                    existing, table, touched
                )
            else:
                refreshed = writer.refresh_symbol_counts(table)
            # summary is tiny; localCheckpoint cuts the lineage back to the
            # files being overwritten (same read-overwrite hazard as upsert)
            refreshed.localCheckpoint(eager=True).coalesce(1).write.mode(
                "overwrite"
            ).parquet(counts_path)

    return _batch_writer(stream, checkpoint_dir, process_batch)


def _batch_writer(stream: DataFrame, checkpoint_dir: str, process_batch):
    """The trailer every sink shares: ``process_batch`` per micro-batch,
    progress checkpointed in ``checkpoint_dir``, backlog drained, then
    stop. Returns the unstarted writer (``.start()`` runs it)."""
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def quality_gate_stream(
    stream: DataFrame,
    min_words: int = 5,
    max_words: int = 50_000,
    max_dup_2gram_frac: float = 0.5,
) -> DataFrame:
    """Streaming ingest quality gate — the STATELESS subset of the batch
    quality suite applied in-flight, before documents ever land: word-count
    bounds, duplicated-2-gram fraction (the per-row Gopher repetition
    rule), language ID, and sequential PII scrubbing. Emits
    (doc_id, ingest_ts, text_clean, predicted_lang, n_tokens,
    dup_2gram_frac, n_pii) for surviving rows.

    Every expression here is a narrow per-row projection (same column
    expressions as textops.pii_scrub / language_id / repetition_scores'
    2-gram branch), so the stream runs in append mode with NO state store
    at all — it scales with per-batch row count only. Corpus-relative
    signals (TF/DF, top-term fraction, contamination, near-dup) need
    corpus state by definition and stay in the batch twins; the online
    split is exactly: row-local gates in-flight, corpus-global gates in
    the nightly batch pass.
    """
    from ..functions import token_count, tokens
    from ..operators.textops import PII_ORDER, PII_PATTERNS, language_pred

    t = F.col("text")
    cur = t
    n_pii = F.lit(0)
    for cat in PII_ORDER:
        pat = PII_PATTERNS[cat]
        # regexp_count == size(regexp_extract_all(...)) for these patterns
        # but never materializes the match array (the batch-side r13 swap)
        n_pii = n_pii + F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, f"<{cat.upper()}>")
    toks = tokens(t)
    grams2 = F.array_compact(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.size(toks)),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    )
    n2 = F.size(grams2)
    dup_frac = F.when(
        n2 > 0,
        (n2 - F.size(F.array_distinct(grams2))).cast("double") / n2,
    ).otherwise(F.lit(0.0))
    gated = stream.select(
        "doc_id",
        "ingest_ts",
        cur.alias("text_clean"),
        language_pred(F.lower(t)).alias("predicted_lang"),
        token_count(t).cast("int").alias("n_tokens"),
        dup_frac.alias("dup_2gram_frac"),
        n_pii.cast("int").alias("n_pii"),
    )
    return gated.filter(
        (F.col("n_tokens") >= min_words)
        & (F.col("n_tokens") <= max_words)
        & (F.col("dup_2gram_frac") <= max_dup_2gram_frac)
    )


EVENT_STREAM = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def event_stream_source(spark: SparkSession, incoming_dir: str) -> DataFrame:
    """readStream over a drop-directory of event parquet batches."""
    return (
        spark.readStream.schema(EVENT_STREAM)
        .option("maxFilesPerTrigger", 64)
        .parquet(incoming_dir)
    )


def event_counts_stream(
    stream: DataFrame,
    duration: str = "1 hour",
    late_horizon: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling rollup — the streaming twin of
    ``operators.events.window_counts`` (same window alignment, same exact
    DECIMAL value sums): (window_start, event_type, n_events, total_value).

    Append mode emits a (window, type) row exactly once, when the
    watermark passes the window end — events later than ``late_horizon``
    are dropped, bounding state to horizon/duration windows per type.
    COUNT(DISTINCT) is not available in streaming aggregation (state
    would be unbounded per group); the batch twin carries it, the stream
    carries the counts a monitoring surface needs.
    """
    w = F.window(F.col("ts"), duration)
    return (
        stream.withWatermark("ts", late_horizon)
        .groupBy(w.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_stream(
    stream: DataFrame,
    gap_minutes: int = 30,
    late_horizon: str = "2 hours",
) -> DataFrame:
    """Streaming sessionization — the stateful twin of
    ``operators.events.sessionize``: (user_id, session_start, session_end,
    n_events) via Spark's native ``session_window`` state machine.

    A session's window GROWS while events keep arriving within
    ``gap_minutes`` of its current end and finalizes (append-mode emit)
    once the watermark passes end + gap — so state is bounded by the
    number of OPEN sessions, not event history. Late events inside the
    horizon merge into (or bridge!) existing open sessions exactly like
    the batch gap rule; events later than the horizon are dropped. The
    batch twin remains the authority for closed history (its session ids
    are ordinal per user; the stream identifies sessions by their start
    time — the natural keys of each execution model).
    """
    return (
        stream.withWatermark("ts", late_horizon)
        .groupBy(
            F.session_window(F.col("ts"), f"{gap_minutes} minutes").alias("w"),
            F.col("user_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


SPIKES_SCHEMA = (
    "event_type string, day date, n_events long, trailing_n long, "
    "trailing_sum long, is_spike boolean"
)
_SPIKES_STATE = (
    "hist_days array<date>, hist_counts array<long>, "
    "cur_day date, cur_count long"
)


def spike_stream(
    stream: DataFrame,
    k: int = 3,
    window_days: int = 7,
    min_history: int = 5,
) -> DataFrame:
    """Online volume-anomaly detection — the stateful streaming twin of
    ``operators.events.spike_detection``, same exact integer z-test
    ((x·n − s)² > k²·(n·ss − s²)) over the same trailing window of
    observed days.

    Per-event-type state carries the last ``window_days`` completed
    (day, count) pairs plus the open day's running count — bounded by
    #types × window_days, independent of throughput. A day's verdict is
    emitted when its successor day first appears for that type (the
    batch operator learns day boundaries the same way: from the data);
    the open day stays unemitted until then, matching append-mode
    finalization semantics. Rows older than the open day are DROPPED
    (the operator's own late-data horizon — one day of disorder; the
    batch twin remains the authority for reprocessing history).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter, state: GroupState):
        (etype,) = key
        if state.exists:
            hist_days, hist_counts, cur_day, cur_count = state.get
            hist_days, hist_counts = list(hist_days), list(hist_counts)
        else:
            hist_days, hist_counts, cur_day, cur_count = [], [], None, 0
        out: list[tuple] = []

        def finalize():
            n = len(hist_counts)
            s = sum(hist_counts)
            ss = sum(c * c for c in hist_counts)
            dev = cur_count * n - s
            spike = bool(
                n >= min_history
                and dev > 0
                and dev * dev > k * k * (n * ss - s * s)
            )
            out.append((etype, cur_day, cur_count, n, s, spike))
            hist_days.append(cur_day)
            hist_counts.append(cur_count)
            del hist_days[:-window_days], hist_counts[:-window_days]

        # A group's micro-batch may arrive as SEVERAL Arrow chunks with no
        # cross-chunk order guarantee: sort the combined series once, or an
        # earlier day landing in a later chunk would be dropped as "late"
        # and its predecessor finalized with an undercounted n_events.
        chunks = [pdf["ts"] for pdf in pdf_iter]
        all_ts = (
            pd.concat(chunks, ignore_index=True).sort_values()
            if chunks
            else pd.Series([], dtype="datetime64[ns]")
        )
        for ts in all_ts:
            day = ts.date()
            if cur_day is None:
                cur_day, cur_count = day, 1
            elif day == cur_day:
                cur_count += 1
            elif day > cur_day:
                finalize()
                cur_day, cur_count = day, 1
            # else: older than the open day — dropped (late horizon)
        state.update((hist_days, hist_counts, cur_day, cur_count))
        yield pd.DataFrame(
            out,
            columns=[
                "event_type", "day", "n_events",
                "trailing_n", "trailing_sum", "is_spike",
            ],
        )

    return stream.groupBy("event_type").applyInPandasWithState(
        fn,
        SPIKES_SCHEMA,
        _SPIKES_STATE,
        "append",
        GroupStateTimeout.NoTimeout,
    )


DEBOUNCE_SCHEMA = (
    "event_id long, user_id long, event_type string, ts timestamp, "
    "n_suppressed long"
)
_DEBOUNCE_STATE = (
    "prev_ts timestamp, lead_id long, lead_ts timestamp, n_sup long"
)


def debounce_stream(stream: DataFrame, window_s: int = 300) -> DataFrame:
    """Online telemetry burst-dedup — the stateful streaming twin of
    ``operators.events.debounce``: per (user, type), consecutive events
    closer than ``window_s`` seconds collapse into their first event.

    State per key is O(1) — the open burst's leader (id, ts), running
    suppressed count, and the PREVIOUS raw timestamp (bursts chain on
    the previous event, not the leader — the batch operator's exact
    rule). A burst emits when its successor burst first opens (append
    finalization, the spike_stream discipline); the open burst stays
    unemitted. Rows older than the open burst's last event are DROPPED
    (same one-burst late horizon; the batch twin reprocesses history).
    Arrow chunks within a micro-batch carry no order guarantee, so the
    combined batch sorts on (ts, event_id) before replay.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter, state: GroupState):
        uid, etype = key
        if state.exists:
            prev_ts, lead_id, lead_ts, n_sup = state.get
        else:
            prev_ts, lead_id, lead_ts, n_sup = None, None, None, 0
        out: list[tuple] = []

        chunks = [pdf[["ts", "event_id"]] for pdf in pdf_iter]
        if chunks:
            batch = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "event_id"]
            )
        else:
            batch = pd.DataFrame(columns=["ts", "event_id"])
        for ts, eid in batch.itertuples(index=False):
            if lead_id is None:
                prev_ts, lead_id, lead_ts, n_sup = ts, int(eid), ts, 0
            elif ts < prev_ts:
                continue  # older than the open burst — late horizon
            # TRUNCATED epoch seconds, matching the batch operator's
            # unix_timestamp semantics on sub-second timestamps.
            # prev_ts restored from state is a plain datetime while
            # in-batch values are pd.Timestamp — normalize both.
            elif (
                pd.Timestamp(ts).value // 10**9
                - pd.Timestamp(prev_ts).value // 10**9
                > window_s
            ):
                out.append((int(lead_id), uid, etype, lead_ts, int(n_sup)))
                prev_ts, lead_id, lead_ts, n_sup = ts, int(eid), ts, 0
            else:
                n_sup += 1
                prev_ts = ts
        state.update((prev_ts, lead_id, lead_ts, int(n_sup)))
        yield pd.DataFrame(
            out,
            columns=[
                "event_id", "user_id", "event_type", "ts", "n_suppressed",
            ],
        )

    return stream.groupBy("user_id", "event_type").applyInPandasWithState(
        fn,
        DEBOUNCE_SCHEMA,
        _DEBOUNCE_STATE,
        "append",
        GroupStateTimeout.NoTimeout,
    )


EMBEDDING_STREAM = "vec_id long, embedding array<float>, label int"


def embedding_stream_source(spark: SparkSession, incoming_dir: str) -> DataFrame:
    """readStream over a drop-directory of embedding parquet batches."""
    return (
        spark.readStream.schema(EMBEDDING_STREAM)
        .option("maxFilesPerTrigger", 64)
        .parquet(incoming_dir)
    )


_MARKER_DIR = "_committed_batches"


def _idempotent_batch_sink(
    stream: DataFrame, store: str, checkpoint_dir: str, write_batch
):
    """The exactly-once protocol of the module docstring around
    ``write_batch(batch, batch_id)``: skip a batch whose marker exists,
    skip an empty batch, run ``write_batch`` on the locally checkpointed
    batch, and write the marker only after it returns."""
    markers = f"{store.rstrip('/')}/{_MARKER_DIR}"

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        marker = f"{markers}/batch-{batch_id}"
        if writer._exists(spark, marker):
            return  # checkpoint replay of an already-committed batch
        if not batch_df.take(1):
            return
        write_batch(batch_df.localCheckpoint(eager=True), batch_id)
        _touch(spark, marker)

    return _batch_writer(stream, checkpoint_dir, process_batch)


def _touch(spark: SparkSession, path: str) -> None:
    """Create the empty file ``path`` (parents included). On a checksummed
    FS (the local one) the raw FS beneath it writes the file: an empty file
    has nothing to checksum, and the marker dir then holds markers only,
    no ``.crc`` sidecars."""
    fs, hpath = writer._hadoop_path(spark, path)
    checksummed = spark.sparkContext._jvm.org.apache.hadoop.fs.ChecksumFileSystem
    if checksummed._java_lang_class.isInstance(fs):
        fs = fs.getRawFileSystem()
    fs.create(hpath, True).close()


def _overwrite_batch_dir(
    df: DataFrame, store: str, sub: str, batch_id: int
) -> None:
    """Write ``df`` as ``<store>/<sub>/batch-<id>``, replacing whatever an
    earlier attempt at the same id left there."""
    df.write.mode("overwrite").parquet(
        f"{store.rstrip('/')}/{sub}/batch-{batch_id}"
    )


def _frozen_artifact(
    spark: SparkSession, store: str, name: str, train
) -> DataFrame:
    """The frozen artifact ``<store>/<name>``. ``train()`` builds it (from
    the current batch) only when it is missing — no committed table
    (``_SUCCESS``) at the path. The artifact is staged to a unique sibling
    and renamed into place over a directory that holds no data, such as
    the ``_temporary/`` a crashed Spark write leaves (``writer._publish``),
    so the path only ever holds a complete artifact. One that exists is read, never retrained, so an
    unreadable one fails the batch and the stream retries it."""
    path = f"{store.rstrip('/')}/{name}"
    if not writer.table_exists(spark, path):
        writer._publish(train(), path)
    return spark.read.parquet(path)


def _names(spark: SparkSession, path: str) -> set:
    """Names of the entries directly under ``path``; empty when ``path``
    does not exist."""
    fs, hpath = writer._hadoop_path(spark, path)
    if not fs.exists(hpath):
        return set()
    return {st.getPath().getName() for st in fs.listStatus(hpath)}


def read_committed(spark: SparkSession, store: str, sub: str) -> DataFrame:
    """Union of the marker-committed batch dirs ``<store>/<sub>/batch-<id>``
    — the read side of every per-batch-dir sink (``codes`` of the PQ/SQ
    sinks, ``scores`` of the classifier/anomaly sinks, ``parts`` of the
    span census). Dirs without a marker are excluded. Raises
    ``FileNotFoundError`` when no batch is committed."""
    root = store.rstrip("/")
    committed = _names(spark, f"{root}/{_MARKER_DIR}") & _names(
        spark, f"{root}/{sub}"
    )
    if not committed:
        raise FileNotFoundError(f"no committed batches under {root}/{sub}")
    return spark.read.parquet(*(f"{root}/{sub}/{n}" for n in sorted(committed)))


def start_ivf_append_sink(
    stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    n_cells: int | None = None,
):
    """Incremental IVF append: the vector-ingest pipeline. The first batch
    trains and freezes the coarse quantizer (``<index>/seeds``, the
    ``write_ivf_index`` seeds over that batch); every batch is assigned
    against the stored seeds and appended to ``<index>/vectors``
    (``append_to_ivf_index`` — work ∝ batch)."""
    from ..operators import similarity

    cells = similarity.IVF_N_CELLS if n_cells is None else n_cells

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        _frozen_artifact(
            batch.sparkSession,
            index_path,
            "seeds",
            lambda: similarity._ivf_seed_table(batch, cells),
        )
        similarity.append_to_ivf_index(batch, index_path)

    return _idempotent_batch_sink(stream, index_path, checkpoint_dir, write_batch)


def start_pq_append_sink(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    m: int | None = None,
    k: int | None = None,
    iters: int = 0,
):
    """Frozen-quantizer PQ encode: the compressed-vector ingest pipeline.
    The frozen artifact is ``<store>/codebook`` (``pq_codebook`` over the
    first batch — deterministic lowest-id seeds, optional Lloyd ``iters``);
    each batch's (id, m, code) rows (``pq_encode_with`` — exact integer
    argmin, so a vector's codes do not depend on its batch) land in
    ``<store>/codes/batch-<id>``."""
    from ..operators import similarity

    m_eff = similarity.PQ_M if m is None else m
    k_eff = similarity.PQ_K if k is None else k

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        def train() -> DataFrame:
            dim = len(batch.select("embedding").first()[0])
            return similarity.pq_codebook(
                batch, m=m_eff, k=k_eff, dim=dim, iters=iters
            )

        cb = _frozen_artifact(batch.sparkSession, store_path, "codebook", train)
        # dim from the frozen codebook (m subspaces × subvector width) —
        # no extra per-batch driver job against the data
        dim = m_eff * len(cb.first()["csub"])
        _overwrite_batch_dir(
            similarity.pq_encode_with(batch, cb, m=m_eff, dim=dim),
            store_path,
            "codes",
            batch_id,
        )

    return _idempotent_batch_sink(stream, store_path, checkpoint_dir, write_batch)


def start_classifier_score_sink(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    min_df: int | None = None,
):
    """Frozen-weights quality scoring: the streaming twin of the
    corpus-trained classifier (``textops.classifier_weights`` /
    ``classifier_score_with``). The frozen artifact is ``<store>/weights``,
    cold-started on the first batch's own train hash-split (a production
    pipeline pre-seeds it from the batch trainer over the historical
    corpus); each batch's (doc_id, n_pos, n_neg, logit, pred_good) rows
    land in ``<store>/scores/batch-<id>``."""
    from ..operators import textops

    min_df_eff = textops.CLS_MIN_DF if min_df is None else min_df

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        weights = _frozen_artifact(
            batch.sparkSession,
            store_path,
            "weights",
            lambda: textops.classifier_weights(batch, min_df=min_df_eff),
        )
        _overwrite_batch_dir(
            textops.classifier_score_with(batch, weights),
            store_path,
            "scores",
            batch_id,
        )

    return _idempotent_batch_sink(stream, store_path, checkpoint_dir, write_batch)


def start_anomaly_score_sink(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    k: int = 5,
):
    """Frozen-stats robust anomaly scoring: the streaming twin of
    ``events.value_outliers``. The frozen artifact is ``<store>/stats``, the
    per-type median/MAD table (``events.robust_value_stats``) cold-started
    on the first batch (a production pipeline pre-seeds it from history;
    re-train by re-seeding the store); each batch's verdicts
    (``score_values_with``) land in ``<store>/scores/batch-<id>``. Types
    absent from the frozen table are dropped."""
    from ..operators import events as ev_ops

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        stats = _frozen_artifact(
            batch.sparkSession,
            store_path,
            "stats",
            lambda: ev_ops.robust_value_stats(batch),
        )
        _overwrite_batch_dir(
            ev_ops.score_values_with(batch, stats, k),
            store_path,
            "scores",
            batch_id,
        )

    return _idempotent_batch_sink(stream, store_path, checkpoint_dir, write_batch)


def start_sq_append_sink(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
):
    """Frozen-grid SQ8 encode: the scalar-quantization twin of
    ``start_pq_append_sink``. The frozen artifact is ``<store>/grid``, the
    per-dimension min/max grid (``similarity.sq_grid``) of the first batch;
    each batch's (id, i, code) rows (``sq_encode_with`` — exact
    floor-over-double arithmetic, out-of-range values clamp to [0, 255])
    land in ``<store>/codes/batch-<id>``."""
    from ..operators import similarity

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        grid = _frozen_artifact(
            batch.sparkSession,
            store_path,
            "grid",
            lambda: similarity.sq_grid(batch),
        )
        _overwrite_batch_dir(
            similarity.sq_encode_with(batch, grid), store_path, "codes", batch_id
        )

    return _idempotent_batch_sink(stream, store_path, checkpoint_dir, write_batch)


def start_span_census_sink(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    width: int = 6,
):
    """Incremental substring-duplication census: the streaming twin of
    ``operators.dedup.duplicated_spans``.

    Each batch folds its own documents into hashed ``width``-token spans
    and writes one partial aggregate — (span_md5, n_docs, n_occurrences)
    over that batch only — to ``<store>/parts/batch-<id>``. The census is
    never rewritten: per-batch work ∝ batch size, and the merge (sum of
    partials, filter > 1) happens at read time in ``read_span_census``
    (a serving deployment would periodically compact the parts with the
    same aggregate).

    Correctness contract: a document's rows arrive within one batch
    (append-only corpus, whole-document records), so summing per-batch
    ``COUNT(DISTINCT doc_id)`` partials equals the global distinct count.
    """
    from ..operators.dedup import _span_fold

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spans = batch.select(
            "doc_id",
            F.explode(_span_fold(F.col("text"), width)).alias("span"),
        ).filter(F.col("span").isNotNull())
        partial = spans.groupBy(F.md5("span").alias("span_md5")).agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        )
        _overwrite_batch_dir(partial, store_path, "parts", batch_id)

    return _idempotent_batch_sink(stream, store_path, checkpoint_dir, write_batch)


def read_span_census(spark: SparkSession, store_path: str) -> DataFrame:
    """Merge the per-batch census partials into the corpus-wide
    duplicated-span census — (span_md5, n_docs, n_occurrences), spans
    occurring > 1× only — exactly ``duplicated_spans`` over the union of
    every batch ingested so far. One groupBy over the (sparse) partial
    log (marker-committed batch dirs only); map-side combine absorbs the
    per-batch fan-in. Counts stay LONG end-to-end — a viral span's
    occurrences across batches exceed int32 at the corpus scales this
    sink targets."""
    return (
        read_committed(spark, store_path, "parts")
        .groupBy("span_md5")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_occurrences").cast("long").alias("n_occurrences"),
        )
        .filter(F.col("n_occurrences") > 1)
    )
