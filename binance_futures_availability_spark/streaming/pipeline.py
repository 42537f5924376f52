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
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import open_table
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
    replays unacknowledged batches and the upsert is idempotent.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not batch_df.take(1):
            return
        if writer.table_exists(spark, table_path):
            writer.upsert_partitioned(
                table_path,
                batch_df,
                DAILY_AVAILABILITY_KEY,
                DAILY_AVAILABILITY_VERSION,
            )
        else:
            batch_df.write.mode("overwrite").partitionBy("date").parquet(
                table_path
            )
        if counts_path is not None:
            table = open_table(spark, table_path)
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


def start_ivf_append_sink(
    stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    n_cells: int | None = None,
):
    """writeStream → foreachBatch(incremental IVF append): the vector-
    ingest pipeline. The FIRST batch builds the index (freezing the
    coarse quantizer); every later batch assigns against the stored
    centroids and appends only its own cell-partition files
    (``append_to_ivf_index`` — work ∝ batch). Restart-safe: the
    checkpoint replays unacknowledged batches, and a per-batch commit
    marker under ``<index>/_committed_batches/`` makes the replay a
    no-op — a crash between the parquet append and the checkpoint
    commit re-delivers the batch, sees its marker, and skips the
    double-append. The only remaining window is a crash between the
    append and the marker write (milliseconds vs the append itself),
    the gap a transactional table format (Delta/Iceberg) would close
    on a real deployment.
    """
    import os

    from ..operators import similarity

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        marker_dir = os.path.join(
            index_path.rstrip("/"), "_committed_batches"
        )
        marker = os.path.join(marker_dir, f"batch-{batch_id}")
        if os.path.exists(marker):
            return  # checkpoint replay of an already-applied append
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        batch = batch_df.localCheckpoint(eager=True)
        try:
            spark.read.parquet(index_path.rstrip("/") + "/seeds").first()
            exists = True
        except Exception:  # noqa: BLE001 — first batch: no index yet
            exists = False
        if exists:
            similarity.append_to_ivf_index(batch, index_path)
        elif n_cells is not None:
            similarity.write_ivf_index(batch, index_path, n_cells=n_cells)
        else:
            similarity.write_ivf_index(batch, index_path)
        os.makedirs(marker_dir, exist_ok=True)
        with open(marker, "w") as fh:
            fh.write("committed")

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def start_pq_append_sink(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    m: int | None = None,
    k: int | None = None,
    iters: int = 0,
):
    """writeStream → foreachBatch(frozen-quantizer PQ encode): the
    compressed-vector ingest pipeline, the PQ twin of
    ``start_ivf_append_sink``. The FIRST batch trains the codebook
    (``pq_codebook`` over the batch — deterministic lowest-id seeds,
    optional Lloyd ``iters``) and freezes it under
    ``<store>/codebook``; every later batch encodes against the stored
    codebook (``pq_encode_with`` — exact integer argmin, so a vector's
    codes are identical whether it arrived in batch 1 or batch 100) and
    writes only its own (id, m, code) rows under
    ``<store>/codes/batch-<id>``. Restart-safe via the same per-batch
    commit markers as the IVF sink, and exactly-once on output: a
    replayed batch overwrites its own batch directory, and
    ``read_pq_codes`` reads only marker-committed dirs."""
    import os

    from ..operators import similarity

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        marker_dir = os.path.join(store_path.rstrip("/"), "_committed_batches")
        marker = os.path.join(marker_dir, f"batch-{batch_id}")
        if os.path.exists(marker):
            return  # checkpoint replay of an already-applied append
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        batch = batch_df.localCheckpoint(eager=True)
        cb_path = os.path.join(store_path.rstrip("/"), "codebook")
        codes_path = os.path.join(
            store_path.rstrip("/"), "codes", f"batch-{batch_id}"
        )
        kwargs = {}
        if m is not None:
            kwargs["m"] = m
        if k is not None:
            kwargs["k"] = k
        # Train-and-freeze ONLY when the codebook genuinely does not
        # exist yet. Any other read failure (corrupt file, transient
        # FS/permission error) must propagate so the batch retries —
        # retraining on the current batch would overwrite the frozen
        # codebook and silently invalidate every code already appended
        # against the old one.
        if os.path.exists(cb_path):
            cb = spark.read.parquet(cb_path)
            cb_row = cb.first()
        else:
            dim = len(batch.select("embedding").first()[0])
            cb = similarity.pq_codebook(
                batch, dim=dim, iters=iters, **kwargs
            )
            cb.write.mode("overwrite").parquet(cb_path)
            cb = spark.read.parquet(cb_path)
            cb_row = cb.first()
        # dim from the frozen codebook (m subspaces × subvector width) —
        # no extra per-batch driver job against the data
        m_eff = kwargs.get("m", similarity.PQ_M)
        dim = m_eff * len(cb_row["csub"])
        similarity.pq_encode_with(
            batch, cb, m=m_eff, dim=dim
        ).write.mode("overwrite").parquet(codes_path)
        os.makedirs(marker_dir, exist_ok=True)
        with open(marker, "w") as fh:
            fh.write("committed")

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def start_classifier_score_sink(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    min_df: int | None = None,
):
    """writeStream → foreachBatch(frozen-weights quality scoring): the
    streaming twin of the corpus-trained classifier
    (``textops.classifier_weights`` / ``classifier_score_with``) —
    incoming documents are scored against a FROZEN trained weight table
    and their (doc_id, n_pos, n_neg, logit, pred_good) rows appended, so
    a document's score is identical whether it arrived in batch 1 or
    batch 100 (the same frozen-artifact invariant as the PQ/IVF sinks).

    The FIRST batch cold-starts the model: it trains the weight table on
    itself (its own train hash-split) and freezes it under
    ``<store>/weights``. A production pipeline would normally pre-seed
    that path from the batch trainer over the historical corpus; the
    cold-start exists so the sink is self-contained. As with the PQ sink,
    only a genuinely-missing weights path trains — any other read error
    propagates so the batch retries instead of silently re-training and
    splitting the score stream across two models.

    Exactly-once output: each batch's scores land in their OWN
    batch-id-derived directory with overwrite semantics, so a replayed
    batch (crash after the output commit but before the marker) rewrites
    the same directory instead of appending duplicates; readers
    (``read_classifier_scores``) see only marker-committed batch dirs, so
    a half-written orphan is invisible until its replay completes."""
    import os

    from ..operators import textops

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        marker_dir = os.path.join(store_path.rstrip("/"), "_committed_batches")
        marker = os.path.join(marker_dir, f"batch-{batch_id}")
        if os.path.exists(marker):
            return  # checkpoint replay of an already-applied batch
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        batch = batch_df.localCheckpoint(eager=True)
        weights_path = os.path.join(store_path.rstrip("/"), "weights")
        batch_out = os.path.join(
            store_path.rstrip("/"), "scores", f"batch-{batch_id}"
        )
        if os.path.exists(weights_path):
            weights = spark.read.parquet(weights_path)
        else:
            kwargs = {} if min_df is None else {"min_df": min_df}
            textops.classifier_weights(batch, **kwargs).write.mode(
                "overwrite"
            ).parquet(weights_path)
            weights = spark.read.parquet(weights_path)
        textops.classifier_score_with(batch, weights).write.mode(
            "overwrite"
        ).parquet(batch_out)
        os.makedirs(marker_dir, exist_ok=True)
        with open(marker, "w") as fh:
            fh.write("committed")

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def _committed_batch_paths(store_path: str, sub: str) -> list:
    """Batch output directories under ``<store>/<sub>`` whose commit
    marker exists — the committed prefix of a per-batch-dir sink's log.
    Marker order is irrelevant (readers aggregate/union)."""
    import os

    base = store_path.rstrip("/")
    marker_dir = os.path.join(base, "_committed_batches")
    if not os.path.isdir(marker_dir):
        return []
    return [
        os.path.join(base, sub, name)
        for name in sorted(os.listdir(marker_dir))
        if os.path.isdir(os.path.join(base, sub, name))
    ]


def read_pq_codes(spark: SparkSession, store_path: str) -> DataFrame:
    """Union of every marker-committed batch's PQ code rows — the read
    side of ``start_pq_append_sink``'s per-batch-dir layout."""
    paths = _committed_batch_paths(store_path, "codes")
    if not paths:
        raise FileNotFoundError(
            f"no committed code batches under {store_path}"
        )
    return spark.read.parquet(*paths)


def read_classifier_scores(spark: SparkSession, store_path: str) -> DataFrame:
    """Union of every marker-committed batch's score rows — the read side
    of ``start_classifier_score_sink``'s per-batch-dir exactly-once
    layout (uncommitted orphan dirs are excluded by construction)."""
    paths = _committed_batch_paths(store_path, "scores")
    if not paths:
        raise FileNotFoundError(
            f"no committed score batches under {store_path}"
        )
    return spark.read.parquet(*paths)


def start_anomaly_score_sink(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    k: int = 5,
):
    """writeStream → foreachBatch(frozen-stats robust anomaly scoring):
    the streaming twin of ``events.value_outliers`` — incoming events
    are flagged against a FROZEN per-type median/MAD table
    (``events.robust_value_stats`` / ``score_values_with``), so an
    event's verdict and milli-z are identical whether it arrived in
    batch 1 or batch 100 (the frozen-artifact invariant of the
    PQ/SQ/classifier sinks; online anomaly detection against drifting
    statistics is a different product, re-train by re-seeding the
    store). The FIRST batch cold-starts the stats on itself and freezes
    them under ``<store>/stats``; a production pipeline pre-seeds that
    path from the batch operator over history. Only a genuinely-missing
    stats path trains — any other read error propagates so the batch
    retries instead of silently splitting the score stream across two
    models. Types absent from the frozen table are dropped (the frozen-
    vocabulary discipline). Exactly-once output: per-batch-id dirs with
    overwrite semantics + commit markers; ``read_anomaly_scores`` sees
    only committed dirs."""
    import os

    from ..operators import events as ev_ops

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        marker_dir = os.path.join(store_path.rstrip("/"), "_committed_batches")
        marker = os.path.join(marker_dir, f"batch-{batch_id}")
        if os.path.exists(marker):
            return  # checkpoint replay of an already-applied batch
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        batch = batch_df.localCheckpoint(eager=True)
        stats_path = os.path.join(store_path.rstrip("/"), "stats")
        out_path = os.path.join(
            store_path.rstrip("/"), "scores", f"batch-{batch_id}"
        )
        if os.path.exists(stats_path):
            stats = spark.read.parquet(stats_path)
        else:
            ev_ops.robust_value_stats(batch).write.mode("overwrite").parquet(
                stats_path
            )
            stats = spark.read.parquet(stats_path)
        ev_ops.score_values_with(batch, stats, k).write.mode(
            "overwrite"
        ).parquet(out_path)
        os.makedirs(marker_dir, exist_ok=True)
        with open(marker, "w") as fh:
            fh.write("committed")

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def read_anomaly_scores(spark: SparkSession, store_path: str) -> DataFrame:
    """Union of every marker-committed batch's anomaly rows — the read
    side of ``start_anomaly_score_sink``'s per-batch-dir exactly-once
    layout."""
    paths = _committed_batch_paths(store_path, "scores")
    if not paths:
        raise FileNotFoundError(
            f"no committed anomaly batches under {store_path}"
        )
    return spark.read.parquet(*paths)


def start_sq_append_sink(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
):
    """writeStream → foreachBatch(frozen-grid SQ8 encode): the scalar-
    quantization member of the compressed-vector ingest family (the SQ8
    twin of ``start_pq_append_sink``). The FIRST batch trains the
    per-dimension min/max grid (``similarity.sq_grid`` over the batch)
    and freezes it under ``<store>/grid``; every later batch encodes
    against the stored grid (``sq_encode_with`` — exact floor-over-double
    arithmetic, out-of-range values clamp to [0, 255]) and writes its own
    (id, i, code) rows under ``<store>/codes/batch-<id>``. Same
    exactly-once discipline as the PQ sink: per-batch-dir overwrite +
    commit markers, readers see only committed dirs; only a
    genuinely-missing grid path trains — any other read error propagates
    so the batch retries instead of silently re-training."""
    import os

    from ..operators import similarity

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        marker_dir = os.path.join(store_path.rstrip("/"), "_committed_batches")
        marker = os.path.join(marker_dir, f"batch-{batch_id}")
        if os.path.exists(marker):
            return  # checkpoint replay of an already-applied append
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        batch = batch_df.localCheckpoint(eager=True)
        grid_path = os.path.join(store_path.rstrip("/"), "grid")
        codes_path = os.path.join(
            store_path.rstrip("/"), "codes", f"batch-{batch_id}"
        )
        if os.path.exists(grid_path):
            grid = spark.read.parquet(grid_path)
        else:
            similarity.sq_grid(batch).write.mode("overwrite").parquet(
                grid_path
            )
            grid = spark.read.parquet(grid_path)
        similarity.sq_encode_with(batch, grid).write.mode(
            "overwrite"
        ).parquet(codes_path)
        os.makedirs(marker_dir, exist_ok=True)
        with open(marker, "w") as fh:
            fh.write("committed")

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def read_sq_codes(spark: SparkSession, store_path: str) -> DataFrame:
    """Union of every marker-committed batch's SQ8 code rows — the read
    side of ``start_sq_append_sink``'s per-batch-dir layout."""
    paths = _committed_batch_paths(store_path, "codes")
    if not paths:
        raise FileNotFoundError(
            f"no committed code batches under {store_path}"
        )
    return spark.read.parquet(*paths)


def start_span_census_sink(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    width: int = 6,
):
    """writeStream → foreachBatch(incremental substring-duplication
    census): the streaming twin of ``operators.dedup.duplicated_spans``.

    Each batch folds ITS OWN documents into hashed ``width``-token spans
    and appends one partial-aggregate parquet — (span_md5, n_docs,
    n_occurrences) over just that batch — under ``<store>/parts``. The
    census is never rewritten: per-batch work ∝ batch size, and the
    merge (sum of partials, filter > 1) happens at READ time via
    ``read_span_census`` — the log-append/compact-on-read shape that
    stays O(batch) at any corpus size (a serving deployment would
    periodically compact parts with the same aggregate).

    Correctness contract: a document's rows arrive within one batch
    (append-only corpus, whole-document records — the same assumption
    every sink here makes), so summing per-batch ``COUNT(DISTINCT
    doc_id)`` partials equals the global distinct count.

    Exactly-once output: each batch's partial lands in its OWN
    batch-id-derived directory with overwrite semantics (replay after a
    crash rewrites, never double-appends), and ``read_span_census``
    merges only marker-committed batch dirs.
    """
    import os

    from ..operators.dedup import _span_fold

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        marker_dir = os.path.join(store_path.rstrip("/"), "_committed_batches")
        marker = os.path.join(marker_dir, f"batch-{batch_id}")
        if os.path.exists(marker):
            return  # checkpoint replay of an already-applied batch
        if not batch_df.take(1):
            return
        batch_out = os.path.join(
            store_path.rstrip("/"), "parts", f"batch-{batch_id}"
        )
        spans = batch_df.select(
            "doc_id",
            F.explode(_span_fold(F.col("text"), width)).alias("span"),
        ).filter(F.col("span").isNotNull())
        partial = spans.groupBy(F.md5("span").alias("span_md5")).agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        )
        partial.write.mode("overwrite").parquet(batch_out)
        os.makedirs(marker_dir, exist_ok=True)
        with open(marker, "w") as fh:
            fh.write("committed")

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def read_span_census(spark: SparkSession, store_path: str) -> DataFrame:
    """Merge the per-batch census partials into the corpus-wide
    duplicated-span census — (span_md5, n_docs, n_occurrences), spans
    occurring > 1× only — exactly ``duplicated_spans`` over the union of
    every batch ingested so far. One groupBy over the (sparse) partial
    log (marker-committed batch dirs only); map-side combine absorbs the
    per-batch fan-in. Counts stay LONG end-to-end — a viral span's
    occurrences across batches exceed int32 at the corpus scales this
    sink targets."""
    paths = _committed_batch_paths(store_path, "parts")
    if not paths:
        raise FileNotFoundError(
            f"no committed census batches under {store_path}"
        )
    parts = spark.read.parquet(*paths)
    return (
        parts.groupBy("span_md5")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_occurrences").cast("long").alias("n_occurrences"),
        )
        .filter(F.col("n_occurrences") > 1)
    )
