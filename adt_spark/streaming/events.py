"""Structured Streaming operators over the ``events`` table.

The reference has NO streaming surface (SURVEY.md §2.B Streaming —
execution is strictly batch, main.rs:20 collect()); this module is
the M7 extension (SURVEY.md §7 step 8): the same event analytics
expressed as an unbounded computation with watermarks, so the engine
covers the streaming half of a training-data pipeline (log ingest,
rolling quality metrics).

Scale posture: tumbling-window aggregation state is keyed by
(window, event_type) — bounded keys; the watermark bounds state
retention; ``session_window`` distributes per-user session state.
The parquet directory stands in for a real source (Kafka/queue) —
``readStream`` semantics are identical.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from adt_spark.context import parquet_schema, read_parquet
from adt_spark.operators.memo import memoize
from adt_spark.queries import register, tables


def streaming_events_schema(ts_type: T.DataType | None = None) -> T.StructType:
    """events schema for readStream (streams can't infer).

    ``ts_type`` is the physical type the batch reader sees for ``ts``
    — TimestampType for TIMESTAMP(MICROS) files, LongType when the
    file carries TIMESTAMP(NANOS) (read as epoch-nanos via
    nanosAsLong).  Defaults to TimestampType.
    """
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type or T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _stream_glob(path: str) -> str:
    """FileStreamSource needs a directory/glob, not a bare file path —
    the one glob derivation every file-backed stream here uses."""
    if os.path.isdir(path):
        return path
    return os.path.join(
        os.path.dirname(path), os.path.basename(path).split(".")[0] + ".*"
    )


def _open_events_stream(spark: SparkSession, events_path: str) -> DataFrame:
    """readStream over the events file/directory, normalizing ``ts``
    to TimestampType whatever the file's physical timestamp encoding.

    One batch footer read picks the schema (streams can't infer); a
    nanos-encoded ``ts`` (epoch-long under nanosAsLong) is converted
    by exact integer DIV — sub-µs is zero in the data.
    """
    path = _stream_glob(events_path)
    ts_type = parquet_schema(spark, events_path)["ts"].dataType
    stream = (
        spark.readStream.schema(streaming_events_schema(ts_type))
        .format("parquet")
        .load(path)
    )
    if isinstance(ts_type, T.LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def windowed_counts_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """Unbounded plan: 1-hour tumbling windows per event_type with a
    2-hour watermark for late data."""
    stream = _open_events_stream(spark, events_dir)
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(T.DecimalType(12, 2))).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register("streaming_events_windowed", oracle=None, tags=("streaming",))
def streaming_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the windowed-count stream over the events directory to
    completion (memory sink, processAllAvailable) and return the
    result — the driver's rows-only check exercises the full
    readStream → watermark → window-agg → sink path.

    (No SQL oracle: streaming triggers/watermarks are not
    SQL-expressible; the batch equivalent q_events_hourly_rollup IS
    oracle-checked, and test_streaming.py asserts stream/batch
    agreement, which is the stronger guarantee.)
    """
    tables(spark, sf_dir)  # registers views; also validates layout
    events_path = os.path.join(sf_dir, "events.parquet")
    return _drain_to_memory(windowed_counts_stream(spark, events_path), spark, "complete")


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events directory with µs timestamps."""
    return _open_events_stream(spark, os.path.join(sf_dir, "events.parquet"))


def _drain_to_memory(df: DataFrame, spark: SparkSession, mode: str) -> DataFrame:
    """Run ``df`` to completion into a memory sink and return the sink
    table.  The caller needs the table alive, so it is held in the
    session memo registry, whose ``clear()`` drops the view."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"

    def drain() -> DataFrame:
        q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return spark.table(name)

    return memoize(
        spark, None, ("stream_sink", name), drain,
        release=lambda: spark.catalog.dropTempView(name),
    )


@register("streaming_events_sliding", oracle=None, tags=("streaming",))
def streaming_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window rolling metrics: 2-hour windows every 30 minutes
    per event_type, 2-hour watermark.  Each event lands in 4
    overlapping windows — the rolling-quality-metric shape of a
    training-data ingest monitor.  State is (window × type)-keyed and
    watermark-bounded.  (Rows-only check: triggers aren't
    SQL-expressible; test_streaming.py pins stream ≡ batch window().)
    """
    tables(spark, sf_dir)
    out = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "2 hours", "30 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events")
    )
    return _drain_to_memory(out, spark, "complete")


@register("streaming_events_session_window", oracle=None, tags=("streaming",))
def streaming_events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows: per-user sessions closed by 30 minutes
    of inactivity (F.session_window + watermark) — merge-able session
    state distributed by user_id.  (Rows-only; test_streaming.py pins
    it to the batch session_window equivalent.)"""
    tables(spark, sf_dir)
    out = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    return _drain_to_memory(out, spark, "complete")


@register("streaming_user_totals_stateful", oracle=None, tags=("streaming", "stateful"))
def streaming_user_totals_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a
    per-user running (event count, value sum, last seen) accumulator —
    the arbitrary-state API a pipeline needs when windows can't
    express the logic (e.g. cross-session counters, dedup-by-key
    with TTL).

    State is one small tuple per user_id, hash-distributed; Arrow
    batches stream per group.  The emitted totals equal the batch
    groupBy (test_streaming.py asserts it), proving the state
    transition function is exact.
    """
    import pandas as pd  # noqa: F401

    tables(spark, sf_dir)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double, last_seen timestamp"
    state_schema = "n long, total double, last timestamp"

    def update(key, pdfs, state: GroupState):
        n, total, last = state.get if state.exists else (0, 0.0, None)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            m = pdf["ts"].max()
            last = m if last is None or m > last else last
        state.update((n, total, last))
        import pandas as pd

        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n],
             "total_value": [total], "last_seen": [last]}
        )

    out = (
        _events_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "Update", GroupStateTimeout.NoTimeout
        )
    )
    return _drain_to_memory(out, spark, "update")


@register("streaming_dedup_events", oracle=None, tags=("streaming", "dedup"))
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup via ``dropDuplicatesWithinWatermark``:
    collapse at-least-once delivery / retry storms to one event per
    (user_id, event_type, minute).  State holds one key per group and
    the watermark bounds its retention — the always-on analog of the
    batch ``dedup_exact`` operator, and the first stage of a streaming
    training-data ingest.

    Output is the surviving key set (which physical row survives a
    collapse is nondeterministic, so the deterministic surface — and
    what test_streaming.py pins to batch distinct — is the keys).
    """
    tables(spark, sf_dir)
    out = (
        _events_stream(spark, sf_dir)
        .withColumn("minute", F.date_trunc("minute", F.col("ts")))
        .withWatermark("minute", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "minute"])
        .select("user_id", "event_type", "minute")
    )
    return _drain_to_memory(out, spark, "append")


@register("streaming_interval_join", oracle=None, tags=("streaming", "join"))
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's clicks in the preceding hour.  Both sides carry watermarks,
    and the join condition bounds event-time distance, so Spark can
    size and expire the two-sided join state — the scale-correct
    stream-stream shape (unbounded-state joins never survive
    production).  Batch-agreement is pinned by test_streaming.py
    against the equivalent batch range join.
    """
    tables(spark, sf_dir)
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        (F.unix_micros(F.col("p_ts").cast("timestamp"))
         - F.unix_micros(F.col("c_ts").cast("timestamp"))).alias("delta_us"),
    )
    return _drain_to_memory(joined, spark, "append")


@register("streaming_enriched_purchases", oracle=None, tags=("streaming", "join"))
def streaming_enriched_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joined to the
    static ``customer`` dimension (user_id → customer row) — the
    canonical "enrich the log with reference data" streaming shape.

    Scale posture: the static side is a broadcast hash join per
    micro-batch (re-resolved each batch, so dimension updates are
    picked up); NO streaming state is held at all — this is the
    cheapest streaming join and the one to prefer over stream-stream
    whenever one side is slowly-changing reference data.

    Batch-agreement: pinned by tests/test_streaming.py to the same
    join expressed in batch (driver records rows-only).
    """
    customers = tables(spark, sf_dir)["customer"].select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    stream = _events_stream(spark, sf_dir)
    enriched = (
        stream.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(customers), stream.user_id == customers.c_custkey, "left")
        .select(
            "event_id",
            "user_id",
            F.col("c_mktsegment").alias("segment"),
            F.col("value").cast(T.DecimalType(12, 2)).cast("double").alias("value"),
        )
    )
    return _drain_to_memory(enriched, spark, "append")


@register("streaming_delta_ingest", oracle=None, tags=("streaming", "delta", "sink"))
def streaming_delta_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming → Delta Lake ingest: the event stream's hourly rollup
    written to a Delta table per micro-batch via ``foreachBatch`` +
    the native protocol writer — the lakehouse landing pattern every
    large pipeline ships (stream in, ACID table out), end-to-end with
    zero extra jars.

    ``foreachBatch`` is the right sink shape here: the rollup is an
    aggregation in complete mode, so each batch overwrites the table
    with an atomic native-writer commit (create → overwrite versions);
    readers always see a consistent snapshot, never a half-written
    batch.  Returns the final table contents read back through the
    native Delta reader (rows-only check; test_streaming.py pins the
    round-trip against the oracle-checked batch rollup).
    """
    import shutil
    import tempfile

    from adt_spark.sources.delta_native import read_delta_native
    from adt_spark.sources.delta_native_write import write_delta_native

    tables(spark, sf_dir)
    out_dir = tempfile.mkdtemp(prefix="stream_delta_")
    # the returned table reads from out_dir: held until memo.clear()
    memoize(
        spark, None, ("stream_scratch", out_dir), lambda: out_dir,
        release=lambda: shutil.rmtree(out_dir, ignore_errors=True),
    )
    target = os.path.join(out_dir, "hourly_rollup")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # complete mode re-emits the whole rollup each batch → each
        # commit overwrites (the writer creates the table on first use).
        # txn=(app, batch_id) is delta-spark's foreachBatch idempotency
        # recipe (txnAppId/txnVersion): a batch re-delivered after a
        # restart skips instead of double-committing — exactly-once.
        write_delta_native(
            batch_df, target, mode="overwrite", txn=("stream-hourly", batch_id)
        )

    q = (
        windowed_counts_stream(spark, os.path.join(sf_dir, "events.parquet"))
        .writeStream.outputMode("complete")
        .foreachBatch(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return read_delta_native(spark, target)


@register("streaming_docs_dedup_ingest", oracle=None, tags=("streaming", "dedup"))
def streaming_docs_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental dedup — the ingest-time counterpart of
    the batch ``dedup_incremental`` operator: a stream of arriving
    documents (here: the doc_id % 10 == 0 slice of the documents
    table, standing in for today's crawl) is admitted only if its
    normalized content hash is (a) absent from the EXISTING corpus and
    (b) not already admitted earlier in the stream.

    Scale posture: the corpus-hash side is a stream-static LEFT ANTI
    equi-join — NOT force-broadcast, because the corpus hash set grows
    with the corpus (10 B docs ≈ 160 GB of hashes); per micro-batch
    the planner shuffles or runtime-broadcasts it on measured size (at
    real scale this side is a Delta hash-index table that compaction
    keeps fresh).  Within-stream dedup is ``dropDuplicates`` keyed on
    the 128-bit content hash — uniform state, no skew.  Content
    hashing stays in the JVM.

    Batch-agreement: tests/test_streaming.py pins the admitted hash
    set to the batch dedup_incremental admit set (driver records
    rows-only).
    """
    docs_path = os.path.join(sf_dir, "documents.parquet")
    corpus = read_parquet(spark, docs_path)
    static_schema = corpus.schema
    chash = F.md5(F.lower(F.trim(F.col("text"))))
    corpus_hashes = (
        corpus.filter(F.col("doc_id") % 10 != 0)
        .select(chash.alias("chash"))
        .distinct()
    )
    glob = _stream_glob(docs_path)
    stream = (
        spark.readStream.schema(static_schema)
        .parquet(glob)
        .filter(F.col("doc_id") % 10 == 0)
    )
    admitted = (
        stream.withColumn("chash", chash)
        .join(corpus_hashes, "chash", "left_anti")
        .dropDuplicates(["chash"])
        .select("doc_id", "chash")
    )
    return _drain_to_memory(admitted, spark, "append")


@register(
    "streaming_docs_neardup_ingest", oracle=None, tags=("streaming", "dedup", "lsh")
)
def streaming_docs_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-duplicate flagging at ingest — the MinHash-LSH
    counterpart of ``streaming_docs_dedup_ingest``'s exact-hash gate:
    each arriving document (the doc_id % 10 == 0 slice standing in
    for today's crawl) is banded with the SAME 12-permutation /
    4-band pipeline as the batch ``dedup_minhash_lsh`` (shared
    ``band_keys_projection``), and a stream-static equi-join on the
    band bucket key flags every (new_doc, corpus_doc) candidate pair
    the batch banding would produce — online, per micro-batch,
    without waiting for the nightly dedup run.

    Scale posture: the static side is the corpus band index (4 rows ×
    corpus — at real scale a maintained Delta table, refreshed by the
    batch pipeline) joined on the uniform md5 band key, NEVER
    force-broadcast; the stream side pays one banding projection per
    arriving row (pure array algebra, JVM-only) and the band join is
    the identical equi-join shape the batch operator shuffles on.
    dropDuplicates keys on the candidate PAIR — state bounded by true
    candidates, not the corpus.  Downstream, flagged pairs feed the
    same verify-then-cluster path as the batch operator; banding at
    r=3 rows/band keeps the candidate fan-out at the calibrated
    S-curve rate (dedup_minhash_calibration measures it).

    Batch-agreement: tests/test_streaming.py pins the flagged pair
    set to the identical batch band join over the same slice split
    (driver records rows-only).
    """
    from adt_spark.operators.dedup import band_keys_projection

    docs_path = os.path.join(sf_dir, "documents.parquet")
    corpus = read_parquet(spark, docs_path)
    static_schema = corpus.schema
    corpus_bands = band_keys_projection(
        corpus.filter(F.col("doc_id") % 10 != 0)
    ).withColumnRenamed("doc_id", "corpus_doc_id")
    stream = (
        spark.readStream.schema(static_schema)
        .parquet(_stream_glob(docs_path))
        .filter(F.col("doc_id") % 10 == 0)
    )
    flagged = (
        band_keys_projection(stream)
        .join(corpus_bands, "band_key")
        .select("doc_id", "corpus_doc_id")
        .dropDuplicates(["doc_id", "corpus_doc_id"])
    )
    return _drain_to_memory(flagged, spark, "append")


@register("streaming_anomaly_alerts", oracle=None, tags=("streaming", "anomaly"))
def streaming_anomaly_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming 3-sigma anomaly alerting: per-type thresholds are
    computed ONCE from the historical batch (the exact moments of
    q_events_anomaly — decimal-exact sums), broadcast as a static
    side, and the live stream emits only the events crossing its
    type's threshold — the standard "train thresholds offline, alert
    online" monitoring split.

    Scale posture: thresholds are a per-type row (a handful of
    values), so the stream side carries ZERO state — no watermark, no
    aggregation buffers; each micro-batch is a broadcast join + scan
    filter.  Threshold refresh = re-run the batch moments and the
    next micro-batch picks them up (the stream-static re-resolution
    contract, as streaming_enriched_purchases).

    Batch-agreement: tests/test_streaming.py pins the drained alert
    set to the oracle-checked q_events_anomaly batch output.
    """
    from adt_spark.queries.events import anomaly_thresholds

    ev = tables(spark, sf_dir)["events"]
    # the SAME per-type moments/threshold derivation the oracle-checked
    # batch operator uses — the pinned stream/batch pair cannot drift
    thresholds = anomaly_thresholds(ev)
    stream = _events_stream(spark, sf_dir)
    v = F.col("value").cast(T.DecimalType(12, 2)).cast("double")
    alerts = (
        stream.join(F.broadcast(thresholds), "event_type")
        .filter(F.abs(v - F.col("mean")) > 3.0 * F.col("std"))
        .select(
            "event_id",
            "event_type",
            v.alias("value"),
            F.try_divide(v - F.col("mean"), F.col("std")).alias("zscore"),
        )
    )
    return _drain_to_memory(alerts, spark, "append")


@register("streaming_m4_downsample", oracle=None, tags=("streaming", "downsample"))
def streaming_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming M4 downsampling: the q_events_m4_downsample rollup
    (per-bucket min/max/first/last — Jugel et al. 2014) as an
    unbounded computation — the live-dashboard half of the operator.

    6-hour tumbling windows (epoch-aligned, so window.start/width ==
    the batch bucket key) with a 12-hour watermark; all four stats
    are decomposable aggregates, so streaming state per window is
    four scalars + the count — bounded by |open windows|, not rows.

    (No SQL oracle: watermarked triggers are not SQL-expressible;
    the batch equivalent IS oracle-checked, and test_streaming.py
    pins stream == batch, the stronger guarantee.)
    """
    from adt_spark.queries.events import _M4_W_US

    tables(spark, sf_dir)
    stream = _events_stream(spark, sf_dir)
    ordkey = F.format_string(
        "%020d%012d", F.unix_micros(F.col("ts")), F.col("event_id")
    )
    agg = (
        stream.select("ts", "event_id", "value", ordkey.alias("ord"))
        .withWatermark("ts", "12 hours")
        .groupBy(F.window("ts", "6 hours").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
            F.expr("min_by(value, ord)").alias("v_first"),
            F.expr("max_by(value, ord)").alias("v_last"),
        )
        .select(
            (F.unix_micros(F.col("win.start")) / F.lit(_M4_W_US))
            .cast("bigint")
            .alias("bucket"),
            "n_points",
            "v_min",
            "v_max",
            "v_first",
            "v_last",
        )
    )
    return _drain_to_memory(agg, spark, "complete")


#: fixed-point scale for streaming quality scores (2^40): cross-row
#: float sums are shuffle-order-nondeterministic, so the stream (and
#: its batch pin) accumulate floor(c·2⁴⁰) as exact integers.
_SQ_FP = 1099511627776.0


def quality_scored_ingest(
    docs_static: DataFrame,
    arriving: DataFrame,
    ratios: DataFrame | None = None,
) -> DataFrame:
    """Score ``arriving`` documents with term ratios TRAINED on
    ``docs_static`` (quality.weaklabel_term_ratios — the shared model
    derivation): explode to tokens, stream-static equi-join the
    vocab-scale ratio table on the uniform term key (NEVER
    force-broadcast — vocab grows with the corpus), and fold each
    doc's known-token ratios in tie-free fixed point.  Output:
    (doc_id, n_known_tokens, score, admit).  EVERY arriving document
    gets a verdict: tokens absent from the trained vocab contribute
    nothing (LEFT join), and a document with zero known tokens is
    REJECTED explicitly (score NULL, admit false — a gate that cannot
    judge novel vocabulary must say so, not drop the doc).  The ratio
    table is localCheckpointed once at build time so a streaming
    consumer does not retrain the model every micro-batch (Structured
    Streaming re-executes static sides per batch).  Shared by the
    streaming operator and its batch pin so derivation parity is by
    construction.  ``ratios`` may be passed precomputed so a caller
    scoring TWO sides under one model (the threshold-gated ingest
    trains the cut offline and deploys it online) checkpoints the
    ratio table once."""
    from adt_spark.operators.quality import weaklabel_term_ratios

    if ratios is None:
        ratios = weaklabel_term_ratios(docs_static).localCheckpoint(eager=False)
    toks = arriving.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    scored = (
        toks.join(ratios, "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count("c").alias("n_known_tokens"),  # unseen tokens: c NULL
            F.sum(F.floor(F.col("c") * _SQ_FP).cast("decimal(38,0)")).alias(
                "s_fp"
            ),
        )
    )
    score = F.when(
        F.col("n_known_tokens") > 0,
        F.col("s_fp").cast("double")
        / (F.col("n_known_tokens").cast("double") * _SQ_FP),
    )
    return scored.select(
        "doc_id",
        "n_known_tokens",
        score.alias("score"),
        F.coalesce(score > F.lit(1.0), F.lit(False)).alias("admit"),
    )


@register(
    "streaming_docs_quality_ingest",
    oracle=None,
    tags=("streaming", "quality", "classifier"),
)
def streaming_docs_quality_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quality gating at ingest with the TRAINED weak-label
    classifier — the model-scored counterpart of
    streaming_anomaly_alerts' fixed thresholds: the naive-Bayes token
    ratios are trained ONCE on the existing corpus (the doc_id % 10
    != 0 slice), and each arriving document (the % 10 == 0 slice
    standing in for today's crawl) is admitted iff its mean
    known-token ratio clears 1.0 — train offline, score online, the
    CCNet/RefinedWeb filter deployed at the ingest edge.

    Scale posture: the static side is the VOCAB-SCALE ratio table
    joined on the uniform term key (never force-broadcast; at real
    scale a Delta model table the batch trainer refreshes); the
    stream pays one explode + the equi-join per micro-batch, and the
    per-doc aggregation state is two exact integers per in-flight
    document (complete-mode rollup here; a production sink would
    window it).  Scores accumulate in fixed point (floor(c·2⁴⁰) as
    DECIMAL) so admit decisions are shuffle-order-deterministic —
    the batch pin asserts exact equality.

    Batch-agreement: tests/test_streaming.py pins (doc_id, n, score,
    admit) to the identical batch derivation over the same slice
    split via the shared ``quality_scored_ingest`` builder (driver
    records rows-only).
    """
    docs_path = os.path.join(sf_dir, "documents.parquet")
    docs = read_parquet(spark, docs_path)
    static_schema = docs.schema
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    stream = (
        spark.readStream.schema(static_schema)
        .parquet(_stream_glob(docs_path))
        .filter(F.col("doc_id") % 10 == 0)
    )
    return _drain_to_memory(
        quality_scored_ingest(corpus, stream), spark, "complete"
    )


def threshold_gated_ingest(
    docs_static: DataFrame, arriving: DataFrame
) -> DataFrame:
    """Admit ``arriving`` documents iff their quality score clears
    their SOURCE'S trained threshold — the per-source CCNet cut
    (quality_threshold_select's rule) deployed at the ingest edge.
    Training is fully offline and self-consistent: the static corpus
    is scored under its OWN ratio model with the STREAM'S scoring
    function (quality_scored_ingest with the shared ratio table —
    known-token mean, fixed-point fold), scores pair with the
    rule-gate weak labels, and quality.select_thresholds picks the
    per-source agreement-maximizing cut (NULL-score docs — nothing
    known to judge — are excluded from training; online they are
    rejected as before).  Online, the bounded (source, threshold)
    model table joins the stream ONCE at doc level BEFORE the token
    explode and rides the group key through the fold — a join after
    a streaming aggregation is unsupported, and this shape needs
    none.  A document from a source unseen in training falls back to
    the global 1.0 ratio gate.  Output: (doc_id, source, threshold,
    n_known_tokens, score, admit)."""
    from adt_spark.operators.quality import (
        select_thresholds,
        weak_label_col,
        weaklabel_term_ratios,
    )

    ratios = weaklabel_term_ratios(docs_static).localCheckpoint(eager=False)
    static_scores = quality_scored_ingest(
        docs_static, docs_static, ratios=ratios
    )
    lab = docs_static.select(
        "doc_id", "source", weak_label_col().alias("good")
    )
    s = (
        static_scores.join(lab, "doc_id")
        .filter(F.col("score").isNotNull())
        .select("source", "score", "good")
    )
    th = (
        select_thresholds(s)
        .select("source", "threshold")
        .localCheckpoint(eager=False)
    )
    arr = arriving.join(th, "source", "left")
    toks = arr.select(
        "doc_id",
        "source",
        "threshold",
        F.explode(F.split("text", " ")).alias("term"),
    )
    scored = (
        toks.join(ratios, "term", "left")
        .groupBy("doc_id", "source", "threshold")
        .agg(
            F.count("c").alias("n_known_tokens"),
            F.sum(F.floor(F.col("c") * _SQ_FP).cast("decimal(38,0)")).alias(
                "s_fp"
            ),
        )
    )
    score = F.when(
        F.col("n_known_tokens") > 0,
        F.col("s_fp").cast("double")
        / (F.col("n_known_tokens").cast("double") * _SQ_FP),
    )
    return scored.select(
        "doc_id",
        "source",
        "threshold",
        "n_known_tokens",
        score.alias("score"),
        F.coalesce(
            score > F.coalesce(F.col("threshold"), F.lit(1.0)), F.lit(False)
        ).alias("admit"),
    )


@register(
    "streaming_docs_threshold_ingest",
    oracle=None,
    tags=("streaming", "quality", "classifier", "threshold"),
)
def streaming_docs_threshold_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source threshold gating at ingest — the deployment of the
    round-6 quality_threshold_select loop to the streaming edge:
    streaming_docs_quality_ingest admits on the global ratio>1 gate,
    this op admits each arriving document against the trained cut of
    ITS source (thresholds selected offline over the static corpus
    scored with the stream's own scoring function, so selection and
    deployment share one derivation by construction).

    Scale posture: the ratio table is the vocab-scale stream-static
    equi-join (never force-broadcast); the threshold table is a
    BOUNDED |sources|-row model join paid once per micro-batch at
    doc level; per-doc state is the same two exact integers as the
    ungated ingest.  Fixed-point accumulation keeps admit decisions
    shuffle-order-deterministic; tests/test_streaming.py pins
    (doc_id, source, threshold, n, score, admit) to the identical
    batch derivation over the same slice split (driver records
    rows-only).
    """
    # the arriving slice is doc_id % 7 (NOT the % 10 the ungated
    # ingest uses): the fixture's source is doc_id % 20, so a % 10
    # split would put two whole sources into the stream with ZERO
    # training docs — every threshold would be the fallback and the
    # per-source gate untested; % 7 is coprime to 20, so every source
    # appears on both sides
    docs_path = os.path.join(sf_dir, "documents.parquet")
    docs = read_parquet(spark, docs_path)
    static_schema = docs.schema
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    stream = (
        spark.readStream.schema(static_schema)
        .parquet(_stream_glob(docs_path))
        .filter(F.col("doc_id") % 7 == 0)
    )
    return _drain_to_memory(
        threshold_gated_ingest(corpus, stream), spark, "complete"
    )


@register("streaming_priority_sample", oracle=None, tags=("streaming", "sampling"))
def streaming_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming WEIGHTED SAMPLING at the ingest edge: maintain each
    source's k-smallest priority keys (Duffield–Lund–Thorup
    ``u / w`` — the deterministic md5 draw q_priority_sample uses)
    as arriving documents stream in.  Priority sampling is the
    textbook ONE-PASS weighted-sample-without-replacement, so its
    streaming deployment is the natural one: the running sample is
    always exactly the sample the batch operator would select over
    everything seen so far — tests/test_streaming.py pins the final
    per-source state to q_priority_sample's batch answer.

    Scale posture: the key is a row-local JVM projection (md5 +
    one division) BEFORE the stateful operator; state is a bounded
    k-tuple of (key, doc_id, n_chars) per source, hash-distributed
    by group — never a corpus-sized buffer; each micro-batch merges
    its rows into the heap in one Arrow pass.
    """
    import os

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from adt_spark.operators.sampling import _PRIO_K

    tables(spark, sf_dir)
    docs_path = os.path.join(sf_dir, "documents.parquet")
    schema = parquet_schema(spark, docs_path)
    frac32 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("prio-"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    stream = (
        spark.readStream.schema(schema)
        .parquet(_stream_glob(docs_path))
        .filter(F.col("n_chars") > 0)
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            (frac32.cast("double") / F.col("n_chars").cast("double")).alias(
                "prio_key"
            ),
        )
    )
    out_schema = (
        "source string, doc_id long, n_chars long, prio_key double, rn int"
    )
    state_schema = "ks array<double>, ids array<long>, ws array<long>"
    k = _PRIO_K

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        rows = list(zip(*state.get)) if state.exists else []
        for pdf in pdfs:
            rows += list(
                zip(pdf["prio_key"], pdf["doc_id"], pdf["n_chars"])
            )
        rows = sorted(rows, key=lambda t: (t[0], t[1]))[:k]
        state.update((
            [float(r[0]) for r in rows],
            [int(r[1]) for r in rows],
            [int(r[2]) for r in rows],
        ))
        yield pd.DataFrame(
            {
                "source": [key[0]] * len(rows),
                "doc_id": [int(r[1]) for r in rows],
                "n_chars": [int(r[2]) for r in rows],
                "prio_key": [float(r[0]) for r in rows],
                "rn": list(range(1, len(rows) + 1)),
            }
        )

    out = stream.groupBy("source").applyInPandasWithState(
        update, out_schema, state_schema, "Update", GroupStateTimeout.NoTimeout
    )
    return _drain_to_memory(out, spark, "update")
