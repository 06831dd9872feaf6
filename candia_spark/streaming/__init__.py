"""Structured Streaming extension over the ``events`` table.

The reference has no streaming surface (SURVEY.md §2.9): its RT "windows"
are static batch bucketizations. This module is the §7-step-8 extension —
the same event-time semantics the batch operators compute (sessionization
q37, time buckets q04) expressed as incremental streams, so a 100 TB
backfill (batch) and the live tail (stream) share one definition.

Design for scale:
- Event-time + watermark everywhere: state is bounded by the watermark
  delay, not by stream length. Without a watermark, windowed state grows
  forever on a real cluster.
- ``session_window`` is Spark's native gap-session operator (state merges
  are handled by the engine); ``applyInPandasWithState`` is the escape
  hatch for semantics the built-ins lack (here: per-user running totals
  with idle-timeout flush, the canonical custom stateful op).
- File source with ``maxFilesPerTrigger`` gives deterministic replay in
  tests; on a cluster the same code points at Kafka by swapping
  ``readStream.format``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

# Nominal schema of the events parquet when ``ts`` reads as long nanos
# (Spark <= 4.0 with spark.sql.legacy.parquet.nanosAsLong). On Spark 4.1+
# the same file reads ``ts`` as timestamp_ntz, so ``events_stream`` infers
# the schema from the files instead of trusting this constant; it remains
# exported for callers constructing synthetic long-ts event frames.
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def with_event_time(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Attach a proper TimestampType ``event_time`` from ``ts``.

    Schema-adaptive: accepts long nanoseconds (legacy nanosAsLong read) or
    timestamp / timestamp_ntz (Spark 4.1+ native TIMESTAMP(NANOS) read,
    micro precision). Both land on the same micro-exact event_time, so the
    streaming operators are insensitive to which Spark read the files.
    """
    dt = df.schema[ts_col].dataType
    if isinstance(dt, LongType):
        ev = F.timestamp_micros(F.expr(f"{ts_col} div 1000"))
    elif isinstance(dt, (TimestampType, TimestampNTZType)):
        # Session tz is UTC, so ntz -> ltz cast is instant-preserving.
        ev = F.col(ts_col).cast("timestamp")
    else:
        raise TypeError(f"{ts_col} has unsupported event-time type {dt}")
    return df.withColumn("event_time", ev)


def events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source event stream (one micro-batch per file when
    ``max_files_per_trigger=1`` — deterministic replay for tests).

    Streaming file sources require an explicit schema; rather than pin one
    (it differs across Spark versions for TIMESTAMP(NANOS) columns), take
    it from a metadata-only batch read of the same path — the stream then
    always matches what this Spark actually decodes. A source directory
    with no files yet (the normal deployment order: define the stream,
    start it, let producers write) has nothing to infer from, so that
    case falls back to the nominal long-ts EVENTS_SCHEMA instead of
    failing at stream-definition time.

    OPERATOR NOTE on the empty-dir fallback: the fallback schema types
    ``ts`` as long nanos, which only suits producers writing long-ts
    files. On Spark 4.1+ (where TIMESTAMP(NANOS) parquet reads as
    timestamp_ntz and ``nanosAsLong`` no-ops), a stream defined over an
    empty dir whose producers later write timestamp-typed files will hit
    a schema mismatch at micro-batch time — restart the stream once files
    exist so the schema is re-inferred from real data. Only the
    "can't infer schema" AnalysisException triggers the fallback; genuine
    read errors (permissions, bad path) still raise at definition time.
    """
    from pyspark.errors import AnalysisException

    try:
        schema = spark.read.parquet(path).schema
    except AnalysisException as exc:
        # Only the empty/not-yet-populated case falls back; anything else
        # (PATH_NOT_FOUND for a bad path, permission errors) fails loudly
        # at definition time instead of masquerading as the empty-dir case.
        if "UNABLE_TO_INFER_SCHEMA" not in str(exc):
            raise
        schema = EVENTS_SCHEMA
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return with_event_time(reader.parquet(path))


def windowed_counts(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling event-time window counts per event_type with late-data
    bound ``watermark``. Works identically on a batch DataFrame (the
    watermark is a no-op there) — the batch/stream parity contract."""
    df = events
    if events.isStreaming:
        df = events.withWatermark("event_time", watermark)
    return (
        df.groupBy(F.window("event_time", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Native gap-based session windows per user (merges handled by the
    engine's session-window state store). Batch-compatible."""
    df = events
    if events.isStreaming:
        df = events.withWatermark("event_time", watermark)
    return (
        df.groupBy(F.session_window("event_time", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def dedup_stream(
    events: DataFrame,
    watermark: str = "30 minutes",
    key_cols: tuple[str, ...] = ("event_type", "props"),
) -> DataFrame:
    """Streaming exact dedup: keep the first event per content digest.

    The streaming face of ``operators.dedup.exact_dedup``: arriving rows
    are keyed by a digest of ``key_cols`` and duplicates within the
    watermark horizon are dropped. ``dropDuplicatesWithinWatermark``
    (not plain ``dropDuplicates``) is what makes this viable on an
    unbounded stream: digest state is EVICTED once the watermark passes
    it, so state size is bounded by (dup horizon x arrival rate), not by
    stream length — the same state-bounding stance as the windowed aggs
    above. Duplicates farther apart than the watermark pass through; at
    100 TB/day that tail is the batch compaction job's business, not the
    online path's.

    Batch-compatible: on a batch DataFrame this is a global
    ``dropDuplicates`` on the digest (the watermark bound is moot when
    the whole input is visible at once).
    """
    digest = F.md5(F.concat_ws("\x1f", *key_cols)).alias("digest")
    if not events.isStreaming:
        return events.select("*", digest).dropDuplicates(["digest"])
    return (
        events.withWatermark("event_time", watermark)
        .select("*", digest)
        .dropDuplicatesWithinWatermark(["digest"])
    )


RUNNING_TOTALS_STATE = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)
RUNNING_TOTALS_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("flushed_by_timeout", StringType()),
    ]
)


def running_totals_stateful(
    events: DataFrame, idle_timeout_ms: int | None = None
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (count, sum[value]) emitted every micro-batch; with
    ``idle_timeout_ms`` set, state is flushed+cleared after that much
    processing-time inactivity.

    This is the template for operators the built-ins can't express
    (per-key model state, decaying counters, cross-batch dedup windows):
    state is a tiny tuple per key, updates are Arrow-batched pandas.

    ``idle_timeout_ms=None`` (NoTimeout) is what bounded drains
    (``availableNow`` backfills) should use: with ProcessingTimeTimeout
    registered, Spark keeps scheduling micro-batches until every pending
    timeout has fired, so an availableNow query stays alive ~forever on
    idle input. Timeouts belong to continuously-running queries only.
    """
    import pandas as pd  # executor-side

    def update(key, pdf_iter, state):
        (user_id,) = key
        if state.hasTimedOut:
            n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [n],
                    "total_value": [total],
                    "flushed_by_timeout": ["yes"],
                }
            )
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "total_value": [total],
                "flushed_by_timeout": ["no"],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_TOTALS_OUT,
        stateStructType=RUNNING_TOTALS_STATE,
        outputMode="update",
        timeoutConf=(
            "ProcessingTimeTimeout" if idle_timeout_ms is not None else "NoTimeout"
        ),
    )


def write_dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_path: str,
    *,
    corpus_bands: DataFrame,
    corpus_sets: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 16,
    n: int = 2,
) -> None:
    """Idempotent per-micro-batch sink for :func:`incremental_dedup_stream`
    (module-level so the replay behavior is directly testable).

    The verified near-dup pairs of ``batch_df`` land under the
    ``_batch_id=<batch_id>`` partition of ``out_path`` via dynamic
    partition overwrite: re-running the same (deterministic) batch
    replaces its own partition byte-for-byte and touches no other
    partition, which is what turns foreachBatch's at-least-once delivery
    into an exactly-once sink. Readers either prune or drop the
    ``_batch_id`` column.

    Operational note: a batch that yields ZERO pairs writes no files, so
    if every batch so far was pair-free the output path has no parquet
    footers yet — readers that may race the first pairs should pass an
    explicit schema instead of relying on inference.
    """
    from candia_spark.operators.dedup import incremental_near_dups

    pairs = incremental_near_dups(
        batch_df,
        None,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        n=n,
        corpus_bands=corpus_bands,
        corpus_sets=corpus_sets,
    )
    (
        pairs.withColumn("_batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(out_path)
    )


def incremental_dedup_stream(
    docs_stream: DataFrame,
    corpus_bands: DataFrame,
    corpus_sets: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 16,
    n: int = 2,
) -> None:
    """Streaming ingestion dedup: every arriving micro-batch of documents
    is checked against the PERSISTED corpus state
    (:func:`candia_spark.operators.dedup.incremental_corpus_state` bands +
    sets, reloaded from parquet) and the verified near-dup pairs are
    appended to ``out_path``.

    This is the live-tail face of the rolling-ingestion contract: the
    batch operator composes unchanged under ``foreachBatch`` because its
    per-batch cost already excludes all corpus re-aggregation — exactly
    the property that makes it streamable (a per-batch corpus groupBy
    would re-shuffle the corpus every trigger). Each document's pairs
    depend only on its own batch row and the fixed state, so the union of
    per-trigger outputs equals one batch run over the concatenated
    batches (pinned in tests/test_streaming.py).

    End-to-end the sink is effectively exactly-once: ``foreachBatch``
    replays a micro-batch whose checkpoint commit did not land (Spark's
    contract is at-least-once delivery to the function), and the writer
    absorbs the replay by keying every batch's rows under a
    ``_batch_id=<id>`` partition and writing with DYNAMIC partition
    overwrite — the replayed batch (same id, deterministic content)
    overwrites its own partition instead of appending a second copy.
    A blind ``mode("append")`` here would duplicate pairs on restart.
    Refreshing the corpus state (folding deduplicated batches back in)
    is the periodic compaction job's business, same stance as
    :func:`dedup_stream`'s tail — that job is
    ``operators.dedup.compact_corpus_state`` (bands+sets deltas) /
    ``compact_block_census`` (block census deltas), appended under the
    same ``_batch_id`` dynamic-overwrite discipline as this sink.

    ``availableNow`` drains all pending input then stops — the
    production backfill trigger; swap for a processing-time trigger on a
    live source.
    """

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        write_dedup_batch(
            batch_df,
            batch_id,
            out_path,
            corpus_bands=corpus_bands,
            corpus_sets=corpus_sets,
            threshold=threshold,
            num_hashes=num_hashes,
            bands=bands,
            n=n,
        )

    q = (
        docs_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def write_contamination_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_path: str,
    *,
    benchmark: DataFrame,
    n: int = 3,
    heavy_num: int = 1,
    heavy_den: int = 5,
) -> None:
    """Idempotent per-micro-batch sink for :func:`contamination_stream`
    (module-level so replay behavior is directly testable, the
    :func:`write_dedup_batch` stance): the batch's span-contamination
    rows land under ``_batch_id=<batch_id>`` via dynamic partition
    overwrite, so an at-least-once replay of a deterministic batch
    rewrites its own partition instead of duplicating rows. A batch with
    zero contaminated docs writes no files — racing readers should pass
    an explicit schema."""
    from candia_spark.operators.dedup import contamination_spans

    out = contamination_spans(
        batch_df,
        benchmark,
        n=n,
        heavy_num=heavy_num,
        heavy_den=heavy_den,
    )
    (
        out.withColumn("_batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(out_path)
    )


def contamination_stream(
    docs_stream: DataFrame,
    benchmark: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    n: int = 3,
    heavy_num: int = 1,
    heavy_den: int = 5,
) -> None:
    """Streaming ingestion contamination guard: every arriving micro-batch
    of documents is scored for span-level benchmark contamination
    (:func:`candia_spark.operators.dedup.contamination_spans`) against a
    FIXED benchmark set, and flagged docs are appended to ``out_path``
    under the ``_batch_id`` exactly-once discipline.

    Composes under ``foreachBatch`` for the same reason the incremental
    dedup does, only more strongly: each document's coverage depends ONLY
    on its own row and the (small, broadcast) benchmark — no corpus
    state at all — so the union of per-trigger outputs equals one batch
    run over the concatenated batches (pinned in
    tests/test_streaming.py). This is the guard a live ingestion
    pipeline runs BEFORE a document ever reaches the training corpus:
    the eval suite is fixed, the firehose is not.

    ``availableNow`` drains pending input then stops (backfill trigger);
    swap for a processing-time trigger on a live source."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        write_contamination_batch(
            batch_df,
            batch_id,
            out_path,
            benchmark=benchmark,
            n=n,
            heavy_num=heavy_num,
            heavy_den=heavy_den,
        )

    q = (
        docs_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def write_dsir_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_path: str,
    *,
    costs: DataFrame,
    c_toks: int,
    c_bits: int,
    ngram: int = 1,
    buckets: int | None = None,
) -> None:
    """Idempotent per-micro-batch sink for :func:`dsir_stream` (the
    :func:`write_contamination_batch` stance): the batch's DSIR scores
    land under ``_batch_id=<batch_id>`` via dynamic partition
    overwrite, so an at-least-once replay of a deterministic batch
    rewrites its own partition instead of duplicating rows.
    ``ngram``/``buckets`` select the frozen model's feature space and
    must match what ``dsir_reference_costs`` was called with."""
    from candia_spark.operators.curation import dsir_score_fixed

    out = dsir_score_fixed(
        batch_df, costs, c_toks, c_bits, ngram=ngram, buckets=buckets
    )
    (
        out.withColumn("_batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(out_path)
    )


def dsir_stream(
    docs_stream: DataFrame,
    costs: DataFrame,
    c_toks: int,
    c_bits: int,
    out_path: str,
    checkpoint_dir: str,
    ngram: int = 1,
    buckets: int | None = None,
) -> None:
    """Streaming DSIR quality gate: every arriving micro-batch of
    documents is scored against a FROZEN importance model
    (:func:`candia_spark.operators.curation.dsir_reference_costs` —
    the standard production shape: the selection model is trained once
    on a reference snapshot, then applied to the firehose) and the
    per-doc verdicts land under the ``_batch_id`` exactly-once
    discipline.

    Composes under ``foreachBatch`` with the contamination guard's
    strong parity property: the frozen threshold makes every document's
    (n_tokens, score_bits, selected) a pure function of its own row
    plus the broadcast-sized model — batch dsir_select's
    own-batch-mean threshold would instead change with the micro-batch
    split — so the union of per-trigger outputs equals one batch run
    over the concatenated arrivals (pinned in tests/test_streaming.py).

    ``availableNow`` drains pending input then stops (backfill
    trigger); swap for a processing-time trigger on a live source."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        write_dsir_batch(
            batch_df, batch_id, out_path,
            costs=costs, c_toks=c_toks, c_bits=c_bits,
            ngram=ngram, buckets=buckets,
        )

    q = (
        docs_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def write_quality_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_path: str,
    *,
    weights: DataFrame,
    threshold: tuple[int, int] = (0, 1),
    ngram: int = 1,
    buckets: int | None = None,
) -> None:
    """Idempotent per-micro-batch sink for :func:`quality_stream` (the
    dsir/contamination stance): the batch's quality verdicts land under
    ``_batch_id=<batch_id>`` via dynamic partition overwrite, so an
    at-least-once replay of a deterministic batch rewrites its own
    partition instead of duplicating rows. ``threshold``/``ngram``/
    ``buckets`` are the frozen model's parameters and must match what
    the weights were trained with."""
    from candia_spark.operators.curation import quality_classifier_score

    out = quality_classifier_score(
        batch_df, weights, threshold=threshold, ngram=ngram, buckets=buckets
    )
    (
        out.withColumn("_batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(out_path)
    )


def quality_stream(
    docs_stream: DataFrame,
    weights: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    threshold: tuple[int, int] = (0, 1),
    ngram: int = 1,
    buckets: int | None = None,
) -> None:
    """Streaming quality-classifier gate: every arriving micro-batch of
    documents is scored against a FROZEN broadcast linear model
    (:func:`candia_spark.operators.curation.quality_classifier_weights`
    — trained once on labeled snapshots, applied to the firehose) with
    a FIXED keep threshold, and the per-doc verdicts land under the
    ``_batch_id`` exactly-once discipline.

    The frozen weights + explicit integer threshold make every
    document's (n_tokens, score_w, keep) a pure function of its own
    row plus the broadcast-sized model — no batch-dependent statistic
    anywhere — so the union of per-trigger outputs equals one batch
    run over the concatenated arrivals row-for-row (pinned in
    tests/test_streaming.py, the dsir-gate stance).

    ``availableNow`` drains pending input then stops (backfill
    trigger); swap for a processing-time trigger on a live source."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        write_quality_batch(
            batch_df, batch_id, out_path,
            weights=weights, threshold=threshold,
            ngram=ngram, buckets=buckets,
        )

    q = (
        docs_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def write_langid_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_path: str,
    weights: DataFrame,
    ngram: int = 1,
    buckets: int | None = None,
    fallback: str = "und",
) -> None:
    """Idempotent per-micro-batch sink for :func:`langid_stream`: the
    batch's (id, predicted_label, best_score) verdicts land under
    ``_batch_id=<batch_id>`` via dynamic partition overwrite, so an
    at-least-once replay of a deterministic batch rewrites its own
    partition instead of duplicating rows. ``ngram``/``buckets`` must
    match what the weights were trained with."""
    from candia_spark.operators.curation import multiclass_classifier_predict

    out = multiclass_classifier_predict(
        batch_df, weights, ngram=ngram, buckets=buckets, fallback=fallback
    )
    (
        out.withColumn("_batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(out_path)
    )


def langid_stream(
    docs_stream: DataFrame,
    weights: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    ngram: int = 1,
    buckets: int | None = None,
    fallback: str = "und",
) -> None:
    """Streaming multi-class classifier gate (language ID / topic
    routing on the firehose): every arriving micro-batch is scored
    against a FROZEN broadcast multi-class model
    (:func:`candia_spark.operators.curation.multiclass_classifier_weights`
    — trained once on labeled snapshots) and the per-doc argmax
    verdicts land under the ``_batch_id`` exactly-once discipline.

    The frozen dense weights + total (score desc, label asc) tie-break
    + fixed fallback make every document's (predicted_label,
    best_score) a pure function of its own row plus the broadcast
    model — no batch-dependent statistic anywhere — so the union of
    per-trigger outputs equals one batch run over the concatenated
    arrivals row-for-row (pinned in tests/test_streaming.py, the
    dsir/quality-gate stance).

    ``availableNow`` drains pending input then stops (backfill
    trigger); swap for a processing-time trigger on a live source."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        write_langid_batch(
            batch_df, batch_id, out_path,
            weights=weights, ngram=ngram, buckets=buckets,
            fallback=fallback,
        )

    q = (
        docs_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "update",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drain a stream to completion into an in-memory table and return it
    as a batch DataFrame (test/backfill harness). ``availableNow``
    processes all pending input in bounded micro-batches, then stops —
    the same code path a production backfill uses."""
    writer = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)


def write_extract_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_path: str,
    *,
    html_col: str = "html",
    id_col: str = "doc_id",
    min_chars: int = 0,
) -> None:
    """Idempotent per-micro-batch sink for :func:`extract_stream`: the
    batch's extracted documents land under ``_batch_id=<batch_id>`` via
    dynamic partition overwrite (the quality/langid/dsir exactly-once
    discipline). ``min_chars`` drops extractions shorter than the floor
    (the crawl pipeline's first length gate) — a FIXED parameter, so
    every verdict stays a pure function of the row."""
    from candia_spark.operators.curation import extract_html_text

    out = extract_html_text(batch_df, html_col=html_col, id_col=id_col)
    if min_chars > 0:
        out = out.filter(F.col("n_chars") >= int(min_chars))
    (
        out.withColumn("_batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(out_path)
    )


def extract_stream(
    docs_stream: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    html_col: str = "html",
    id_col: str = "doc_id",
    min_chars: int = 0,
) -> None:
    """Streaming HTML->text extraction gate — web curation's step zero
    on the firehose: every arriving micro-batch of raw markup is
    extracted (:func:`candia_spark.operators.curation
    .extract_html_text` — a pure per-row regexp chain, so the stream
    twin is trivially exactly the batch operator) and optionally
    length-gated, landing under the ``_batch_id`` exactly-once
    discipline. Stateless by construction: no watermark, no store —
    the union of per-trigger outputs equals one batch run over the
    concatenated arrivals row-for-row (pinned in
    tests/test_streaming.py).

    ``availableNow`` drains pending input then stops (backfill
    trigger); swap for a processing-time trigger on a live crawl."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        write_extract_batch(
            batch_df, batch_id, out_path,
            html_col=html_col, id_col=id_col, min_chars=min_chars,
        )

    q = (
        docs_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def write_wet_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_path: str,
    *,
    quality_weights: DataFrame,
    langid_weights: DataFrame,
    threshold: tuple[int, int] = (0, 1),
    ngram: int = 1,
    buckets: int | None = None,
    fallback: str = "und",
) -> None:
    """Idempotent per-micro-batch sink for :func:`wet_ingest_stream`:
    the batch's WET records — already projected by the shared
    ``_wet_project`` expressions — are gated by the FROZEN quality and
    language-ID models and land under ``_batch_id=<batch_id>`` via
    dynamic partition overwrite (the exactly-once discipline shared by
    every gate sink in this module). Malformed records are CARRIED, not
    dropped (the mzML F4 stance): they keep their row with NULL
    verdicts and ``_malformed`` = true, so a 100 TB crawl ingest loses
    no byte and the malformed rate is auditable per batch.

    Output columns: (record_id, target_uri, warc_date, content_length,
    _malformed, n_tokens, score_w, keep, predicted_label, best_score,
    _batch_id)."""
    from candia_spark.operators.curation import (
        multiclass_classifier_predict,
        quality_classifier_score,
    )

    meta_cols = [
        "record_id", "target_uri", "warc_date", "content_length",
        "_malformed",
    ]
    # gate on a per-row surrogate, NOT record_id (ADVICE r14): crawl
    # dupes and headerless records (record_id = '') share ids, and the
    # classifiers' internal groupBy would merge their token censuses —
    # every duplicate would get one conflated verdict. The surrogate is
    # only a join key within this batch (verdicts stay pure functions
    # of each row's own text), so replay determinism is unaffected; it
    # never reaches the sink schema.
    from candia_spark.operators.materialize import cut

    # the cut pins the surrogate ids (three consumers below would
    # otherwise re-evaluate the id expression per branch) and cuts the
    # batch scan to one pass.
    clean, _ = cut(
        batch_df.filter(~F.col("_malformed")).withColumn(
            "__row_id", F.monotonically_increasing_id()
        )
    )
    q = quality_classifier_score(
        clean, quality_weights, threshold=threshold,
        text_col="text", id_col="__row_id", ngram=ngram, buckets=buckets,
    )
    lang = multiclass_classifier_predict(
        clean, langid_weights, text_col="text", id_col="__row_id",
        ngram=ngram, buckets=buckets, fallback=fallback,
    )
    gated = (
        clean.select("__row_id", *meta_cols)
        .join(q, "__row_id")
        .join(lang, "__row_id")
        .drop("__row_id")
    )
    mal = batch_df.filter(F.col("_malformed")).select(
        *meta_cols,
        F.lit(None).cast("bigint").alias("n_tokens"),
        F.lit(None).cast("bigint").alias("score_w"),
        F.lit(None).cast("bigint").alias("keep"),
        F.lit(None).cast("string").alias("predicted_label"),
        F.lit(None).cast("bigint").alias("best_score"),
    )
    out = gated.unionByName(mal)
    (
        out.withColumn("_batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(out_path)
    )


def wet_ingest_stream(
    spark,
    wet_path: str,
    out_path: str,
    checkpoint_dir: str,
    *,
    quality_weights: DataFrame,
    langid_weights: DataFrame,
    threshold: tuple[int, int] = (0, 1),
    ngram: int = 1,
    buckets: int | None = None,
    fallback: str = "und",
    max_files_per_trigger: int | None = None,
) -> None:
    """The crawl-firehose end-to-end: a landing directory of WARC/WET
    files becomes a file-stream source
    (:func:`candia_spark.sources.adapters.read_wet_records_stream` —
    the JVM-only lineSep record split, batch-identical projection),
    and every arriving micro-batch flows through the frozen quality +
    language-ID gates into the ``_batch_id`` exactly-once sink, with
    malformed records routed alongside, never dropped.

    Everything per-record is a pure function of the record plus the
    broadcast-sized frozen models — no batch-dependent statistic — so
    the union of per-trigger outputs equals one batch run over the
    concatenated files row-for-row (pinned in tests/test_streaming.py,
    including replay absorption and malformed routing).

    ``availableNow`` drains pending files then stops (the backfill
    trigger); swap for a processing-time trigger on a live crawl."""
    from candia_spark.sources.adapters import read_wet_records_stream

    stream = read_wet_records_stream(
        spark, wet_path, max_files_per_trigger=max_files_per_trigger
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        write_wet_ingest_batch(
            batch_df, batch_id, out_path,
            quality_weights=quality_weights,
            langid_weights=langid_weights,
            threshold=threshold, ngram=ngram, buckets=buckets,
            fallback=fallback,
        )

    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
