"""Genuine Structured Streaming mode (SURVEY §1.1 / §7.4 extension).

The reference's "micro-batch" mode is batch-in-disguise — zero
``readStream``/``writeStream``/watermark usage in its main source
(grep-verified, SURVEY §1.1); its streaming integration test simulates
micro-batches over static files
(``integration/QuickstartScenario2Spec.scala:122-126``). Parity
therefore only requires batch windowing (``operators/relational.py``);
this module is the clearly-scoped real-streaming extension: file/Kafka
``readStream`` sources, watermarked event-time window aggregation
reusing the same ``AggregateExpr`` config surface, and a ``writeStream``
sink with checkpointing.

100-TB / production notes
-------------------------
- Watermarks bound state: without ``with_watermark`` a windowed
  aggregation keeps every window ever seen in the state store. The
  watermark delay is the late-data SLA; state size ~ (#keys × windows
  within the delay).
- ``availableNow`` trigger = incremental batch draining (the modern
  replacement for the reference's simulated micro-batches): processes
  everything present, checkpoints, stops — rerunnable on a schedule with
  exactly-once sink semantics for files.
- File sinks + checkpoint dir give exactly-once; ``foreachBatch`` hands
  each micro-batch to the batch loaders (JDBC upsert etc.) with
  at-least-once semantics — idempotent by the runId-derived staging of
  ``sinks/loaders.py``.
"""

from __future__ import annotations

from collections.abc import Callable
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from etl_spark_gradle_spark.operators.relational import window_aggregate
from etl_spark_gradle_spark.plans.config import AggregateExpr, ConfigError


def read_file_stream(
    spark: SparkSession, options: dict[str, str], schema: StructType | str
) -> DataFrame:
    """Streaming file source (json/csv/parquet/text directory). Unlike
    batch reads, streaming file sources REQUIRE an explicit schema —
    inference would race with arriving files."""
    path = options.get("path")
    fmt = options.get("format", "json").lower()
    if not path:
        raise ConfigError("file stream source requires 'path'")
    reader = spark.readStream.format(fmt).schema(schema)
    if fmt == "csv":
        reader = reader.option("header", options.get("header", "true"))
    if options.get("maxFilesPerTrigger"):
        reader = reader.option("maxFilesPerTrigger", options["maxFilesPerTrigger"])
    return reader.load(path)


def read_kafka_stream(spark: SparkSession, options: dict[str, str]) -> DataFrame:
    """Streaming Kafka source with the same key/value projection as the
    batch extractor (``extractor/KafkaExtractor.scala:51-59`` parity on
    the streaming path). Requires the spark-sql-kafka package."""
    servers = options.get("bootstrap.servers") or options.get("kafka.bootstrap.servers")
    topic = options.get("topic") or options.get("subscribe")
    if not servers or not topic:
        raise ConfigError("kafka stream source requires 'bootstrap.servers' and 'topic'")
    try:
        df = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", servers)
            .option("subscribe", topic)
            .option("startingOffsets", options.get("startingOffsets", "earliest"))
            .load()
        )
    except Exception as e:  # noqa: BLE001 — rewrap only the kafka-package gap
        from etl_spark_gradle_spark.sources.extractors import _is_missing_datasource

        if _is_missing_datasource(e, "kafka"):
            raise ConfigError(
                "kafka support requires the spark-sql-kafka package on the "
                "session (spark-submit --packages "
                "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>); "
                "it is not bundled with pyspark"
            ) from e
        raise
    return df.selectExpr(
        "CAST(key AS STRING) AS key",
        "CAST(value AS STRING) AS value",
        "topic",
        "partition",
        "offset",
        "timestamp",
    )


def windowed_stream_agg(
    df: DataFrame,
    time_column: str,
    window_duration: str,
    aggregations: list[AggregateExpr],
    watermark_delay: str = "10 minutes",
    slide_duration: str | None = None,
    group_by: list[str] | None = None,
    window_type: str = "tumbling",
) -> DataFrame:
    """Watermarked event-time window aggregation — the streaming twin of
    ``operators.relational.window_aggregate`` with the same
    ``AggregateExpr`` surface and window types (tumbling / sliding /
    gap-based ``session`` via ``F.session_window``, where
    ``window_duration`` is the inactivity gap). The watermark lets Spark
    emit finalized windows (append mode) and evict their state — for
    session windows it is also what closes a session (last event + gap
    behind the watermark)."""
    return window_aggregate(
        df.withWatermark(time_column, watermark_delay), time_column, window_duration,
        aggregations, window_type, slide_duration, group_by,
    )


def stream_dedup(
    df: DataFrame,
    keys: list[str],
    time_column: str | None = None,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` holds each key only until the
    watermark passes its event time + delay, then evicts it — the only
    dedup that survives an unbounded stream (plain ``dropDuplicates``
    on a stream accretes one state row per key forever).

    Semantics: duplicates arriving within ``watermark_delay`` of the
    first occurrence are dropped; a re-occurrence after eviction is
    emitted again — the standard at-least-once → effectively-once
    compaction for event streams with bounded duplicate windows (e.g.
    producer retries). Without ``time_column`` falls back to plain
    ``dropDuplicates`` (exact global state — batch frames or key spaces
    known to be small).

    100-TB notes: state is (key-hash → timestamp) per live key, sharded
    by the same key shuffle as any streaming agg; the delay knob is the
    state-size budget. Dedup KEYS should be a content hash (see
    ``operators.dedup.exact_dedup``'s fingerprint), never raw bodies.
    """
    if time_column:
        return df.withWatermark(time_column, watermark_delay).dropDuplicatesWithinWatermark(
            keys
        )
    return df.dropDuplicates(keys)


def detect_gaps_stream(
    df: DataFrame,
    key_col: str,
    time_col: str,
    gap_seconds: int,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Custom stateful streaming operator: heartbeat-gap detection —
    emit one row per silent interval longer than ``gap_seconds``
    between CONSECUTIVE events of a key (the monitoring question "which
    sensors went dark, when, and for how long?"). Output:
    ``(key, gap_start, gap_end, gap_us)`` where ``gap_start``/``gap_end``
    are the bracketing event times and ``gap_us`` the exact silent
    micros (LONG — integer-exact cross-engine).

    A gap materializes when the NEXT event arrives (trailing silence is
    not a gap until something ends it), so unlike sessionization no
    event-time timeout is involved: no emission depends on watermark
    TIMING, and for a key-ordered feed (each key's events arrive in
    event-time order across batches — true for single-drain backfills
    and log-structured sources) the output replays exactly as a batch
    ``lag()``, which is what the oracle does. An event that arrives
    across batches BEHIND its key's high-water mark cannot retrofit a
    gap that was already emitted (state is one long per key, not a
    buffer); the watermark bounds both that reordering window and
    state lifetime.

    100-TB notes: shuffle partitions by key like any streaming agg;
    Arrow-batched pandas, no event buffering, no per-row Python.
    """
    import pandas as pd  # noqa: F401 (worker closure)
    from pyspark.sql.types import LongType, StructField, TimestampType

    ktype = df.schema[key_col].dataType
    out_schema = StructType(
        [
            StructField(key_col, ktype),
            StructField("gap_start", TimestampType()),
            StructField("gap_end", TimestampType()),
            StructField("gap_us", LongType()),
        ]
    )
    state_schema = StructType([StructField("last_us", LongType())])
    gap_us = int(gap_seconds) * 1_000_000

    def fn(key, pdf_iter, state):
        import pandas as pd

        frames = [pdf for pdf in pdf_iter]
        # Drop null event times BEFORE the int64 view: NaT.astype(int64)
        # is INT64_MIN, which would seed state ~year 1677 and make the
        # next real event emit a bogus multi-century gap (ADVICE r4).
        events = (
            pd.concat(frames, ignore_index=True)
            .dropna(subset=[time_col])
            .sort_values(time_col)
        )
        times = (events[time_col].astype("int64") // 1000).astype("int64")
        last = state.get[0] if state.exists else None
        if events.empty and last is None:
            return  # batch was all-null times and no prior state
        starts, ends, lens = [], [], []
        for t_us in times:
            t_us = int(t_us)
            if last is not None and t_us - last > gap_us:
                starts.append(pd.Timestamp(last, unit="us"))
                ends.append(pd.Timestamp(t_us, unit="us"))
                lens.append(t_us - last)
            last = t_us if last is None else max(last, t_us)
        state.update((last,))
        if starts:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(starts),
                    "gap_start": starts,
                    "gap_end": ends,
                    "gap_us": lens,
                }
            )

    return (
        df.withWatermark(time_col, watermark_delay)
        .groupBy(F.col(key_col))
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", "NoTimeout"
        )
    )


def sessionize_stream(
    df: DataFrame,
    key_col: str,
    time_col: str,
    gap_seconds: int,
    value_col: str | None = None,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Custom stateful streaming operator: gap-based sessionization via
    ``applyInPandasWithState`` (the escape hatch for semantics
    ``F.session_window`` can't express — here we emit one row per
    CLOSED session with its exact start/end/count/sum, closing sessions
    both in-batch (a gap inside one micro-batch) and across batches
    (event-time timeout when the watermark passes last_event + gap).

    Output: ``(key, session_start, session_end, n_events, sum_value)``;
    ``sum_value`` sums ``value_col`` (pass an integer column for exact
    cross-engine totals) or 0 when omitted.

    100-TB notes: state per key is four scalars (no event buffering);
    the shuffle partitions by key exactly like any streaming agg; the
    watermark bounds both late data and state lifetime. This is Arrow-
    batched pandas, not row-at-a-time Python.
    """
    import pandas as pd  # noqa: F401 (needed by the worker closure)
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        TimestampType,
    )

    ktype = df.schema[key_col].dataType
    out_schema = StructType(
        [
            StructField(key_col, ktype),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
            StructField("sum_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_us", LongType()),
            StructField("last_us", LongType()),
            StructField("n", LongType()),
            StructField("s", DoubleType()),
        ]
    )
    gap_us = int(gap_seconds) * 1_000_000

    def fn(key, pdf_iter, state):
        import pandas as pd

        # closed sessions accumulate into columnar lists and leave as
        # ONE DataFrame per (key, batch): the previous shape built a
        # 1-row pandas DataFrame PER closed session — ~95k ctor calls
        # per drain at sf0.1 (~40% of the drain wall; each ctor is
        # index + block-manager setup for one row)
        def frame(starts, lasts, ns, ss):
            return pd.DataFrame(
                {
                    key_col: [key[0]] * len(starts),
                    "session_start": pd.to_datetime(starts, unit="us"),
                    "session_end": pd.to_datetime(lasts, unit="us"),
                    "n_events": pd.array(ns, dtype="int64"),
                    "sum_value": pd.array(ss, dtype="float64"),
                }
            )

        if state.hasTimedOut:
            start_us, last_us, n, s = state.get
            state.remove()
            yield frame([start_us], [last_us], [int(n)], [float(s)])
            return

        frames = [pdf for pdf in pdf_iter]
        # NaT guard, same rationale as detect_gaps_stream above.
        events = (
            pd.concat(frames, ignore_index=True)
            .dropna(subset=[time_col])
            .sort_values(time_col)
        )
        times = (events[time_col].astype("int64") // 1000).astype("int64")  # ns -> us
        values = (
            events[value_col].astype("float64")
            if value_col
            else pd.Series(0.0, index=events.index)
        )
        cur = state.get if state.exists else None
        if events.empty and cur is None:
            return  # batch was all-null times and no prior state
        starts, lasts, ns, ss = [], [], [], []
        for t_us, v in zip(times.to_list(), values.to_list()):
            t_us = int(t_us)
            if cur is None:
                cur = (t_us, t_us, 1, float(v))
            elif t_us - cur[1] > gap_us:
                starts.append(cur[0])
                lasts.append(cur[1])
                ns.append(int(cur[2]))
                ss.append(float(cur[3]))
                cur = (t_us, t_us, 1, float(v))
            else:
                cur = (cur[0], max(cur[1], t_us), cur[2] + 1, cur[3] + float(v))
        state.update(cur)
        # event-time timeout must sit above the current watermark
        timeout_ms = max(
            cur[1] // 1000 + int(gap_seconds) * 1000 + 1,
            state.getCurrentWatermarkMs() + 1,
        )
        state.setTimeoutTimestamp(timeout_ms)
        if starts:
            yield frame(starts, lasts, ns, ss)

    return (
        df.withWatermark(time_col, watermark_delay)
        .groupBy(F.col(key_col))
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", "EventTimeTimeout"
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_time_col: str,
    right_time_col: str,
    max_delay: str = "1 hour",
    tolerance_before: str = "0 seconds",
    join_type: str = "inner",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Stream-to-stream equi-join with the event-time range constraint
    that makes streaming join state FINITE: a right event matches only
    when its time lies in ``[left_time - tolerance_before,
    left_time + max_delay]`` (the impression→click shape: the click must
    land within ``max_delay`` of the impression). Both sides are
    watermarked; Spark derives the state-eviction horizon from the
    watermark + the range bound, so each side holds O(rate x
    (watermark_delay + max_delay)) rows — without the time bound a
    stream-stream join's state grows forever and this function refuses
    to build one.

    ``join_type``: ``inner``, ``left_outer``, ``right_outer``,
    ``full_outer`` (outer joins emit their null-padded rows only once
    the watermark proves no match can arrive — expect them late).
    Right-side columns whose names collide with left ones are emitted
    with a ``_right`` suffix. Also callable on batch frames (the range
    condition is just a predicate there) — handy for backfills running
    the same pipeline definition.
    """
    jt = join_type.lower()
    if jt not in ("inner", "left_outer", "right_outer", "full_outer"):
        raise ConfigError(f"unsupported stream-stream joinType '{join_type}'")
    for c, df_, side in (
        (left_key, left, "left"),
        (left_time_col, left, "left"),
        (right_key, right, "right"),
        (right_time_col, right, "right"),
    ):
        if c not in df_.columns:
            raise ConfigError(f"stream_stream_join: '{c}' not in {side} schema")

    # suffix-rename colliding right columns so the joined schema is flat
    renames = {c: f"{c}_right" for c in right.columns if c in set(left.columns)}
    for old, new in renames.items():
        right = right.withColumnRenamed(old, new)
    right_key = renames.get(right_key, right_key)
    right_time_col = renames.get(right_time_col, right_time_col)

    streaming = left.isStreaming or right.isStreaming
    if streaming:
        left = left.withWatermark(left_time_col, watermark_delay)
        right = right.withWatermark(right_time_col, watermark_delay)
    cond = (
        (F.col(left_key) == F.col(right_key))
        & (
            F.col(right_time_col)
            >= F.col(left_time_col) - F.expr(f"INTERVAL {tolerance_before}")
        )
        & (
            F.col(right_time_col)
            <= F.col(left_time_col) + F.expr(f"INTERVAL {max_delay}")
        )
    )
    return left.join(right, cond, jt)


def _apply_trigger(stream_writer, trigger: str):
    """Translate the string ``trigger`` option onto a stream writer.

    ADVICE r9: an unrecognized value (e.g. 'once', or a typo of
    'availableNow') used to fall through BOTH branches silently, so an
    intended bounded drain started as the default ASAP micro-batch
    trigger — an unbounded continuous query. Fail loudly instead."""
    if trigger == "availableNow":
        return stream_writer.trigger(availableNow=True)
    if trigger.startswith("processingTime="):
        return stream_writer.trigger(processingTime=trigger.split("=", 1)[1])
    raise ConfigError(
        "stream trigger must be 'availableNow' or "
        f"'processingTime=<interval>', got '{trigger}'"
    )


def _start(
    writer, checkpoint_location: str | None, query_name: str | None, trigger: str
) -> StreamingQuery:
    """Start a stream writer with the options every query here shares:
    ``checkpointLocation`` (when given), ``queryName`` (when given) and
    the ``trigger`` string (:func:`_apply_trigger`)."""
    if checkpoint_location:
        writer = writer.option("checkpointLocation", checkpoint_location)
    if query_name:
        writer = writer.queryName(query_name)
    return _apply_trigger(writer, trigger).start()


FILE_FORMATS = ("parquet", "json", "csv", "orc")
CHECKPOINT_FILE_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
FILE_SYSTEM_CHECKPOINTS = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)
UNLOAD_ON_COMMIT = "spark.sql.streaming.stateStore.unloadOnCommit"


def is_drain(options: dict[str, str]) -> bool:
    """True when a ``write_stream`` with these sink options runs a
    bounded ``availableNow`` drain (the default trigger)."""
    return options.get("trigger", "availableNow") == "availableNow"


def local_checkpoint(spark: SparkSession, options: dict[str, str]) -> bool:
    """True when every checkpoint file a ``write_stream`` with these sink
    options writes is on the local filesystem: the ``checkpointLocation``
    (else the session's ``spark.sql.streaming.checkpointLocation``, else
    Spark's local temp dir) and, for file formats, the ``_spark_metadata``
    log under ``path``. Decided from the URI scheme alone — a scheme-less
    path takes ``fs.defaultFS``'s — so no FileSystem is instantiated;
    only ``file`` counts as local."""
    locations = [
        options.get("checkpointLocation")
        or spark.conf.get("spark.sql.streaming.checkpointLocation", None)
    ]
    if options.get("format", "parquet").lower() in FILE_FORMATS:
        locations.append(options.get("path"))
    for location in filter(None, locations):
        scheme = urlsplit(location).scheme
        if not scheme:
            default_fs = spark.conf.get("fs.defaultFS", None) or (
                spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
            )
            scheme = urlsplit(default_fs).scheme
        if scheme != "file":
            return False
    return True


def write_stream(
    df: DataFrame,
    options: dict[str, str],
    output_mode: str = "append",
    await_termination: bool = False,
):
    """Start a streaming sink: ``format`` (parquet/json/csv/memory/
    console), ``path`` + ``checkpointLocation`` for file sinks,
    ``trigger`` = ``availableNow`` | ``processingTime=<interval>``.
    Returns the ``StreamingQuery``."""
    fmt = options.get("format", "parquet").lower()
    if fmt == "kafka":
        # same row→JSON framing as the batch Kafka loader; Kafka streams
        # require a checkpoint for exactly-once producer idempotence
        from etl_spark_gradle_spark.sinks.loaders import kafka_frame

        servers = options.get("bootstrap.servers") or options.get("kafka.bootstrap.servers")
        topic = options.get("topic")
        if not servers or not topic:
            raise ConfigError("kafka stream sink requires 'bootstrap.servers' and 'topic'")
        if not options.get("checkpointLocation"):
            raise ConfigError("kafka stream sink requires 'checkpointLocation'")
        df = kafka_frame(df)
    writer = df.writeStream.format(fmt).outputMode(output_mode)
    if fmt == "kafka":
        writer = writer.option(
            "kafka.bootstrap.servers",
            options.get("bootstrap.servers") or options["kafka.bootstrap.servers"],
        ).option("topic", options["topic"])
    if fmt in FILE_FORMATS:
        if not options.get("path") or not options.get("checkpointLocation"):
            raise ConfigError("file stream sink requires 'path' and 'checkpointLocation'")
        writer = writer.option("path", options["path"])
    query = _start(
        writer,
        options.get("checkpointLocation"),
        options.get("queryName"),
        options.get("trigger", "availableNow"),
    )
    if await_termination:
        query.awaitTermination()
    return query


def _flatten_window(agg: DataFrame) -> DataFrame:
    """Project a :func:`windowed_stream_agg` result's ``window`` struct to
    flat ``window_start``/``window_end`` columns ahead of the other
    columns."""
    return agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *[c for c in agg.columns if c != "window"],
    )


def run_file_to_file_stream(
    spark: SparkSession,
    source_options: dict[str, str],
    schema: StructType | str,
    sink_options: dict[str, str],
    time_column: str,
    window_duration: str,
    aggregations: list[AggregateExpr],
    watermark_delay: str = "10 minutes",
    group_by: list[str] | None = None,
    window_type: str = "tumbling",
) -> None:
    """One-shot incremental pipeline: drain everything currently in the
    source directory through a watermarked window aggregation into a
    file sink (availableNow), then stop. The streaming equivalent of the
    reference's simulated micro-batch scenario
    (``integration/QuickstartScenario2Spec.scala:122-262``).

    Append-mode semantics: a window is emitted only once the watermark
    (max event time seen − delay) passes its end; windows still open
    when the drain finishes remain in checkpoint state and flush on the
    NEXT run, exactly once. That is the correct production contract —
    don't shorten the delay to force early emission, schedule reruns."""
    stream = read_file_stream(spark, source_options, schema)
    agg = windowed_stream_agg(
        stream,
        time_column=time_column,
        window_duration=window_duration,
        aggregations=aggregations,
        watermark_delay=watermark_delay,
        group_by=group_by,
        window_type=window_type,
    )
    write_stream(_flatten_window(agg), sink_options, await_termination=True)


def read_source_stream(source, spark: SparkSession) -> DataFrame:
    """``readStream`` over a ``streaming: true`` pipeline's source. A file
    source's schema comes from its ``schemaPath`` (StructType JSON), else
    from a one-off batch read of the path: pin it in production."""
    if source.type in ("file", "s3"):
        if source.schema_path:
            import json as _json

            with open(source.schema_path, encoding="utf-8") as f:
                schema = StructType.fromJson(_json.load(f))
        else:
            schema = (
                spark.read.format(source.options.get("format", "json"))
                .options(
                    **{k: v for k, v in source.options.items() if k not in ("path", "format")}
                )
                .load(source.options["path"])
                .schema
            )
        return read_file_stream(spark, source.options, schema)
    if source.type == "kafka":
        return read_kafka_stream(spark, source.options)
    raise ConfigError(f"streaming mode supports file|s3|kafka sources, got '{source.type}'")


def run_streaming_pipeline(config, spark: SparkSession) -> StreamingQuery:
    """Start the plan ``PipelineExecutor.build_plan`` builds for a
    ``streaming: true`` pipeline with :func:`write_stream`, without the
    executor's conf scope or metrics. Returns the ``StreamingQuery``;
    with the default availableNow trigger it has terminated."""
    from etl_spark_gradle_spark.plans.config import RunContext, with_resolved_credentials
    from etl_spark_gradle_spark.plans.executor import PipelineExecutor

    executor, ctx = PipelineExecutor(), RunContext.create(config.pipeline_id, spark)
    plan = executor.build_plan(config, ctx, executor.extract(config, ctx)[1]).transformed
    sink = with_resolved_credentials(config.sink).options
    return write_stream(plan, sink, output_mode="append", await_termination=True)


def stream_dedup_against_store(
    df: DataFrame,
    content_col: str,
    store_path: str,
    output_path: str,
    checkpoint_location: str,
    tiebreak_col: str | None = None,
    trigger: str = "availableNow",
    query_name: str | None = None,
):
    """Continuous-ingest dedup: every micro-batch is exact-deduped
    against the PERSISTED content-hash store (see
    ``operators.dedup.exact_dedup_incremental`` — the store is scanned,
    never shuffled), survivors land in ``output_path`` and their hashes
    are appended to the store, so the next batch — and the next
    ``availableNow`` run — sees them. This is how a crawl firehose
    dedups forever without ever re-reading the corpus: the only growing
    state is 32 bytes per distinct document, on disk, shared across
    restarts (unlike ``dropDuplicatesWithinWatermark``'s
    executor-memory state, which is bounded by the watermark window).

    Delivery: at-least-once on the OUTPUT (a crash between the output
    append and the store append can re-emit that batch's survivors on
    retry; once the store append lands, retries emit nothing because
    every hash collides). Returns the ``StreamingQuery``.
    """
    from pyspark.errors import AnalysisException

    from etl_spark_gradle_spark.operators.dedup import (
        content_hash_store,
        exact_dedup,
        exact_dedup_incremental,
    )

    spark = df.sparkSession

    def _handle(batch_df: DataFrame, batch_id: int) -> None:
        try:
            seen = spark.read.parquet(store_path)
            survivors = exact_dedup_incremental(
                batch_df, seen, content_col=content_col, tiebreak_col=tiebreak_col
            )
        except AnalysisException:
            # first batch ever: no store yet
            survivors = exact_dedup(
                batch_df, content_col=content_col, tiebreak_col=tiebreak_col
            )
        survivors = survivors.localCheckpoint(eager=True)
        survivors.write.mode("append").parquet(output_path)
        content_hash_store(survivors, content_col).write.mode("append").parquet(
            store_path
        )

    return _start(
        df.writeStream.foreachBatch(_handle), checkpoint_location, query_name, trigger
    )


def stream_to_batch_sink(
    df: DataFrame,
    sink_config,
    checkpoint_location: str,
    trigger: str = "availableNow",
    query_name: str | None = None,
):
    """``foreachBatch`` bridge: hand every micro-batch to the BATCH
    loader registry, so a stream can land in any batch sink — including
    JDBC upsert, which ``writeStream`` cannot do natively.

    Semantics: at-least-once per micro-batch (a batch may be retried
    after a crash before the checkpoint commit). Idempotence therefore
    comes from the sink: ``upsert`` (runId+batchId-derived staging,
    set-based merge) re-applies cleanly; plain ``append`` may duplicate
    on retry — prefer upsert with a primary key for exactly-once-
    effective delivery. State/offsets live in ``checkpoint_location``.
    """
    from etl_spark_gradle_spark.sinks import LOADER_REGISTRY

    loader = LOADER_REGISTRY.get(sink_config.type)
    if loader is None:
        raise ConfigError(f"no loader registered for sink type '{sink_config.type}'")

    def _handle(batch_df: DataFrame, batch_id: int) -> None:
        loader.load(batch_df, sink_config, run_id=f"b{batch_id}")

    return _start(
        df.writeStream.foreachBatch(_handle), checkpoint_location, query_name, trigger
    )


def _hadoop_fs(spark: SparkSession, path_str: str):
    """(FileSystem, Path) for ``path_str`` resolved through the
    session's Hadoop conf — so version listing/pruning works on ANY
    store the executors can write (HDFS, S3A, file:). The earlier
    driver-local ``os.listdir`` silently saw nothing on non-local
    stores, so every batch thought it was the first — silent rollup
    corruption, the worst failure mode of a continuous aggregate."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, p


def _rollup_versions(spark: SparkSession, store_path: str) -> list[int]:
    """Sorted ``v=<n>`` version ids under the store, [] if absent."""
    fs, p = _hadoop_fs(spark, store_path)
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith("v=") and name.split("=", 1)[1].isdigit():
            out.append(int(name.split("=", 1)[1]))
    return sorted(out)


def _fold_store(
    stream: DataFrame,
    store_path: str,
    fold: Callable[[DataFrame, DataFrame | None, int], DataFrame],
    checkpoint_location: str,
    trigger: str,
    query_name: str | None,
) -> StreamingQuery:
    """Maintain a versioned parquet store from ``stream`` with
    ``foreachBatch``: the one protocol behind :func:`stream_scd2_fold`,
    :func:`stream_time_rollup`, :func:`stream_kmv_distinct`,
    :func:`stream_topk` and :func:`stream_histogram`.

    Batch ``batch_id`` reads the newest version ``v=<prev>`` with
    ``prev < batch_id`` (``None`` when there is none), overwrites
    ``<store_path>/v=<batch_id>`` with ``fold(batch_df, prev_df,
    batch_id)`` and then prunes every version older than ``prev``.

    Retry safety (exactly-once-effective under foreachBatch's
    at-least-once delivery): never prune ``prev`` itself, so a retried
    batch re-reads it. A batch that crashed after its write but before
    the checkpoint commit re-resolves the same ``prev``, and with a
    deterministic ``fold`` rewrites its own ``v=<batch_id>`` from the
    same input; debris a crashed attempt left there is clobbered and
    duplicates cannot compound. The store holds at most two versions
    at any instant.

    Versions are listed through the Hadoop FileSystem API, so HDFS and
    S3A stores list correctly; on an eventually-consistent object store
    swap the listing for a manifest/catalog pointer."""
    # unloadOnCommit does not matter here: the state lives in parquet,
    # not in state stores

    def _handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        older = [v for v in _rollup_versions(spark, store_path) if v < batch_id]
        prev = max(older) if older else None
        prev_df = (
            None if prev is None else spark.read.parquet(f"{store_path}/v={prev}")
        )
        fold(batch_df, prev_df, batch_id).write.mode("overwrite").parquet(
            f"{store_path}/v={batch_id}"
        )
        if prev is not None:
            # prune from the lookup's listing: the only version written
            # since is batch_id, which is never below prev
            fs, _ = _hadoop_fs(spark, store_path)
            Path = spark._jvm.org.apache.hadoop.fs.Path
            for v in older:
                if v < prev:
                    fs.delete(Path(f"{store_path}/v={v}"), True)

    return _start(
        stream.writeStream.foreachBatch(_handle), checkpoint_location, query_name, trigger
    )


def _read_newest(spark: SparkSession, path: str, what: str) -> DataFrame:
    """The newest ``v=<n>`` version a :func:`_fold_store` query wrote
    under ``path``; ``ConfigError`` naming ``what`` when there is none."""
    versions = _rollup_versions(spark, path)
    if not versions:
        raise ConfigError(f"no {what} versions under {path}")
    return spark.read.parquet(f"{path}/v={versions[-1]}")


def stream_scd2_fold(
    changes: DataFrame,
    dim_path: str,
    keys: list[str],
    attr_cols: list[str],
    effective_col: str,
    checkpoint_location: str,
    trigger: str = "availableNow",
    query_name: str | None = None,
):
    """Fold a STREAM of change rows into a versioned SCD Type-2
    dimension: every micro-batch runs ``scd2_apply`` against the
    latest persisted dimension version and writes the next one —
    continuous CDC → dimension maintenance (the streaming sibling of
    the batch ``type: scd2`` step). Versioning, pruning and retry
    safety: :func:`_fold_store`.

    Ordering: micro-batches arrive in order per the source's offsets;
    WITHIN a batch ``scd2_apply``'s contract applies (unique effective
    timestamps per key). Late rows older than the key's current
    ``valid_from`` need a reprocessing run, same as the batch path.
    """
    from etl_spark_gradle_spark.operators.delta import scd2_apply, scd2_init

    def fold(batch_df: DataFrame, dim: DataFrame | None, batch_id: int) -> DataFrame:
        if dim is None:
            dim = scd2_init(
                batch_df.select(*keys, *attr_cols).limit(0),
                keys,
                attr_cols,
                "1970-01-01",
            )
        return scd2_apply(dim, batch_df, keys, attr_cols, effective_col)

    return _fold_store(changes, dim_path, fold, checkpoint_location, trigger, query_name)


def read_scd2_dimension(spark: SparkSession, dim_path: str) -> DataFrame:
    """Read the newest persisted version written by
    :func:`stream_scd2_fold`."""
    return _read_newest(spark, dim_path, "dimension")


def cusum_stream(
    df: DataFrame,
    key_col: str,
    time_col: str,
    value_col: str,
    threshold: float,
    target: float,
    slack: float = 0.0,
    resolution: int = 6,
    tiebreak_col: str | None = None,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming CUSUM mean-shift monitor: the stateful twin of
    ``operators.timeseries.cusum_changepoints``, emitting ONE row per
    alarm (a key whose one-sided statistic crossed ``threshold``).

    State per key is exactly TWO LONGS — the current (s+, s-) in
    integer ``10^-resolution`` units, the same quantization the batch
    operator uses, so for a key-ordered feed the alarm rows replay
    EXACTLY as the batch operator filtered to ``alarm`` (the oracle).
    ``target`` is REQUIRED here (absolute units, from a training
    window): a stream cannot know its own full-series mean, which is
    the honest version of the batch operator's default.

    Within a batch the statistics vectorize as the same prefix-sum
    identity (cumsum + running min over int64 — no per-row python
    loop); the incoming state seeds the sequence as a synthetic first
    increment, which is algebraically identical to resuming the
    recursion. Rows with null time/value are dropped, like the batch
    side.
    """
    import pandas as pd  # noqa: F401 (worker closure)
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StructField,
        TimestampType,
    )

    if threshold is None or float(threshold) <= 0:
        raise ConfigError("cusum_stream requires threshold > 0")
    if target is None:
        raise ConfigError(
            "cusum_stream requires an explicit target (absolute units, "
            "e.g. from a training window) — a stream cannot compute its "
            "own full-series mean"
        )
    ktype = df.schema[key_col].dataType
    out_schema = StructType(
        [
            StructField(key_col, ktype),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
            StructField("cusum_pos", DoubleType()),
            StructField("cusum_neg", DoubleType()),
            StructField("high_side", BooleanType()),
        ]
    )
    state_schema = StructType(
        [StructField("s_hi", LongType()), StructField("s_lo", LongType())]
    )
    scale = 10 ** int(resolution)
    thr_units = int(float(threshold) * scale)
    tgt = float(target)
    slk = float(slack)

    def fn(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        frames = [pdf for pdf in pdf_iter]
        events = (
            pd.concat(frames, ignore_index=True)
            .dropna(subset=[time_col, value_col])
            .sort_values(
                [time_col] + ([tiebreak_col] if tiebreak_col else [])
            )
        )
        if events.empty:
            return
        s_hi0, s_lo0 = state.get if state.exists else (0, 0)
        v = events[value_col].to_numpy(dtype="float64")
        d_hi = np.floor((v - tgt - slk) * scale).astype("int64")
        d_lo = np.floor((tgt - v - slk) * scale).astype("int64")

        def run(d, s0):
            # resume-from-state via a synthetic first increment: the
            # recursion from s0 equals the prefix-sum identity over
            # [s0, d_1, ..., d_n] started from zero
            p = np.concatenate(([np.int64(s0)], d)).cumsum()
            s = p - np.minimum(np.minimum.accumulate(p), 0)
            return s[1:]

        s_hi = run(d_hi, s_hi0)
        s_lo = run(d_lo, s_lo0)
        state.update((int(s_hi[-1]), int(s_lo[-1])))
        mask = (s_hi > thr_units) | (s_lo > thr_units)
        if mask.any():
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * int(mask.sum()),
                    "ts": events[time_col].to_numpy()[mask],
                    "value": v[mask],
                    "cusum_pos": s_hi[mask].astype("float64") / scale,
                    "cusum_neg": s_lo[mask].astype("float64") / scale,
                    "high_side": (s_hi > thr_units)[mask],
                }
            )

    return (
        df.withWatermark(time_col, watermark_delay)
        .groupBy(F.col(key_col))
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", "NoTimeout"
        )
    )


def stream_time_rollup(
    stream: DataFrame,
    store_path: str,
    time_col: str,
    value_cols: list[str],
    levels: list[int],
    checkpoint_location: str,
    group_by: list[str] | None = None,
    origin: int = 0,
    trigger: str = "availableNow",
    query_name: str | None = None,
):
    """Continuously MAINTAIN a hierarchical time rollup from a stream —
    the streaming half of the hypertable continuous-aggregate story
    (:func:`~etl_spark_gradle_spark.operators.timeseries.time_rollup`
    is the batch build): every micro-batch's MERGEABLE bucket deltas
    (count / exact DECIMAL sum / min / max per level) fold into a
    versioned parquet store (:func:`_fold_store`);
    :func:`read_time_rollup` closes the maintained state to the same
    schema the batch operator emits.

    Exactness: the store holds the mergeable representation, and
    count/decimal-sum/min/max merging is associative+commutative, so
    after ANY batch partitioning of the feed the store equals the
    batch operator run over all data at once (asserted in pytest and
    the ``streaming_rollup`` oracle).

    At 100 TB: per batch, one batch-sized fine-bucket groupBy + level
    re-aggregations of bucket tables + a store-sized merge groupBy —
    the historical raw data is NEVER re-scanned (the store is
    bucket-table-sized, bounded by |groups| x |observed buckets|).
    """
    from etl_spark_gradle_spark.operators.timeseries import time_rollup

    group_by = group_by or []

    def fold(batch_df: DataFrame, state: DataFrame | None, batch_id: int) -> DataFrame:
        delta = time_rollup(
            batch_df, time_col, value_cols, levels,
            group_by=group_by, origin=origin, closed=False,
        )
        if state is not None:
            delta = state.unionByName(delta)
        return delta.groupBy(
            *group_by, "level_seconds", "bucket_ts"
        ).agg(
            *[
                a
                for c in value_cols
                for a in (
                    F.sum(f"{c}_cnt").cast("long").alias(f"{c}_cnt"),
                    F.sum(f"{c}_sum").cast("decimal(38,6)").alias(f"{c}_sum"),
                    F.min(f"{c}_min").alias(f"{c}_min"),
                    F.max(f"{c}_max").alias(f"{c}_max"),
                )
            ]
        )

    return _fold_store(stream, store_path, fold, checkpoint_location, trigger, query_name)


def read_time_rollup(spark: SparkSession, store_path: str) -> DataFrame:
    """Read the newest maintained rollup version and CLOSE it to the
    batch operator's output schema (``<c>_cnt/_sum/_min/_max/_avg``
    with the string-roundtrip decimal→double sums and the fixed-order
    avg — byte-identical to a fresh batch ``time_rollup`` over the
    same data)."""
    state = _read_newest(spark, store_path, "rollup")
    value_cols = [c[: -len("_cnt")] for c in state.columns if c.endswith("_cnt")]
    keep = [c for c in state.columns
            if not any(c.startswith(f"{v}_") for v in value_cols)]
    cols = [F.col(c) for c in keep]
    for c in value_cols:
        cnt = F.col(f"{c}_cnt")
        sum_d = F.col(f"{c}_sum").cast("string").cast("double")
        cols += [
            cnt.alias(f"{c}_cnt"),
            F.when(cnt > 0, sum_d).alias(f"{c}_sum"),
            F.col(f"{c}_min").alias(f"{c}_min"),
            F.col(f"{c}_max").alias(f"{c}_max"),
            F.when(cnt > 0, sum_d / cnt.cast("double")).alias(f"{c}_avg"),
        ]
    return state.select(*cols)


def debounce_stream(
    df: DataFrame,
    key_cols: list[str],
    time_col: str,
    gap_seconds: float,
    tiebreak_col: str | None = None,
    carry_cols: list[str] | None = None,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming burst deduplication: the stateful twin of
    ``operators.events.debounce`` — emit only the first event of every
    burst per key, where an event survives iff it arrives strictly
    more than ``gap_seconds`` after the previous RAW event on the same
    key (trailing semantics: a chattering burst stays suppressed for
    its whole lifetime, matching the batch operator row-for-row on a
    key-time-ordered feed, which is the oracle in pytest).

    State per key is exactly ONE LONG — the last raw event's epoch
    micros. Within a micro-batch the keep mask vectorizes as a shifted
    diff (no per-row python loop); the incoming state seeds the first
    diff. Rows with null time are dropped (they have no position).
    Output: ``(keys…, ts, carry_cols…)``.
    """
    import pandas as pd  # noqa: F401 (worker closure)
    from pyspark.sql.types import LongType, StructField, TimestampType

    if not key_cols:
        raise ConfigError("debounce_stream requires key_cols")
    if gap_seconds <= 0:
        raise ConfigError("debounce_stream requires gap_seconds > 0")
    carry_cols = carry_cols or []
    for c in (*key_cols, time_col, *( [tiebreak_col] if tiebreak_col else [] ),
              *carry_cols):
        if c not in df.columns:
            raise ConfigError(f"debounce_stream column not in schema: {c}")
    out_schema = StructType(
        [StructField(c, df.schema[c].dataType) for c in key_cols]
        + [StructField(time_col, TimestampType())]
        + [StructField(c, df.schema[c].dataType) for c in carry_cols]
    )
    state_schema = StructType([StructField("last_us", LongType())])
    gap_us = int(round(float(gap_seconds) * 1_000_000))

    def fn(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        frames = [pdf for pdf in pdf_iter]
        events = (
            pd.concat(frames, ignore_index=True)
            .dropna(subset=[time_col])
            .sort_values(
                [time_col] + ([tiebreak_col] if tiebreak_col else [])
            )
        )
        if events.empty:
            return
        t = (events[time_col].astype("int64") // 1000).to_numpy(
            dtype="int64"
        )  # ns -> us
        (last0,) = state.get if state.exists else (None,)
        prev = np.concatenate(
            (
                [np.int64(last0) if last0 is not None else np.int64(-(1 << 62))],
                t[:-1],
            )
        )
        keep = (t - prev) > gap_us
        state.update((int(t[-1]),))
        if keep.any():
            kept = events.loc[keep]
            out = {c: kept[c].to_numpy() for c in key_cols}
            out[time_col] = kept[time_col].to_numpy()
            for c in carry_cols:
                out[c] = kept[c].to_numpy()
            yield pd.DataFrame(out)

    return (
        df.withWatermark(time_col, watermark_delay)
        .groupBy(*[F.col(c) for c in key_cols])
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", "NoTimeout"
        )
    )


def stream_kmv_distinct(
    stream: DataFrame,
    store_path: str,
    group_by: list[str],
    value_col: str,
    k: int,
    checkpoint_location: str,
    trigger: str = "availableNow",
    query_name: str | None = None,
):
    """Continuously MAINTAIN per-group KMV distinct-count sketches
    from a stream — cardinality monitoring over unbounded feeds
    (distinct users per event type, distinct keys per tenant) without
    ever re-scanning history. The streaming twin of
    ``operators.sketch.build_kmv``, on the :func:`_fold_store`
    versioned-store protocol: each micro-batch builds its own sketch
    delta, unions it with the prior store version and re-merges with
    ``merge_kmv`` — whose semantics (k smallest of the union of
    distinct-value hashes) make the fold associative, commutative AND
    idempotent, so replayed batches cannot double-count (a duplicated
    value hashes to the same cell; ``exactly-once`` holds by algebra,
    not bookkeeping). After ANY batch partitioning of the feed the
    store equals a fresh batch build over all data at once (asserted
    in pytest and the ``streaming_kmv`` oracle).

    At 100 TB: per batch, one distinct-hash shuffle of the BATCH (the
    historical raw data is never re-read) + a store-sized merge; the
    store is bounded at |groups| x k hashes.
    """
    from etl_spark_gradle_spark.operators.sketch import build_kmv, merge_kmv

    group_by = list(group_by)
    if int(k) < 2:
        raise ConfigError("stream_kmv_distinct requires k >= 2")
    for c in (*group_by, value_col):
        if c not in stream.columns:
            raise ConfigError(
                f"stream_kmv_distinct column not in schema: {c}"
            )

    def fold(batch_df: DataFrame, state: DataFrame | None, batch_id: int) -> DataFrame:
        delta = build_kmv(
            batch_df, group_by, value_col, k=int(k),
            estimate_col=None, k_col="kmv_k",
        )
        if state is not None:
            delta = state.select(*group_by, "kmv", "kmv_k").unionByName(delta)
        return merge_kmv(
            delta, group_by, k=int(k), sketch_col="kmv",
            estimate_col="distinct_est", k_col="kmv_k",
        )

    return _fold_store(stream, store_path, fold, checkpoint_location, trigger, query_name)


def read_kmv_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Read the newest maintained KMV version — same columns a batch
    ``build_kmv(..., k_col='kmv_k')`` + estimate emits: ``(group…,
    kmv, distinct_est, kmv_k)``."""
    return _read_newest(spark, store_path, "kmv")


def stream_topk(
    stream: DataFrame,
    store_path: str,
    group_by: list[str],
    value_col: str,
    capacity: int,
    checkpoint_location: str,
    trigger: str = "availableNow",
    query_name: str | None = None,
):
    """Continuously MAINTAIN per-group Misra–Gries heavy-hitter
    summaries from a stream — "which values dominate this feed right
    now" (top URLs per status code, top tokens per language, top
    SKUs per region) with bounded state and a PROVEN undercount
    guarantee, no matter how long the stream runs.

    Protocol = :func:`_fold_store`: each micro-batch builds its own
    exact-count summary delta (:func:`operators.sketch.build_mg`),
    unions it with the prior store version and re-prunes with
    :func:`operators.sketch.merge_mg` — the mergeable-summaries
    theorem (Agarwal et al. 2012) keeps ``true_count − weight ≤
    mg_err`` through any batch partitioning, and when per-group
    distinct cardinality never exceeds ``capacity`` the maintained
    weights are EXACT counts (d = 0 at every step), which is what
    the registered oracle gates.

    At 100 TB: per batch, one batch-sized (group, value) count
    shuffle + a store-sized merge; state is bounded at |groups| ×
    capacity rows."""
    from etl_spark_gradle_spark.operators.sketch import build_mg, merge_mg

    group_by = list(group_by)
    if int(capacity) < 1:
        raise ConfigError("stream_topk requires capacity >= 1")
    for c in (*group_by, value_col):
        if c not in stream.columns:
            raise ConfigError(f"stream_topk column not in schema: {c}")

    def fold(batch_df: DataFrame, state: DataFrame | None, batch_id: int) -> DataFrame:
        delta = build_mg(
            batch_df, group_by, value_col, capacity=int(capacity),
        ).withColumn("_src", F.lit(f"b{batch_id}"))
        if state is not None:
            delta = state.select(
                *group_by, "value", "mg_weight", "mg_err"
            ).withColumn("_src", F.lit("state")).unionByName(delta)
        return merge_mg(
            delta, group_by, capacity=int(capacity), src_col="_src",
        )

    return _fold_store(stream, store_path, fold, checkpoint_location, trigger, query_name)


def read_topk_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Read the newest maintained Misra–Gries version: ``(group…,
    value, mg_weight, mg_err)`` — weights undercount true counts by
    at most ``mg_err``; exact when cardinality stayed within
    capacity."""
    return _read_newest(spark, store_path, "topk")


def stream_histogram(
    stream: DataFrame,
    store_path: str,
    group_by: list[str],
    value_col: str,
    lo: float,
    hi: float,
    bins: int,
    checkpoint_location: str,
    trigger: str = "availableNow",
    query_name: str | None = None,
):
    """Continuously MAINTAIN per-group fixed-bin histogram sketches
    from a stream — the streaming quantile/distribution story
    (latency percentiles per endpoint, score distributions per
    source) with bounded state: each micro-batch builds its own
    histogram delta (:func:`operators.sketch.build_histogram_sketch`)
    and vector-adds it into the prior store version
    (:func:`operators.sketch.merge_histograms` — counts are counts,
    the merge is EXACT, not approximate). Close the maintained state
    to quantiles with ``operators.sketch.histogram_quantile`` over
    :func:`read_histogram_store`.

    Versioning protocol = :func:`_fold_store`. After ANY batch
    partitioning the store equals a fresh batch build over the whole
    feed — asserted in pytest and the ``streaming_histogram`` oracle.

    At 100 TB: per batch, ONE hash aggregation compressing the batch
    to |groups| × (bins+2) longs + a store-sized vector add; state is
    bounded at |groups| rows."""
    from etl_spark_gradle_spark.operators.sketch import (
        build_histogram_sketch,
        merge_histograms,
    )

    group_by = list(group_by)
    if int(bins) < 1:
        raise ConfigError("stream_histogram requires bins >= 1")
    if not float(hi) > float(lo):
        raise ConfigError("stream_histogram requires hi > lo")
    for c in (*group_by, value_col):
        if c not in stream.columns:
            raise ConfigError(
                f"stream_histogram column not in schema: {c}"
            )

    def fold(batch_df: DataFrame, state: DataFrame | None, batch_id: int) -> DataFrame:
        delta = build_histogram_sketch(
            batch_df, group_by, value_col,
            lo=float(lo), hi=float(hi), bins=int(bins),
        )
        if state is None:
            return delta
        return merge_histograms(
            state.select(*group_by, "hist_counts").unionByName(delta), group_by
        )

    return _fold_store(stream, store_path, fold, checkpoint_location, trigger, query_name)


def read_histogram_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Read the newest maintained histogram version: ``(group…,
    hist_counts)`` — bins+2 exact long counts (underflow, interior,
    overflow), same schema a batch ``build_histogram_sketch``
    emits."""
    return _read_newest(spark, store_path, "histogram")


def ewma_stream(
    df: DataFrame,
    key_col: str,
    time_col: str,
    value_col: str,
    alpha: float,
    tiebreak_col: str | None = None,
    watermark_delay: str = "10 minutes",
    output_col: str = "ewma",
) -> DataFrame:
    """Streaming EWMA: the stateful twin of
    ``operators.timeseries.ewma`` — per key, the ``adjust=False``
    recursion ``y = α·x + (1−α)·y_prev`` carried across micro-batches
    through ``applyInPandasWithState``. State per key is exactly ONE
    DOUBLE (the last smoothed value), and because the per-step float
    expression is the SAME three IEEE ops as the batch operator, a
    key-ordered feed replays the batch output bit-identically — the
    oracle relationship every stateful op in this module keeps.

    Within a batch, rows fold in ``(time_col, tiebreak_col)`` order
    (pass a tiebreak when timestamps can collide — fold order must be
    total, the batch operator's uniqueness contract). Rows with NULL
    time or value are DROPPED (the batch op carries state through
    null values; a stream drops them so the emitted frame is exactly
    the folded rows). Emits one append-mode row per input row:
    ``(key_col, ts, value, output_col)``."""
    import pandas as pd  # noqa: F401 (worker closure)
    from pyspark.sql.types import (
        DoubleType,
        StructField,
        TimestampType,
    )

    if not 0.0 < float(alpha) <= 1.0:
        raise ConfigError("ewma_stream requires 0 < alpha <= 1")
    ktype = df.schema[key_col].dataType
    out_schema = StructType(
        [
            StructField(key_col, ktype),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
            StructField(output_col, DoubleType()),
        ]
    )
    state_schema = StructType([StructField("y", DoubleType())])
    a = float(alpha)
    b = 1.0 - a

    def fn(key, pdf_iter, state):
        import pandas as pd

        frames = [pdf for pdf in pdf_iter]
        events = (
            pd.concat(frames, ignore_index=True)
            .dropna(subset=[time_col, value_col])
            .sort_values(
                [time_col] + ([tiebreak_col] if tiebreak_col else []),
                kind="mergesort",
            )
        )
        if events.empty:
            return
        y = state.get[0] if state.exists else None
        xs = events[value_col].astype("float64").tolist()
        ys = []
        for x in xs:
            y = x if y is None else a * x + b * y
            ys.append(y)
        state.update((float(y),))
        yield pd.DataFrame(
            {
                key_col: [key[0]] * len(ys),
                "ts": events[time_col].to_numpy(),
                "value": xs,
                output_col: ys,
            }
        )

    return (
        df.withWatermark(time_col, watermark_delay)
        .groupBy(F.col(key_col))
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", "NoTimeout"
        )
    )
