"""Pipeline executor: extract -> quality gate -> plan -> load.

Parity: ``pipeline/PipelineExecutor.scala:23-165`` — the same flat phase
sequence and failure contract (catch-all -> ``ExecutionMetrics`` with
status=FAILED). ``PipelineExecutor.execute`` is the one run path, for
batch, quality-gated and ``streaming: true`` pipelines alike:

1. one ``session_conf`` scope (``_run_conf``) around the whole run;
2. ``extract``: the main source (a batch read, or a ``readStream``) and
   the views;
3. the quality gate's lazy split (``quality.quality_gate``): schema
   validation, the valid branch and the side actions, none started. It
   is a no-op when quality is off;
4. ``build_plan`` on the valid branch;
5. the loader lookup;
6. the gate's side actions start (``quality.side_actions``);
7. the load: the lineage stamp and ``loader.load``, or
   ``streaming.write_stream`` and the drain's progress counts;
8. the side actions are joined, the counts filled and an incremental
   source's processed-file state committed.

Every registry lookup and plan error comes before step 6, so a mistyped
transformation or sink type fails the run before any Spark job and before
the sink or the quarantine is written.

Deliberate divergences for scale (SURVEY §4 anti-patterns):
- The reference runs ``count()`` after extract and after transform plus
  a ``count()`` inside the loader — the whole plan (including JDBC
  re-reads) executes up to 3x. Here the sink write is the ONLY action;
  ``records_extracted`` and ``records_loaded`` ride two
  ``df.observe()`` nodes attached to that one action.
- Lineage is computed driver-side and stamped once (see ``lineage.py``),
  not re-read from the data per step.
- ``cacheIntermediate`` is honored (config-only dead code in the
  reference) and cached frames are unpersisted after the sink action;
  ``quality.quarantinePath`` is honored (hardcoded at
  ``pipeline/PipelineExecutor.scala:113``).
- ``duplicateCheck`` actually runs (the reference computes it in
  ``quality/DataQualityChecker.scala:87-96`` via full-row
  ``distinct().count()`` — a shuffle of every column; here it is a
  groupBy over a 64-bit row hash, so the shuffle carries 8-byte keys
  regardless of row width).
- The reference runs the quality gate's three actions one after
  another: duplicate check, quarantine write, sink write. Here the
  first two run on a 2-thread pool alongside the sink write, under the
  caller's job group; every action is joined before ``execute``
  returns, and the incremental source commits only after all three
  succeeded. The outputs were never atomic with each other, and now a
  FAILED quality run may have written either of them (the quarantine
  is appended; ``file_incremental`` stays at-least-once). The run
  reports the error the reference's order would have raised first.
- ``streaming: true`` (an extension) runs the same steps with a
  ``readStream`` source and only the transformers that declare
  ``streamable``. Its output carries no ``_lineage`` column.
- A batch run into a file sink spreads an under-split source over the
  cores before its transformations (a parquet source under one row
  group's size arrives as one split carrying rows, and its sink write
  would encode every row in one task), unless the pipeline sets
  ``performance.repartition`` or the sink fixes its file count. The
  quality gate's side actions read the unsplit source.
- ``shufflePartitions`` is applied for the run (batch and streaming) and
  restored afterwards instead of leaking into later pipelines on a
  shared session.
- A streaming drain whose checkpoint is on the local filesystem writes
  it through Spark's ``FileSystemBasedCheckpointFileManager`` instead
  of the default ``FileContext`` one, for that drain only: without
  native Hadoop libraries every ``FileContext`` rename forks
  ``readlink`` four times. Checksums and ``.crc`` sidecars stay; other
  filesystems keep Spark's default.
- An ``availableNow`` drain runs with
  ``spark.sql.streaming.stateStore.unloadOnCommit``: each state-store
  task snapshots and cleans its store, then closes it, when it commits.
  Spark otherwise keeps every query run's stores loaded, each with four
  checksum-writer threads, until background maintenance unloads them
  60 s after the first load. A drain's run has ended by then, so a
  process that drained in a loop kept every drain's stores and
  threads, and with no snapshot written every drain replayed every
  delta since the checkpoint began.
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Iterator
from contextlib import contextmanager, nullcontext
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etl_spark_gradle_spark import lineage as lineage_mod
from etl_spark_gradle_spark.observability import MetricsCollector
from etl_spark_gradle_spark.plans.config import (
    ConfigError,
    ExecutionMetrics,
    PipelineConfig,
    RunContext,
    with_resolved_credentials,
)

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


@contextmanager
def session_conf(spark: SparkSession, settings: dict[str, object]) -> Iterator[None]:
    """Run the block with each session conf key in ``settings`` set to its
    value (a key with no value, None or 0, is left alone), then put the
    session's prior values back. A key the session never set gets unset
    again: ``conf.get(key, None)`` reads None there, while
    ``conf.get(key)`` would read Spark's built-in default."""
    settings = {key: str(value) for key, value in settings.items() if value}
    prior = {key: spark.conf.get(key, None) for key in settings}
    for key, value in settings.items():
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, value in prior.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def row_hash_duplicate_stats(df: DataFrame) -> dict[str, int]:
    """Full-row duplicate metrics: ``operators.dedup.duplicate_stats``
    over one 64-bit row hash, collected.

    Semantics match the reference's ``distinct().count()`` detection
    (``quality/DataQualityChecker.scala:87-96``) up to hash collisions
    (~n²/2⁶⁴ expected — negligible below ~10⁹ rows per check; pass key
    columns to ``operators.dedup.duplicate_stats`` for exactness), but
    the shuffle carries only the hash instead of every column — the
    difference between checking 100 TB and re-shuffling it.
    """
    from etl_spark_gradle_spark.operators.dedup import duplicate_stats

    hashed = df.select(F.xxhash64(*[F.col(c) for c in df.columns]).alias("__h"))
    row = duplicate_stats(hashed, ["__h"]).collect()[0]
    total = int(row["total"] or 0)
    distinct = int(row["distinct_keys"] or 0)
    return {"total": total, "distinct": distinct, "duplicates": total - distinct}


def _run_conf(config: PipelineConfig, spark: SparkSession) -> dict[str, object]:
    """Session conf for the whole run, in one ``session_conf`` scope:
    ``performance.shufflePartitions``, and ``nanosAsLong`` when a parquet
    source or view sets it (the reader sets a session-wide key).

    A ``streaming: true`` drain takes ``shufflePartitions`` when set,
    else min(session value, ``defaultParallelism``): AQE does not
    coalesce a micro-batch's shuffle, so the session's batch-sized
    ceiling would cost one state-store task per partition per batch.
    Spark pins the count in the checkpoint's offset log at first start,
    so this sizes new checkpoints only. A drain whose checkpoint and
    file-sink metadata live on the local filesystem writes them through
    Spark's ``FileSystemBasedCheckpointFileManager``
    (``streaming.local_checkpoint``), and an ``availableNow`` drain
    (``streaming.is_drain``) unloads its state stores on commit, after a
    synchronous maintenance pass, so none outlives the drain."""
    from etl_spark_gradle_spark.sources.extractors import NANOS_AS_LONG, reads_nanos_as_long

    partitions = config.performance.shuffle_partitions
    settings = {SHUFFLE_PARTITIONS: partitions}
    sources = [config.source, *(source for _, source in config.views)]
    if any(reads_nanos_as_long(source.options) for source in sources):
        settings[NANOS_AS_LONG] = "true"
    if not config.streaming:
        return settings
    from etl_spark_gradle_spark import streaming

    sink = with_resolved_credentials(config.sink).options
    settings[SHUFFLE_PARTITIONS] = partitions or min(
        int(spark.conf.get(SHUFFLE_PARTITIONS)), spark.sparkContext.defaultParallelism
    )
    if streaming.local_checkpoint(spark, sink):
        settings[streaming.CHECKPOINT_FILE_MANAGER] = streaming.FILE_SYSTEM_CHECKPOINTS
    if streaming.is_drain(sink):
        settings[streaming.UNLOAD_ON_COMMIT] = "true"
    return settings


def _spreads_output(config: PipelineConfig) -> bool:
    """A file sink whose output file count the pipeline leaves to Spark:
    the sink write then runs one task per source split, and an
    under-split source is spread over the cores first."""
    sink = config.sink
    return sink.type in ("file", "s3") and not (
        sink.options.get("coalesce") or sink.options.get("targetFileSizeMB")
    )


class Plan(NamedTuple):
    """``build_plan``'s lazy plan: the transformed frame, its lineage
    steps, the extract ``Observation`` that rides the sink action (None
    when not counted) and the frames ``cacheIntermediate`` cached."""

    transformed: DataFrame
    steps: list[str]
    extract_obs: Observation | None
    cached: list[DataFrame]


class PipelineExecutor:
    """Drives one ``PipelineConfig`` to completion.

    Three-level API preserved from the reference (SURVEY §3.3):
    (a) CLI (``cli.py``), (b) ``PipelineExecutor().execute(config, spark)``,
    (c) the individual operator functions in ``operators/``. ``extract``
    and ``build_plan`` are the run's steps 2 and 4, public for callers
    that want the plan without running it (``cli --explain``).
    """

    def __init__(self, extractors=None, transformers=None, loaders=None):
        # late imports keep registries overridable and import-cheap
        from etl_spark_gradle_spark.operators import TRANSFORMER_REGISTRY
        from etl_spark_gradle_spark.sinks import LOADER_REGISTRY
        from etl_spark_gradle_spark.sources import EXTRACTOR_REGISTRY

        self.extractors = extractors or EXTRACTOR_REGISTRY
        self.transformers = transformers or TRANSFORMER_REGISTRY
        self.loaders = loaders or LOADER_REGISTRY

    def execute(
        self,
        config: PipelineConfig,
        spark: SparkSession,
        collector: MetricsCollector | None = None,
    ) -> ExecutionMetrics:
        """Run the pipeline, batch, quality-gated or ``streaming: true``
        (parity: ``pipeline/PipelineExecutor.scala:23-165``), through the
        steps in the module docstring. Any error ends the run with
        status FAILED and its text in ``error_details``; the session conf
        is restored and the gate's side actions are joined first."""
        # not at module top: quality imports plans.config, so a top-level
        # import would leave "import etl_spark_gradle_spark.quality" half
        # initialized (plans/__init__ -> executor -> quality)
        from etl_spark_gradle_spark.quality import quality_gate, side_actions

        ctx = RunContext.create(config.pipeline_id, spark)
        collector = collector or MetricsCollector()
        collector.pipeline_id, collector.run_id = config.pipeline_id, ctx.run_id
        metrics = ExecutionMetrics(config.pipeline_id, ctx.run_id, start_timestamp=time.time())
        metrics.status = "RUNNING"
        plan = report = None
        try:
            with session_conf(spark, _run_conf(config, spark)):
                with collector.phase("extract"):
                    extractor, df = self.extract(config, ctx)
                valid, actions = quality_gate(
                    df, config.quality, config.pipeline_id, ctx.run_id, config.source.schema_path
                )
                with collector.phase("plan"):
                    plan = self.build_plan(config, ctx, valid)
                # a drain writes through streaming.write_stream, no loader
                loader = None if config.streaming else _registered(
                    self.loaders, "loader", "sink type", config.sink.type
                )
                # the quality phase spans the side actions, from submission
                # to join: it overlaps the load
                quality = collector.phase("quality") if config.quality.enabled else nullcontext()
                with quality, side_actions(spark, actions) as report, collector.phase("load"):
                    extracted, metrics.records_loaded = self._load(
                        config, ctx, plan, extractor, loader
                    )
            metrics.records_transformed = metrics.records_loaded
            # the extract count observes the gate's valid branch: the
            # quarantined rows are added back
            metrics.records_extracted = extracted + report.quarantined if extracted >= 0 else -1
            metrics.quality_report = report if config.quality.enabled else None
            # an incremental source (file_incremental) staged its batch at
            # extract time and marks it processed only here, after every
            # action succeeded: a failed run re-discovers the same files
            if hasattr(extractor, "commit_processed"):
                extractor.commit_processed(config.source)
            collector.record("extract", metrics.records_extracted)
            collector.record("load", metrics.records_loaded)
            metrics.status = "SUCCESS"
        except Exception as e:  # noqa: BLE001 — failure contract returns metrics
            metrics.status = "FAILED"
            metrics.error_details = f"{type(e).__name__}: {e}"
        finally:
            # filled when the side actions were joined, a failed load too
            if report is not None:
                metrics.records_failed = report.quarantined
            for frame in plan.cached if plan else ():
                try:
                    frame.unpersist()
                except Exception:  # noqa: BLE001 — best-effort cleanup
                    pass
            metrics.end_timestamp = time.time()
        return metrics

    def extract(self, config: PipelineConfig, ctx: RunContext) -> tuple[object, DataFrame]:
        """Step 2: the main source's frame, a ``readStream`` for a
        ``streaming: true`` pipeline (``streaming.read_source_stream``),
        and the views, registered as temp views for join/setop/range_join
        ``rightTable`` lookups. Lazy like everything else: a view that no
        transformation reads is never scanned.

        Returns ``(extractor, df)``: the source's registry entry, which
        the run asks for the lineage source identifier and the
        post-success state commit, and the frame."""
        extractor = _registered(self.extractors, "extractor", "source type", config.source.type)
        source = with_resolved_credentials(config.source)
        if config.streaming:
            from etl_spark_gradle_spark import streaming

            df = streaming.read_source_stream(source, ctx.spark)
        else:
            df = extractor.extract(source, ctx.spark)
        for view_name, view_src in config.views:
            view_extractor = _registered(
                self.extractors, "extractor", f"views.{view_name} type", view_src.type
            )
            if hasattr(view_extractor, "commit_processed"):
                # only the MAIN source participates in the post-success
                # state commit; an incremental view would stage pending
                # batches that never commit — every run silently
                # re-reading the same files while appearing to work
                raise KeyError(
                    f"views.{view_name}: incremental source type "
                    f"'{view_src.type}' is only supported as the main "
                    "pipeline source (views never commit processed-file "
                    "state) — use type 'file' for the view"
                )
            view_extractor.extract(
                with_resolved_credentials(view_src), ctx.spark
            ).createOrReplaceTempView(view_name)
        return extractor, df

    def build_plan(self, config: PipelineConfig, ctx: RunContext, df: DataFrame) -> Plan:
        """Step 4: compose the lazy plan on ``df`` — the extract, or the
        quality gate's valid branch (phase structure parity:
        ``pipeline/PipelineExecutor.scala:30-48``), batch or streaming.
        No action runs; ``extract_obs`` rides the eventual sink action,
        no separate counting job. A streaming plan has no
        ``extract_obs``; its steps pick their streaming form from
        ``df.isStreaming``.

        Without ``performance.repartition``, a batch plan into a file sink
        (``_spreads_output``) repartitions its source round-robin to
        ``defaultParallelism`` when the source scan has fewer splits that
        carry rows (``operators.dedup._ensure_parallelism``): a parquet
        file under one row group's size is read, and its output encoded,
        by one task.
        """
        if config.performance.repartition:
            df = df.repartition(config.performance.repartition)
        elif not config.streaming and _spreads_output(config):
            from etl_spark_gradle_spark.operators.dedup import _ensure_parallelism

            df = _ensure_parallelism(df, probe=False)

        if config.performance.skip_extract_count or config.streaming:
            # no CollectMetrics barrier: downstream filters push all the
            # way into the scan; records_extracted is reported as -1.
            # Spark raises on an Observation over a streaming Dataset
            extract_obs = None
        else:
            extract_obs = Observation(f"extract_{uuid.uuid4().hex[:8]}")
            df = df.observe(extract_obs, F.count(F.lit(1)).alias("records_extracted"))

        steps: list[str] = []
        cached: list[DataFrame] = []
        for t_config in config.transformations:
            transformer = _registered(self.transformers, "transformer", "type", t_config.type)
            if config.streaming and not getattr(transformer, "streamable", False):
                raise ConfigError(
                    f"transformation '{t_config.type}' is not streamable — supported in "
                    f"streaming mode: {', '.join(_streamable_types())}"
                )
            df = transformer.transform(df, t_config, ctx)
            steps.append(transformer.lineage_step(t_config))
            if config.performance.cache_intermediate:
                df = df.cache()
                cached.append(df)
        return Plan(df, steps, extract_obs, cached)

    def _load(self, config, ctx, plan: Plan, extractor, loader) -> tuple[int, int]:
        """Step 7: the plan's one action. Returns (rows extracted, rows
        loaded), -1 where not known.

        Batch: the lineage stamp, then ``loader.load``; the extract count
        is the ``Observation`` that rode the write. Streaming: one
        ``streaming.write_stream`` drain, with no lineage column, counted
        by ``_progress_counts``."""
        sink = with_resolved_credentials(config.sink)
        if config.streaming:
            from etl_spark_gradle_spark import streaming

            query = streaming.write_stream(
                plan.transformed, sink.options, output_mode="append", await_termination=True
            )
            return _progress_counts(query, ctx.spark)
        source_id = extractor.source_identifier(config.source)
        meta = lineage_mod.build_lineage(config.source.type, source_id, plan.steps)
        final = lineage_mod.stamp_lineage(plan.transformed, meta, config.pipeline_id, ctx.run_id)
        loaded = loader.load(final, sink, ctx.run_id).records_written
        return _observed_count(plan.extract_obs), loaded


def _streamable_types() -> list[str]:
    """The registered transformer types whose adapter sets ``streamable``
    (imports every operator module; called only to word a rejection)."""
    from etl_spark_gradle_spark.operators import TRANSFORMER_REGISTRY

    return [k for k, t in TRANSFORMER_REGISTRY.items() if getattr(t, "streamable", False)]


def _registered(registry, kind: str, field: str, key: str):
    """``registry.get(key)``, or a KeyError that names the pipeline field
    asking for it: "no loader registered for sink type 'x'"."""
    found = registry.get(key)
    if found is None:
        raise KeyError(f"no {kind} registered for {field} '{key}'")
    return found


def _observed_count(obs: Observation | None) -> int:
    """The extract count that rode the sink action, or -1 when not
    counted (``skipExtractCount``) or lost. ``Observation.get`` raises a
    JVM assertion when the observed node's metrics never materialized:
    AQE can eliminate the observed subtree entirely (seen: an EMPTY
    keyword-match relation empty-propagated through a LEFT ANTI join
    whose other side re-reads the source, leaving no executed task with
    the observe node). The output is correct then, so the count degrades
    to -1 instead of failing the run."""
    if obs is None:
        return -1
    try:
        return int(obs.get["records_extracted"])
    except Exception:  # noqa: BLE001 — lost-observation fallback
        return -1


def _progress_counts(query, spark: SparkSession) -> tuple[int, int]:
    """A finished drain's (rows extracted, rows loaded), from its
    progress, no extra job. Rows extracted sum the batches'
    ``numInputRows`` — the rows the source produced, after any filter
    Spark pushed into the scan (a leading ``filter`` on a JSON or Parquet
    file source), so it can be below the rows landed. Rows loaded are
    the sink's ``numOutputRows``, or -1 when the sink reports none (a
    file sink reports -1). Both read -1 when the drain ran enough batches
    to fill the query's progress buffer
    (``spark.sql.streaming.numRecentProgressUpdates``, default 100)."""
    progress = query.recentProgress
    # Spark keeps numRecentProgressUpdates - 1 entries, dropping the
    # oldest: a full buffer may have lost batches
    kept = int(spark.conf.get("spark.sql.streaming.numRecentProgressUpdates")) - 1
    if len(progress) >= kept:
        return -1, -1
    outputs = [p.sink.numOutputRows for p in progress]
    loaded = sum(outputs) if min(outputs, default=0) >= 0 else -1
    return sum(p.numInputRows for p in progress), loaded
