"""Pipeline executor: extract -> transform* -> load, with quality gates.

Parity: ``pipeline/PipelineExecutor.scala:23-165`` — same phase
structure, same failure contract (catch-all -> ``ExecutionMetrics``
with status=FAILED), same quality-gated variant (null-check split,
quarantine, transform only the valid branch).

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
- ``streaming: true`` (an extension) builds its plan in ``build_plan``
  too, from a ``readStream`` source, with only the transformers that
  declare ``streamable``. Its output carries no ``_lineage`` column.
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


def _source_conf(config: PipelineConfig) -> dict[str, str]:
    """Session conf the run's sources need for the whole run: a parquet
    source or view with ``nanosAsLong`` sets a session-wide key, which
    the run's ``session_conf`` scope then restores."""
    from etl_spark_gradle_spark.sources.extractors import NANOS_AS_LONG, reads_nanos_as_long

    sources = [config.source, *(source for _, source in config.views)]
    if any(reads_nanos_as_long(source.options) for source in sources):
        return {NANOS_AS_LONG: "true"}
    return {}


def _spreads_output(config: PipelineConfig) -> bool:
    """A file sink whose output file count the pipeline leaves to Spark:
    the sink write then runs one task per source split, and an
    under-split source is spread over the cores first."""
    sink = config.sink
    return sink.type in ("file", "s3") and not (
        sink.options.get("coalesce") or sink.options.get("targetFileSizeMB")
    )


class PipelineExecutor:
    """Drives one ``PipelineConfig`` to completion.

    Three-level API preserved from the reference (SURVEY §3.3):
    (a) CLI (``cli.py``), (b) ``PipelineExecutor().execute(config, spark)``,
    (c) the individual operator functions in ``operators/``.
    """

    def __init__(self, extractors=None, transformers=None, loaders=None):
        # late imports keep registries overridable and import-cheap
        from etl_spark_gradle_spark.operators import TRANSFORMER_REGISTRY
        from etl_spark_gradle_spark.sinks import LOADER_REGISTRY
        from etl_spark_gradle_spark.sources import EXTRACTOR_REGISTRY

        self.extractors = extractors or EXTRACTOR_REGISTRY
        self.transformers = transformers or TRANSFORMER_REGISTRY
        self.loaders = loaders or LOADER_REGISTRY

    # -- plan construction (no actions) ------------------------------------

    def build_plan(
        self,
        config: PipelineConfig,
        ctx: RunContext,
        input_df: DataFrame | None = None,
    ) -> tuple[DataFrame, DataFrame, list[str], Observation, list[DataFrame]]:
        """Compose the full lazy plan (phase structure parity:
        ``pipeline/PipelineExecutor.scala:30-48``), batch or streaming.

        ``input_df`` lets the quality path feed the valid branch through
        the SAME performance/transformation plumbing as the plain path.
        Returns (extracted, transformed, lineage_steps, extract_obs,
        cached_frames); ``extract_obs`` rides the eventual sink action —
        no separate counting job. A streaming plan reads a ``readStream``
        and has no ``extract_obs``; its steps pick their streaming form
        from ``df.isStreaming``.

        Without ``performance.repartition``, a batch plan into a file sink
        (``_spreads_output``) repartitions its source round-robin to
        ``defaultParallelism`` when the source scan has fewer splits that
        carry rows (``operators.dedup._ensure_parallelism``): a parquet
        file under one row group's size is read, and its output encoded,
        by one task.
        """
        if input_df is not None:
            df = input_df
        elif config.streaming:
            from etl_spark_gradle_spark import streaming

            df = streaming.read_source_stream(with_resolved_credentials(config.source), ctx.spark)
        else:
            extractor = self.extractors.get(config.source.type)
            if extractor is None:
                raise KeyError(
                    f"no extractor registered for source type '{config.source.type}'"
                )
            df = extractor.extract(with_resolved_credentials(config.source), ctx.spark)

        # secondary sources → named temp views, available to join/setop/
        # range_join rightTable lookups. Lazy like everything else: a
        # view that no transformation reads is never scanned.
        for view_name, view_src in config.views:
            view_extractor = self.extractors.get(view_src.type)
            if view_extractor is None:
                raise KeyError(
                    f"no extractor registered for views.{view_name} type '{view_src.type}'"
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
        out = df
        for t_config in config.transformations:
            transformer = self.transformers.get(t_config.type)
            if transformer is None:
                raise KeyError(f"no transformer registered for type '{t_config.type}'")
            if config.streaming and not getattr(transformer, "streamable", False):
                raise ConfigError(
                    f"transformation '{t_config.type}' is not streamable — supported in "
                    "streaming mode: filter, map, windowing, dedup, ewma"
                )
            out = transformer.transform(out, t_config, ctx)
            steps.append(transformer.lineage_step(t_config))
            if config.performance.cache_intermediate:
                out = out.cache()
                cached.append(out)
        return df, out, steps, extract_obs, cached

    # -- execution ----------------------------------------------------------

    def execute(
        self,
        config: PipelineConfig,
        spark: SparkSession,
        collector: MetricsCollector | None = None,
    ) -> ExecutionMetrics:
        """Plain run (parity: ``pipeline/PipelineExecutor.scala:23-83``).
        Routes to the quality-gated path when quality checks are enabled
        (parity: ``Main.scala:105-123``); a ``streaming: true`` pipeline
        (extension, never quality-gated) runs as one drain."""
        if config.quality.enabled:
            return self.execute_with_quality(config, spark, collector)
        return self._run(config, spark, quality=False, collector=collector)

    def _drain(
        self,
        config: PipelineConfig,
        ctx: RunContext,
        collector: MetricsCollector,
        metrics: ExecutionMetrics,
    ) -> None:
        """``streaming: true`` mode — one availableNow drain: the plan
        ``build_plan`` builds, started by ``streaming.write_stream``
        (``load`` spans the whole drain), with no lineage column.

        Shuffle partitions: ``performance.shufflePartitions`` when set,
        else min(session value, ``defaultParallelism``). AQE does not
        coalesce a micro-batch's shuffle, so the session's batch-sized
        ceiling would cost one state-store task per partition per batch.
        Spark pins the count in the checkpoint's offset log at first
        start: this sizes new checkpoints only, old ones keep theirs.

        Counts come from the finished query's progress, no extra job:
        ``records_extracted`` sums the batches' ``numInputRows`` — the
        rows the source produced, after any filter Spark pushed into the
        scan (a leading ``filter`` on a JSON or Parquet file source), so
        it can be below the rows landed. ``records_loaded`` is the
        sink's ``numOutputRows``, or -1 when the sink reports none (a
        file sink reports -1). Both read -1 when the drain ran enough
        batches to fill the query's progress buffer
        (``spark.sql.streaming.numRecentProgressUpdates``, default 100).

        A drain whose checkpoint and file-sink metadata live on the local
        filesystem writes them through Spark's
        ``FileSystemBasedCheckpointFileManager``
        (``streaming.local_checkpoint``), scoped like the partitions. An
        ``availableNow`` drain (``streaming.is_drain``) also unloads its
        state stores on commit, after a synchronous maintenance pass, so
        none outlives the drain."""
        from etl_spark_gradle_spark import streaming

        spark = ctx.spark
        sink = with_resolved_credentials(config.sink).options
        partitions = config.performance.shuffle_partitions or min(
            int(spark.conf.get(SHUFFLE_PARTITIONS)), spark.sparkContext.defaultParallelism
        )
        settings = {SHUFFLE_PARTITIONS: partitions, **_source_conf(config)}
        if streaming.local_checkpoint(spark, sink):
            settings[streaming.CHECKPOINT_FILE_MANAGER] = streaming.FILE_SYSTEM_CHECKPOINTS
        if streaming.is_drain(sink):
            settings[streaming.UNLOAD_ON_COMMIT] = "true"
        with session_conf(spark, settings):
            with collector.phase("plan"):
                transformed = self.build_plan(config, ctx)[1]
            with collector.phase("load"):
                query = streaming.write_stream(
                    transformed, sink, output_mode="append", await_termination=True
                )
        progress = query.recentProgress
        # Spark keeps numRecentProgressUpdates - 1 entries, dropping
        # the oldest: a full buffer may have lost batches
        kept = int(spark.conf.get("spark.sql.streaming.numRecentProgressUpdates")) - 1
        if len(progress) < kept:
            metrics.records_extracted = sum(p.numInputRows for p in progress)
            outputs = [p.sink.numOutputRows for p in progress]
            metrics.records_loaded = sum(outputs) if min(outputs, default=0) >= 0 else -1
        else:
            metrics.records_extracted = metrics.records_loaded = -1
        metrics.records_transformed = metrics.records_loaded

    def execute_with_quality(
        self,
        config: PipelineConfig,
        spark: SparkSession,
        collector: MetricsCollector | None = None,
    ) -> ExecutionMetrics:
        """Quality-gated run (parity:
        ``pipeline/PipelineExecutor.scala:90-165``): extract -> schema
        validation -> null-check split -> transform valid -> load, with
        the duplicate check and the quarantine write of the invalid rows
        running alongside the load (``quality.quality_gate``). The valid
        branch goes through ``build_plan`` so performance knobs behave
        identically to the plain path."""
        return self._run(config, spark, quality=True, collector=collector)

    def _run(
        self,
        config: PipelineConfig,
        spark: SparkSession,
        quality: bool,
        collector: MetricsCollector | None = None,
    ) -> ExecutionMetrics:
        ctx = RunContext.create(config.pipeline_id, spark)
        collector = collector or MetricsCollector()
        collector.pipeline_id, collector.run_id = config.pipeline_id, ctx.run_id
        metrics = ExecutionMetrics(config.pipeline_id, ctx.run_id, start_timestamp=time.time())
        metrics.status = "RUNNING"
        cached: list[DataFrame] = []
        try:
            if config.streaming:
                self._drain(config, ctx, collector, metrics)
            else:
                partitions = config.performance.shuffle_partitions
                settings = {SHUFFLE_PARTITIONS: partitions, **_source_conf(config)}
                with session_conf(spark, settings):
                    extractor = self.extractors.get(config.source.type)
                    if extractor is None:
                        raise KeyError(
                            f"no extractor registered for source type '{config.source.type}'"
                        )

                    # the quality phase spans the gate's side actions, from
                    # submission to join, so it overlaps plan and load
                    with collector.phase("quality") if quality else nullcontext():
                        input_df, pending, report = None, None, None
                        if quality:
                            # imported here, not at module top: quality.py imports
                            # plans.config, and a module-top import would make
                            # "import etl_spark_gradle_spark.quality" fail standalone
                            # (plans/__init__ -> executor -> partially-initialized quality)
                            from etl_spark_gradle_spark.quality import quality_gate

                            extracted = extractor.extract(
                                with_resolved_credentials(config.source), ctx.spark
                            )
                            input_df, pending = quality_gate(
                                extracted,
                                config.quality,
                                config.pipeline_id,
                                ctx.run_id,
                                schema_path=config.source.schema_path,
                            )
                        try:
                            with collector.phase("plan"):
                                extracted_df, transformed, steps, extract_obs, cached = (
                                    self.build_plan(config, ctx, input_df=input_df)
                                )

                            source_id = extractor.source_identifier(config.source)
                            meta = lineage_mod.build_lineage(config.source.type, source_id, steps)
                            final = lineage_mod.stamp_lineage(
                                transformed, meta, config.pipeline_id, ctx.run_id
                            )

                            loader = self.loaders.get(config.sink.type)
                            if loader is None:
                                raise KeyError(
                                    f"no loader registered for sink type '{config.sink.type}'"
                                )
                            with collector.phase("load"):
                                result = loader.load(
                                    final, with_resolved_credentials(config.sink), ctx.run_id
                                )
                        finally:
                            # join the side actions on every path, so no thread
                            # outlives the run; an error of theirs replaces one
                            # raised above, as the reference's order would have it
                            if pending:
                                report = pending()
                                metrics.records_failed = report.quarantined

                    metrics.records_loaded = result.records_written
                    metrics.records_transformed = result.records_written
                    # the observation rode the sink action — no extra job ran.
                    # In the quality path it observes the valid branch, so the
                    # quarantined rows are added back to get the extracted total.
                    # Observation.get raises a JVM assertion when the observed
                    # node's metrics never materialized — AQE can eliminate the
                    # observed subtree entirely (seen: an EMPTY keyword-match
                    # relation empty-propagated through a LEFT ANTI join whose
                    # other side re-reads the source, leaving no executed task
                    # containing the observe node). The pipeline's OUTPUT is
                    # correct in that case; failing the run over a lost counter
                    # would be wrong, so degrade to the documented -1 sentinel
                    # (same contract as performance.skipExtractCount).
                    if extract_obs is not None:
                        try:
                            metrics.records_extracted = (
                                int(extract_obs.get["records_extracted"])
                                + metrics.records_failed
                            )
                        except Exception:  # noqa: BLE001 — lost-observation fallback
                            metrics.records_extracted = -1
                    else:
                        metrics.records_extracted = -1
                    metrics.quality_report = report
                    # incremental sources (file_incremental) stage their batch
                    # at extract time and only mark it processed HERE, after
                    # the sink action succeeded — a failed run re-discovers the
                    # same files next time (at-least-once)
                    commit = getattr(extractor, "commit_processed", None)
                    if commit is not None:
                        commit(config.source)
            collector.record("extract", metrics.records_extracted)
            collector.record("load", metrics.records_loaded)
            metrics.status = "SUCCESS"
        except Exception as e:  # noqa: BLE001 — failure contract returns metrics
            metrics.status = "FAILED"
            metrics.error_details = f"{type(e).__name__}: {e}"
        finally:
            for frame in cached:
                try:
                    frame.unpersist()
                except Exception:  # noqa: BLE001 — best-effort cleanup
                    pass
            metrics.end_timestamp = time.time()
        return metrics
