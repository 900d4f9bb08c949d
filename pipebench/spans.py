"""Layer tracing from outside the package.

Spans are recorded around calls into each layer's public functions: the
executor's registries are wrapped and handed to
``PipelineExecutor(extractors=, transformers=, loaders=)``, and the few
calls the executor makes through module attributes (quality checks, the
streaming path) are patched for the traced iterations only. Spans stay in
memory until ``dump`` writes them out at the end of the run.

Only the outermost span open at a time is kept, so a layer function that
calls another traced function (the batch filter transformer calling
``filter_rows``) is not counted twice.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path
from statistics import median

LAYER_SPANS = ("sources.extract", "operators.transform", "quality.check", "sinks.load")


class _TracedLayer:
    """Proxy for one registry entry: ``method`` calls are timed, every other
    attribute (``lineage_step``, ``commit_processed`` ...) passes through, so
    ``hasattr`` checks in the executor see the wrapped object unchanged."""

    def __init__(self, target, method: str, span: str, tracer: "Tracer"):
        self._target, self._method, self._span, self._tracer = target, method, span, tracer

    def __getattr__(self, name):
        attr = getattr(self._target, name)
        if name != self._method:
            return attr
        return self._tracer.timed(self._span, attr)


class TracedRegistry:
    """Registry wrapper. Always truthy: the executor falls back to the
    package registry on ``registry or DEFAULT``, which an empty-looking
    wrapper would trigger silently."""

    def __init__(self, registry, method: str, span: str, tracer: "Tracer"):
        self._registry, self._method, self._span, self._tracer = registry, method, span, tracer

    def __bool__(self) -> bool:
        return True

    def get(self, key, default=None):
        target = self._registry.get(key)
        if target is None:
            return default
        return _TracedLayer(target, self._method, self._span, self._tracer)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.iteration: int | None = None
        self._depth = 0
        self._stream_groups: list[str] = []

    # -- spans --------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        outer = self._depth == 0
        transform = outer and name == "operators.transform"
        if transform:
            self._set_group(f"{self._group()}:transform")
        self._depth += 1
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._depth -= 1
            if transform:
                self._set_group(self._group())
            if outer:
                self.spans.append(
                    {"iteration": self.iteration, "name": name, "start": start, "end": end}
                )

    def timed(self, name: str, fn):
        def call(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return call

    # -- wrapping -----------------------------------------------------------

    def executor(self):
        from etl_spark_gradle_spark.operators import TRANSFORMER_REGISTRY
        from etl_spark_gradle_spark.plans import PipelineExecutor
        from etl_spark_gradle_spark.sinks import LOADER_REGISTRY
        from etl_spark_gradle_spark.sources import EXTRACTOR_REGISTRY

        return PipelineExecutor(
            extractors=TracedRegistry(EXTRACTOR_REGISTRY, "extract", "sources.extract", self),
            transformers=TracedRegistry(TRANSFORMER_REGISTRY, "transform", "operators.transform", self),
            loaders=TracedRegistry(LOADER_REGISTRY, "load", "sinks.load", self),
        )

    @contextmanager
    def patched(self):
        """Module-attribute patches for the calls the registries do not see:
        the quality checks and every layer of the streaming path."""
        from etl_spark_gradle_spark import quality, streaming
        from etl_spark_gradle_spark.operators import relational
        from etl_spark_gradle_spark.plans import executor

        targets = [
            (executor, "row_hash_duplicate_stats", "quality.check"),
            (quality, "quarantine", "quality.check"),
            (streaming, "read_file_stream", "sources.extract"),
            (relational, "filter_rows", "operators.transform"),
            (relational, "map_columns", "operators.transform"),
            (streaming, "windowed_stream_agg", "operators.transform"),
        ]
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
        for mod, attr, name in targets:
            setattr(mod, attr, self.timed(name, getattr(mod, attr)))
        write_stream = streaming.write_stream

        def traced_write_stream(*args, **kwargs):
            with self.span("sinks.load"):
                query = write_stream(*args, **kwargs)
            # a streaming query runs its jobs under its own run id as group
            self._stream_groups.append(str(query.runId))
            return query

        streaming.write_stream = traced_write_stream
        saved.append((streaming, "write_stream", write_stream))
        try:
            yield
        finally:
            for mod, attr, original in saved:
                setattr(mod, attr, original)

    # -- Spark job accounting ---------------------------------------------------

    def _group(self) -> str:
        return f"pipebench-{self.iteration}"

    def _set_group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    def begin(self, iteration: int) -> None:
        self.iteration = iteration
        self._stream_groups = []
        self._set_group(self._group())

    def end(self) -> tuple[dict, dict]:
        """Close the iteration: layer seconds from its spans, and job, stage
        and task counts from Spark's status tracker."""
        sc = self.spark.sparkContext
        sc._jsc.clearJobGroup()
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        transform_jobs = list(tracker.getJobIdsForGroup(f"{self._group()}:transform"))
        jobs = list(tracker.getJobIdsForGroup(self._group())) + transform_jobs
        for group in self._stream_groups:
            jobs += list(tracker.getJobIdsForGroup(group))
        gw = sc._gateway
        store = jsc.statusStore()
        stages = tasks = failed = shuffle_bytes = run_ms = 0
        for job in jobs:
            info = tracker.getJobInfo(job)
            for stage in list(info.stageIds) if info else []:
                stage_info = tracker.getStageInfo(stage)
                if stage_info is None or not stage_info.numCompletedTasks:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += stage_info.numCompletedTasks
                failed += stage_info.numFailedTasks
                attempts = store.stageData(
                    stage, False, gw.jvm.java.util.ArrayList(), False, gw.new_array(gw.jvm.double, 0)
                )
                for i in range(attempts.size()):
                    shuffle_bytes += attempts.apply(i).shuffleWriteBytes()
                    run_ms += attempts.apply(i).executorRunTime()
        layer = defaultdict(float)
        for s in self.spans:
            if s["iteration"] == self.iteration:
                layer[s["name"]] += s["end"] - s["start"]
        return dict(layer), {
            "operators.jobs": len(transform_jobs),
            "session.jobs": len(jobs),
            "session.stages": stages,
            "session.tasks": tasks,
            "session.tasks_failed": failed,
            "session.shuffle_mb": shuffle_bytes / 1e6,
            "session.executor_run_s": run_ms / 1e3,
        }

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans))


def summarize(records: list[dict]) -> dict:
    """Median of every per-iteration number over the traced iterations."""
    keys = sorted({k for r in records for k in r})
    return {k: median(r.get(k, 0) for r in records) for k in keys}
