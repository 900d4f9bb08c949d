"""``PipelineExecutor.execute`` is one run path: extract -> quality gate ->
plan -> load, with the whole plan built before any job.

- a registry lookup that fails (a transformation, sink or view type
  nobody registered) fails a quality-gated run before the gate's side
  actions start: nothing is quarantined, no duplicate check runs;
- ``--explain`` builds its plan under the run's session conf, so it
  shows the shuffle partitions the run uses;
- the ``extract`` phase is timed, in batch runs and streaming drains;
- the source's registry entry is looked up once per run and read once,
  and an incremental source commits only after a successful run.
"""

from __future__ import annotations

import json
import re
from collections import Counter

import pytest
import yaml
from pyspark.sql.types import DoubleType, StringType, StructField, StructType, TimestampType

from etl_spark_gradle_spark import cli, session
from etl_spark_gradle_spark import streaming as st
from etl_spark_gradle_spark.observability import MetricsCollector
from etl_spark_gradle_spark.operators import TRANSFORMER_REGISTRY
from etl_spark_gradle_spark.plans import executor
from etl_spark_gradle_spark.plans.config import parse_pipeline_dict
from etl_spark_gradle_spark.plans.executor import PipelineExecutor
from etl_spark_gradle_spark.sinks import LOADER_REGISTRY
from etl_spark_gradle_spark.sources import EXTRACTOR_REGISTRY

SHUFFLE = "spark.sql.shuffle.partitions"
EVENTS = StructType(
    [
        StructField("ts", TimestampType()),
        StructField("metric", StringType()),
        StructField("value", DoubleType()),
    ]
)


class _Counted:
    """One registry entry; every method call is counted by name."""

    def __init__(self, target, calls: Counter):
        self._target, self._calls = target, calls

    def __getattr__(self, name):
        attr = getattr(self._target, name)
        if not callable(attr):
            return attr

        def call(*args, **kwargs):
            self._calls[name] += 1
            return attr(*args, **kwargs)

        return call


class CountingRegistry:
    """Registry wrapper that counts ``get`` per key and the calls on the
    entries it hands out. Always truthy, like any registry the executor
    takes in place of the package's."""

    def __init__(self, registry, calls: Counter):
        self._registry, self.calls = registry, calls

    def __bool__(self) -> bool:
        return True

    def get(self, key, default=None):
        self.calls[f"get:{key}"] += 1
        target = self._registry.get(key)
        return default if target is None else _Counted(target, self.calls)


def _source(spark, tmp_path):
    path = tmp_path / "src"
    spark.createDataFrame(
        [("a@x", 1.0), (None, 2.0), ("b@x", 3.0), ("a@x", 4.0)], "email string, amount double"
    ).coalesce(1).write.parquet(str(path))
    return path


def _doc(src, tmp_path, **extra):
    doc = {
        "pipelineId": "run-path",
        "source": {"type": "file", "options": {"path": str(src), "format": "parquet"}},
        "transformations": [{"type": "filter", "options": {"condition": "amount > 0"}}],
        "sink": {
            "type": "file",
            "options": {"path": str(tmp_path / "out"), "format": "parquet"},
            "writeMode": "overwrite",
        },
    }
    doc.update(extra)
    return doc


QUALITY = {"duplicateCheck": True, "nullChecks": ["email"]}


@pytest.mark.parametrize(
    "broken, error",
    [
        (
            {"transformations": [{"type": "fliter", "options": {"condition": "amount > 0"}}]},
            "KeyError: \"no transformer registered for type 'fliter'\"",
        ),
        ("sink", "KeyError: \"no loader registered for sink type 'fiel'\""),
        (
            {"views": {"v": {"type": "fiel", "options": {"path": "/nowhere"}}}},
            "KeyError: \"no extractor registered for views.v type 'fiel'\"",
        ),
    ],
    ids=["transformation", "sink", "view"],
)
def test_plan_errors_fail_before_any_side_action(spark, tmp_path, monkeypatch, broken, error):
    duplicate_checks = []

    def duplicate_stats(df):
        duplicate_checks.append(df)
        return {"total": 0, "distinct": 0, "duplicates": 0}

    monkeypatch.setattr(executor, "row_hash_duplicate_stats", duplicate_stats)
    quarantine = tmp_path / "q"
    doc = _doc(
        _source(spark, tmp_path), tmp_path, quality={**QUALITY, "quarantinePath": str(quarantine)}
    )
    if broken == "sink":
        doc["sink"]["type"] = "fiel"
    else:
        doc.update(broken)
    metrics = PipelineExecutor().execute(parse_pipeline_dict(doc), spark)
    assert metrics.status == "FAILED"
    assert metrics.error_details == error
    assert not quarantine.exists()
    assert duplicate_checks == []
    assert not (tmp_path / "out").exists()


def _explain(spark, tmp_path, monkeypatch, capsys, doc) -> str:
    path = tmp_path / "p.yaml"
    path.write_text(yaml.safe_dump(doc))
    monkeypatch.setattr(session, "launches_jvm", lambda: False)
    monkeypatch.setattr(session, "get_spark", lambda **_: spark)
    assert cli.main(["--pipeline", str(path), "--explain"]) == 0
    return json.loads(capsys.readouterr().out.splitlines()[-1])["plan"]


def _hash_partitions(plan: str) -> set[int]:
    return {int(n) for n in re.findall(r"hashpartitioning\(.*?, (\d+)\)", plan)}


def test_explain_plans_under_the_run_conf(spark, tmp_path, monkeypatch, capsys):
    doc = _doc(
        _source(spark, tmp_path),
        tmp_path,
        transformations=[
            {
                "type": "aggregation",
                "options": {"groupBy": "email"},
                "aggregations": [{"column": "amount", "function": "sum", "alias": "total"}],
            }
        ],
        performance={"shufflePartitions": 3},
    )
    before = spark.conf.get(SHUFFLE)
    plan = _explain(spark, tmp_path, monkeypatch, capsys, doc)
    assert "hashpartitioning(email#" in plan
    assert _hash_partitions(plan) == {3}
    assert spark.conf.get(SHUFFLE) == before


def _stream_doc(tmp_path, **extra):
    src = tmp_path / "events"
    src.mkdir()
    rows = [("2024-01-01T10:00:05", "m1", 1.0), ("2024-01-01T10:05:00", "m2", 2.0)]
    with open(src / "a.json", "w", encoding="utf-8") as f:
        for ts, metric, value in rows:
            f.write(json.dumps({"ts": ts, "metric": metric, "value": value}) + "\n")
    schema = tmp_path / "events.schema.json"
    schema.write_text(EVENTS.json())
    doc = {
        "pipelineId": "run-path-stream",
        "streaming": True,
        "source": {
            "type": "file",
            "schemaPath": str(schema),
            "options": {"path": str(src), "format": "json"},
        },
        "transformations": [
            {
                "type": "windowing",
                "options": {
                    "windowType": "tumbling",
                    "windowDuration": "1 minute",
                    "timestampColumn": "ts",
                    "groupBy": "metric",
                    "watermarkDelay": "30 seconds",
                },
                "aggregations": "events:count(*)",
            }
        ],
        "sink": {
            "type": "file",
            "options": {
                "path": str(tmp_path / "out"),
                "format": "parquet",
                "checkpointLocation": str(tmp_path / "ckpt"),
            },
        },
    }
    doc.update(extra)
    return doc


def test_streaming_explain_plans_at_the_drain_partitions(spark, tmp_path, monkeypatch, capsys):
    before = spark.conf.get(SHUFFLE)
    doc = _stream_doc(tmp_path, performance={"shufflePartitions": 3})
    plan = _explain(spark, tmp_path, monkeypatch, capsys, doc)
    assert "REQUIRED_BY_STATEFUL_OPERATOR" in plan
    assert _hash_partitions(plan) == {3}
    assert spark.conf.get(SHUFFLE) == before


@pytest.mark.parametrize("mode", ["batch", "streaming"])
def test_extract_phase_is_timed(spark, tmp_path, mode):
    if mode == "batch":
        doc = _doc(_source(spark, tmp_path), tmp_path)
    else:
        doc = _stream_doc(tmp_path)
    collector = MetricsCollector()
    metrics = PipelineExecutor().execute(parse_pipeline_dict(doc), spark, collector=collector)
    assert metrics.status == "SUCCESS", metrics.error_details
    assert collector.phases["extract"].seconds > 0
    assert collector.phases["extract"].records == metrics.records_extracted


def _counting_executor(calls: Counter) -> PipelineExecutor:
    return PipelineExecutor(
        extractors=CountingRegistry(EXTRACTOR_REGISTRY, calls),
        transformers=CountingRegistry(TRANSFORMER_REGISTRY, Counter()),
        loaders=CountingRegistry(LOADER_REGISTRY, Counter()),
    )


@pytest.mark.parametrize("mode", ["plain", "quality", "streaming"])
def test_source_looked_up_and_read_once(spark, tmp_path, monkeypatch, mode):
    """A streaming source is read by ``streaming.read_source_stream``, not
    by the registry entry: that read is counted as its extract."""
    calls = Counter()
    read_source_stream = st.read_source_stream

    def counted_stream(*args, **kwargs):
        calls["read_source_stream"] += 1
        return read_source_stream(*args, **kwargs)

    monkeypatch.setattr(st, "read_source_stream", counted_stream)
    if mode == "streaming":
        doc = _stream_doc(tmp_path)
    else:
        doc = _doc(_source(spark, tmp_path), tmp_path)
    if mode == "quality":
        doc["quality"] = {**QUALITY, "quarantinePath": str(tmp_path / "q")}
    metrics = _counting_executor(calls).execute(parse_pipeline_dict(doc), spark)
    assert metrics.status == "SUCCESS", metrics.error_details
    assert calls["get:file"] == 1
    assert calls["extract"] + calls["read_source_stream"] == 1
    assert calls["read_source_stream"] == (mode == "streaming")


def test_incremental_source_commits_only_after_success(spark, tmp_path):
    landing = tmp_path / "landing"
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").write.parquet(str(landing))
    source = {
        "type": "file_incremental",
        "options": {"path": str(landing), "format": "parquet", "stateDir": str(tmp_path / "state")},
    }
    doc = _doc(None, tmp_path, source=source, transformations=[])
    doc["sink"]["type"] = "fiel"
    calls = Counter()
    failed = _counting_executor(calls).execute(parse_pipeline_dict(doc), spark)
    assert failed.status == "FAILED"
    assert calls["commit_processed"] == 0
    assert not (tmp_path / "state" / "processed.json").exists()

    doc["sink"]["type"] = "file"
    ok = _counting_executor(calls).execute(parse_pipeline_dict(doc), spark)
    assert ok.status == "SUCCESS", ok.error_details
    assert (calls["get:file_incremental"], calls["extract"], calls["commit_processed"]) == (2, 2, 1)
    assert ok.records_loaded == 2
