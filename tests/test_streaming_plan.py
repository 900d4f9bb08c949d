"""One plan builder for batch and streaming: ``streaming: true`` pipelines
go through ``PipelineExecutor.build_plan`` — the registry, each step's
``validate``, the collector — and ``--explain`` prints the plan a drain
runs. Also: the versioned-store fold lists its store once per batch."""

from __future__ import annotations

import json

import pytest
from pyspark.sql.types import DoubleType, StringType, StructField, StructType, TimestampType

from etl_spark_gradle_spark import streaming as st
from etl_spark_gradle_spark.observability import MetricsCollector
from etl_spark_gradle_spark.plans.config import ConfigError, parse_pipeline_dict
from etl_spark_gradle_spark.plans.executor import PipelineExecutor

SCHEMA = StructType(
    [
        StructField("ts", TimestampType()),
        StructField("metric", StringType()),
        StructField("value", DoubleType()),
    ]
)
WINDOWING = {
    "type": "windowing",
    "options": {
        "windowType": "tumbling",
        "windowDuration": "1 minute",
        "timestampColumn": "ts",
        "groupBy": "metric",
        "watermarkDelay": "30 seconds",
    },
    "aggregations": "events:count(*),total:sum(value)",
}
ROWS = [
    ("2024-01-01T10:00:05", "m1", 1.0),
    ("2024-01-01T10:00:40", "m1", 3.0),
    ("2024-01-01T10:00:50", "m2", -5.0),
    # flush: the watermark passes 10:01, so the 10:00 windows are emitted
    ("2024-01-01T10:05:00", "flush", 0.0),
]


def _events(path, rows=ROWS):
    with open(path, "w", encoding="utf-8") as f:
        for ts, metric, value in rows:
            f.write(json.dumps({"ts": ts, "metric": metric, "value": value}) + "\n")


def _stream_doc(tmp_path, transformations, **extra):
    src = tmp_path / "src"
    src.mkdir(exist_ok=True)
    schema = tmp_path / "events.schema.json"
    schema.write_text(SCHEMA.json())
    return {
        "pipelineId": "stream-plan",
        "streaming": True,
        "source": {
            "type": "file",
            "schemaPath": str(schema),
            "options": {"path": str(src), "format": "json"},
        },
        "transformations": transformations,
        "sink": {
            "type": "file",
            "options": {
                "path": str(tmp_path / "out"),
                "format": "parquet",
                "checkpointLocation": str(tmp_path / "ckpt"),
            },
        },
        **extra,
    }


@pytest.mark.parametrize(
    "extra, key",
    [
        ({"quality": {"nullChecks": ["metric"]}}, "'quality'"),
        ({"quality": {"duplicateCheck": True}}, "'quality'"),
        ({"performance": {"cacheIntermediate": True}}, "'performance.cacheIntermediate'"),
    ],
)
def test_streaming_rejects_quality_and_cache_at_parse(tmp_path, extra, key):
    with pytest.raises(ConfigError, match=key):
        parse_pipeline_dict(_stream_doc(tmp_path, [WINDOWING], **extra))
    doc = _stream_doc(tmp_path, [WINDOWING], **extra)
    doc["streaming"] = False
    parse_pipeline_dict(doc)  # the same blocks stay valid in batch mode


def test_streaming_run_reports_phases_and_keeps_schema(spark, tmp_path):
    """A drain records the plan and load phases and its counts, like a
    batch run; the output has no _lineage column."""
    doc = _stream_doc(
        tmp_path, [{"type": "filter", "options": {"condition": "value >= 0"}}, WINDOWING]
    )
    _events(tmp_path / "src" / "a.json")
    collector = MetricsCollector()
    metrics = PipelineExecutor().execute(parse_pipeline_dict(doc), spark, collector=collector)
    assert metrics.status == "SUCCESS", metrics.error_details
    assert {"plan", "load"} <= set(collector.phases)
    assert collector.phases["load"].records == metrics.records_loaded == -1  # file sink
    assert collector.phases["extract"].records == metrics.records_extracted
    assert collector.run_id == metrics.run_id
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.columns == ["window_start", "window_end", "metric", "events", "total"]
    got = {(r.metric, r.events, r.total) for r in out.collect()}
    assert got == {("m1", 2, 4.0)}  # m2's only row was filtered out


def test_streaming_source_credentials_and_repartition(spark, tmp_path):
    """The source's credentialsPath is merged into its options (here it
    holds the path) and performance.repartition applies, as in batch."""
    doc = _stream_doc(tmp_path, [WINDOWING], performance={"repartition": 2})
    creds = tmp_path / "creds.yaml"
    creds.write_text(f'path: "{doc["source"]["options"].pop("path")}"\n')
    doc["source"]["credentialsPath"] = str(creds)
    _events(tmp_path / "src" / "a.json")
    metrics = PipelineExecutor().execute(parse_pipeline_dict(doc), spark)
    assert metrics.status == "SUCCESS", metrics.error_details
    got = {(r.metric, r.total) for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert got == {("m1", 4.0), ("m2", -5.0)}


def test_streaming_step_not_streamable(spark, tmp_path):
    doc = _stream_doc(tmp_path, [{"type": "sort", "options": {"orderBy": "ts"}}])
    _events(tmp_path / "src" / "a.json")
    metrics = PipelineExecutor().execute(parse_pipeline_dict(doc), spark)
    assert metrics.status == "FAILED"
    assert metrics.error_details == (
        "ConfigError: transformation 'sort' is not streamable — supported in "
        "streaming mode: dedup, ewma, filter, map, windowing"
    )


def test_streaming_step_unregistered_type(spark, tmp_path):
    doc = _stream_doc(tmp_path, [{"type": "nope", "options": {}}])
    _events(tmp_path / "src" / "a.json")
    metrics = PipelineExecutor().execute(parse_pipeline_dict(doc), spark)
    assert metrics.status == "FAILED"
    assert "no transformer registered for type 'nope'" in metrics.error_details


def test_streaming_steps_are_validated(spark, tmp_path):
    """A windowing step whose time column is not in the stream's schema
    fails in validate, as in batch."""
    bad = {**WINDOWING, "options": {**WINDOWING["options"], "timestampColumn": "when"}}
    doc = _stream_doc(tmp_path, [bad])
    _events(tmp_path / "src" / "a.json")
    metrics = PipelineExecutor().execute(parse_pipeline_dict(doc), spark)
    assert metrics.status == "FAILED"
    assert "timeColumn not in input schema: when" in metrics.error_details


@pytest.mark.parametrize("streaming", [True, False])
def test_tumbling_window_with_a_slide_is_rejected(spark, tmp_path, streaming):
    """``windowType: tumbling`` with a ``slideDuration`` fails validate in
    both modes: a stream used to slide such a window while a batch run
    ignored the slide. The error names the key and the spelling to use."""
    options = {**WINDOWING["options"], "slideDuration": "30 seconds"}
    doc = _stream_doc(tmp_path, [{**WINDOWING, "options": options}], streaming=streaming)
    _events(tmp_path / "src" / "a.json")
    metrics = PipelineExecutor().execute(parse_pipeline_dict(doc), spark)
    assert metrics.status == "FAILED"
    assert "'slideDuration'" in metrics.error_details
    assert "'windowType: sliding'" in metrics.error_details


def test_streaming_uses_registry_override(spark, tmp_path):
    """The executor's registry decides what runs in streaming mode too."""
    from etl_spark_gradle_spark.operators import TRANSFORMER_REGISTRY

    calls = []

    class Doubling:
        streamable = True

        def transform(self, df, config, ctx):
            calls.append(df.isStreaming)
            return df.selectExpr("ts", "metric", "value * 2 AS value")

        def lineage_step(self, config):
            return "double()"

    registry = {"double": Doubling(), "windowing": TRANSFORMER_REGISTRY["windowing"]}
    doc = _stream_doc(tmp_path, [{"type": "double", "options": {}}, WINDOWING])
    _events(tmp_path / "src" / "a.json")
    metrics = PipelineExecutor(transformers=registry).execute(parse_pipeline_dict(doc), spark)
    assert metrics.status == "SUCCESS", metrics.error_details
    assert calls == [True]
    got = {(r.metric, r.total) for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert got == {("m1", 8.0), ("m2", -10.0)}


def test_streaming_dedup_requires_keys(spark, tmp_path):
    doc = _stream_doc(
        tmp_path, [{"type": "dedup", "options": {"contentColumn": "metric"}}]
    )
    _events(tmp_path / "src" / "a.json")
    metrics = PipelineExecutor().execute(parse_pipeline_dict(doc), spark)
    assert metrics.status == "FAILED"
    assert "streaming dedup requires 'keys'" in metrics.error_details


def test_ewma_key_column_spelling(spark, tmp_path):
    """``keyColumn`` is a one-key ``keyColumns`` in batch mode too; the
    streaming form refuses several keys."""
    from etl_spark_gradle_spark.operators.timeseries import EwmaTransformer
    from etl_spark_gradle_spark.plans.config import RunContext, TransformationConfig

    df = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, 3.0), ("b", 1, 5.0)], "k string, t int, v double"
    )
    ctx = RunContext.create("ewma", spark)
    opts = {"timeColumn": "t", "valueColumn": "v", "alpha": "0.5"}
    single = TransformationConfig("ewma", options={**opts, "keyColumn": "k"})
    plural = TransformationConfig("ewma", options={**opts, "keyColumns": "k"})
    ewma = EwmaTransformer()

    def rows(config):
        return sorted(tuple(r) for r in ewma.transform(df, config, ctx).collect())

    assert rows(single) == rows(plural)

    doc = _stream_doc(
        tmp_path,
        [{"type": "ewma", "options": {"keyColumns": "metric,value", "timeColumn": "ts",
                                      "valueColumn": "value", "alpha": "0.5"}}],
    )
    _events(tmp_path / "src" / "a.json")
    metrics = PipelineExecutor().execute(parse_pipeline_dict(doc), spark)
    assert metrics.status == "FAILED"
    assert "streaming ewma takes one key column" in metrics.error_details


def test_explain_prints_the_streaming_plan(spark, tmp_path, monkeypatch, capsys):
    """``--explain`` on a streaming YAML prints the plan a drain runs: a
    streaming source and the window's state store, and no batch
    CollectMetrics node."""
    from etl_spark_gradle_spark import cli

    src = tmp_path / "src"
    src.mkdir()
    _events(src / "a.json")
    monkeypatch.setenv("METRICS_SRC", str(src))
    monkeypatch.setenv("METRICS_OUT", str(tmp_path / "out"))
    monkeypatch.setenv("METRICS_CKPT", str(tmp_path / "ckpt"))
    assert cli.main(["--explain", "--pipeline", "pipelines/streaming-metrics.yaml"]) == 0
    printed = capsys.readouterr().out
    assert "StreamingRelation" in printed
    assert "StateStoreSave" in printed
    assert "CollectMetrics" not in printed


def test_fold_store_lists_versions_once_per_batch(spark, tmp_path, monkeypatch):
    """The prune reuses the lookup's listing: one ``_rollup_versions`` call
    per micro-batch, also on batches that have a prior version."""
    from pyspark.sql import functions as F

    src, store = tmp_path / "src", str(tmp_path / "store")
    src.mkdir()
    for i in range(3):
        with open(src / f"b{i}.json", "w") as f:
            f.write(json.dumps({"x": i}) + "\n")
    real = st._rollup_versions
    calls = []

    def counting(spark_, path):
        calls.append(path)
        return real(spark_, path)

    monkeypatch.setattr(st, "_rollup_versions", counting)

    def fold(batch_df, prev, batch_id):
        return spark.range(1).select(F.lit(batch_id).alias("v"))

    stream = st.read_file_stream(
        spark, {"path": str(src), "format": "json", "maxFilesPerTrigger": "1"}, "x long"
    )
    st._fold_store(stream, store, fold, str(tmp_path / "ckpt"), "availableNow", None)\
        .awaitTermination(120)
    assert calls == [store] * 3
    assert sorted(p.name for p in (tmp_path / "store").iterdir()) == ["v=1", "v=2"]
