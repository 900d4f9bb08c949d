"""``performance.shufflePartitions`` across batch and streaming runs.

Three contracts:
- every ``execute`` leaves the session's ``spark.sql.shuffle.partitions``
  exactly as it found it — a set key keeps its value, a never-set key is
  unset again — whether the run succeeds or fails;
- a streaming drain runs its state store at ``shufflePartitions`` when
  given, else at min(session value, ``defaultParallelism``); Spark pins
  that count in a new checkpoint, and an existing checkpoint keeps the
  count it was created with;
- a streaming run reports its record counts from the query's progress.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql.types import DoubleType, StringType, StructField, StructType, TimestampType

from etl_spark_gradle_spark import streaming as st
from etl_spark_gradle_spark.plans.config import load_pipeline_yaml
from etl_spark_gradle_spark.plans.executor import PipelineExecutor

KEY = "spark.sql.shuffle.partitions"
SCHEMA = StructType(
    [
        StructField("ts", TimestampType()),
        StructField("metric", StringType()),
        StructField("value", DoubleType()),
    ]
)


@pytest.fixture
def session_partitions(spark):
    """Set (a string) or unset (None) the session's shuffle partitions for
    one test; the conftest value comes back afterwards."""
    before = spark.conf.get(KEY)

    def apply(value: str | None) -> None:
        if value is None:
            spark.conf.unset(KEY)
        else:
            spark.conf.set(KEY, value)

    yield apply
    spark.conf.set(KEY, before)


@pytest.fixture
def queries(monkeypatch):
    """Every StreamingQuery the streaming path starts, in order."""
    started = []
    write_stream = st.write_stream

    def capture(*args, **kwargs):
        query = write_stream(*args, **kwargs)
        started.append(query)
        return query

    monkeypatch.setattr(st, "write_stream", capture)
    return started


def _events(path, rows):
    with open(path, "w", encoding="utf-8") as f:
        for ts, metric, value in rows:
            f.write(json.dumps({"ts": ts, "metric": metric, "value": value}) + "\n")


def _stream_yaml(tmp_path, name="stream", partitions=None, sink_format="parquet",
                 transform="windowing"):
    src = tmp_path / f"{name}-src"
    src.mkdir(exist_ok=True)
    schema = tmp_path / "events.schema.json"
    schema.write_text(SCHEMA.json())
    step = {
        "windowing": """  - type: windowing
    options:
      windowType: tumbling
      windowDuration: 1 minute
      timestampColumn: ts
      groupBy: metric
      watermarkDelay: 30 seconds
    aggregations: "events:count(*),total:sum(value)"
""",
        # a streaming dedup without keys fails inside the drain
        "broken": """  - type: dedup
    options: {}
""",
    }[transform]
    perf = f"performance:\n  shufflePartitions: {partitions}\n" if partitions else ""
    sink_path = "" if sink_format == "memory" else f'    path: "{tmp_path / (name + "-out")}"\n'
    text = f"""pipelineId: {name}
streaming: true
source:
  type: file
  schemaPath: "{schema}"
  options:
    path: "{src}"
    format: json
transformations:
{step}sink:
  type: file
  options:
{sink_path}    format: {sink_format}
    queryName: {name.replace("-", "_")}
    checkpointLocation: "{tmp_path / (name + "-ckpt")}"
{perf}"""
    path = tmp_path / f"{name}.yaml"
    path.write_text(text)
    return load_pipeline_yaml(str(path)), src, tmp_path / f"{name}-out"


def _batch_yaml(spark, tmp_path, source_exists=True):
    src = tmp_path / "batch-src"
    if source_exists:
        spark.createDataFrame([(1, "a"), (2, "b"), (2, "c")], ["k", "v"]).write.parquet(str(src))
    path = tmp_path / "batch.yaml"
    path.write_text(f"""pipelineId: batch-scope
source:
  type: file
  options:
    path: "{src}"
    format: parquet
transformations:
  - type: aggregation
    options:
      groupBy: k
    aggregations: "n:count(*)"
sink:
  type: file
  options:
    path: "{tmp_path / "batch-out"}"
    format: parquet
  writeMode: overwrite
performance:
  shufflePartitions: 3
""")
    return load_pipeline_yaml(str(path))


def _windows(spark, out):
    return {
        (str(r.window_start)[11:16], r.metric): (r.events, r.total)
        for r in spark.read.parquet(str(out)).collect()
    }


def _state_partitions(query) -> int:
    return query.recentProgress[-1]["stateOperators"][0]["numShufflePartitions"]


FIRST_DRAIN = [
    ("2024-01-01T10:00:05", "m1", 1.0),
    ("2024-01-01T10:00:45", "m1", 3.0),
    ("2024-01-01T10:00:50", "m2", 5.0),
    # closes 10:00 and 10:01 (watermark = 10:02:00)
    ("2024-01-01T10:02:30", "flush", 0.0),
]
SECOND_DRAIN = [
    ("2024-01-01T10:02:40", "m1", 7.0),
    ("2024-01-01T10:03:10", "m2", 2.0),
    ("2024-01-01T10:09:00", "flush", 0.0),
]


@pytest.mark.parametrize("prior", ["5", None], ids=["set", "unset"])
@pytest.mark.parametrize("outcome", ["SUCCESS", "FAILED"])
@pytest.mark.parametrize("mode", ["batch", "streaming"])
def test_execute_restores_session_conf(spark, tmp_path, session_partitions, mode, outcome, prior):
    if mode == "batch":
        config = _batch_yaml(spark, tmp_path, source_exists=outcome == "SUCCESS")
    else:
        transform = "windowing" if outcome == "SUCCESS" else "broken"
        config, src, _ = _stream_yaml(tmp_path, partitions=3, transform=transform)
        _events(src / "e.json", FIRST_DRAIN)
    session_partitions(prior)
    metrics = PipelineExecutor().execute(config, spark)
    assert metrics.status == outcome, metrics.error_details
    assert spark.conf.get(KEY, None) == prior


@pytest.mark.parametrize("partitions", [None, 3], ids=["default", "explicit"])
def test_streaming_state_partitions(spark, tmp_path, session_partitions, queries, partitions):
    """A fresh drain on a session at 32: the YAML's shufflePartitions when
    given, else the session value capped by the cores."""
    session_partitions("32")
    config, src, _ = _stream_yaml(tmp_path, partitions=partitions)
    _events(src / "e.json", FIRST_DRAIN)
    metrics = PipelineExecutor().execute(config, spark)
    assert metrics.status == "SUCCESS", metrics.error_details
    expected = partitions or min(32, spark.sparkContext.defaultParallelism)
    assert _state_partitions(queries[-1]) == expected
    assert spark.conf.get(KEY) == "32"


def test_checkpoint_created_at_32_partitions_keeps_draining(
    spark, tmp_path, session_partitions, queries
):
    """A checkpoint started before drains were sized to the cores (the
    stream then ran at the session's 32) drains on under the new default:
    Spark restores 32 from the checkpoint's offset log."""
    session_partitions("32")
    config, src, out = _stream_yaml(tmp_path)
    _events(src / "a.json", FIRST_DRAIN)
    st.run_streaming_pipeline(config, spark)  # no executor: the session's 32
    assert _state_partitions(queries[-1]) == 32
    assert _windows(spark, out) == {("10:00", "m1"): (2, 4.0), ("10:00", "m2"): (1, 5.0)}

    session_partitions("4")
    _events(src / "b.json", SECOND_DRAIN)
    metrics = PipelineExecutor().execute(config, spark)
    assert metrics.status == "SUCCESS", metrics.error_details
    assert _state_partitions(queries[-1]) == 32
    assert _windows(spark, out) == {
        ("10:00", "m1"): (2, 4.0),
        ("10:00", "m2"): (1, 5.0),
        ("10:02", "flush"): (1, 0.0),
        ("10:02", "m1"): (1, 7.0),
        ("10:03", "m2"): (1, 2.0),
    }


def test_streaming_counts_come_from_progress(spark, tmp_path):
    """records_extracted is the drain's input rows; a file sink reports no
    output count (-1), a memory sink reports the rows it received."""
    config, src, _ = _stream_yaml(tmp_path, name="file-sink")
    _events(src / "a.json", FIRST_DRAIN)
    first = PipelineExecutor().execute(config, spark)
    assert first.status == "SUCCESS", first.error_details
    assert (first.records_extracted, first.records_loaded) == (len(FIRST_DRAIN), -1)

    _events(src / "b.json", SECOND_DRAIN)
    second = PipelineExecutor().execute(config, spark)
    assert (second.records_extracted, second.records_loaded) == (len(SECOND_DRAIN), -1)

    config, src, _ = _stream_yaml(tmp_path, name="memory-sink", sink_format="memory")
    _events(src / "a.json", FIRST_DRAIN)
    metrics = PipelineExecutor().execute(config, spark)
    assert metrics.status == "SUCCESS", metrics.error_details
    emitted = spark.table("memory_sink").count()
    assert emitted == 2  # the two closed 10:00 windows
    assert (metrics.records_extracted, metrics.records_loaded) == (len(FIRST_DRAIN), emitted)


def test_streaming_counts_unknown_when_progress_was_dropped(spark, tmp_path):
    """A drain of more batches than the query keeps progress for cannot be
    summed: both counts read -1 instead of an undercount. At a setting of 2
    Spark keeps one entry, so the drain's data batch is dropped and only its
    no-data batch (0 rows) is left."""
    config, src, _ = _stream_yaml(tmp_path, name="evicted", sink_format="memory")
    _events(src / "a.json", FIRST_DRAIN)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "2")
    try:
        metrics = PipelineExecutor().execute(config, spark)
    finally:
        spark.conf.unset("spark.sql.streaming.numRecentProgressUpdates")
    assert metrics.status == "SUCCESS", metrics.error_details
    assert (metrics.records_extracted, metrics.records_loaded) == (-1, -1)
