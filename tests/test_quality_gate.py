"""The quality gate's side actions (duplicate check, quarantine write)
run alongside the sink write: the caller's job group reaches every job,
phase metrics say what overlapped, and a failure in either output still
fails the run, restores the session conf, skips the incremental commit
and leaves no thread behind."""

from __future__ import annotations

import json
import os
import shutil
import threading
from dataclasses import replace

import yaml
from pyspark.sql.types import LongType, StructField, StructType

from etl_spark_gradle_spark.observability import MetricsCollector
from etl_spark_gradle_spark.plans import executor
from etl_spark_gradle_spark.plans.config import load_pipeline_yaml
from etl_spark_gradle_spark.plans.executor import PipelineExecutor

SHUFFLE = "spark.sql.shuffle.partitions"


def _land(spark, tmp_path, name, rows):
    staging = tmp_path / f"_stage_{name}"
    spark.createDataFrame(rows, "k long, v string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(staging))
    part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
    landing = tmp_path / "landing"
    landing.mkdir(exist_ok=True)
    shutil.copy(staging / part, landing / name)


def _config(tmp_path, quarantine, out, shuffle_partitions=None):
    doc = {
        "pipelineId": "gate",
        "source": {
            "type": "file_incremental",
            "options": {
                "path": str(tmp_path / "landing"),
                "format": "parquet",
                "stateDir": str(tmp_path / "state"),
            },
        },
        "quality": {
            "duplicateCheck": True,
            "nullChecks": ["k", "v"],
            "customRules": ["k >= 0"],
            "quarantinePath": str(quarantine),
        },
        "transformations": [{"type": "map", "options": {"expressions": "k2:k * 2"}}],
        "sink": {
            "type": "file",
            "options": {"path": str(out), "format": "parquet"},
            "writeMode": "append",
        },
    }
    if shuffle_partitions:
        doc["performance"] = {"shufflePartitions": shuffle_partitions}
    p = tmp_path / "p.yaml"
    p.write_text(yaml.safe_dump(doc))
    return load_pipeline_yaml(str(p))


ROWS = [(1, "a"), (None, "b"), (3, None), (4, "d"), (4, "d"), (-5, "e")]


def _job_ids(sc) -> set[int]:
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def _gate_threads():
    return [t for t in threading.enumerate() if t.name.startswith("quality-gate")]


def test_quality_run_metrics_and_report(spark, tmp_path):
    _land(spark, tmp_path, "f1.parquet", ROWS)
    m = PipelineExecutor().execute(_config(tmp_path, tmp_path / "q", tmp_path / "out"), spark)
    assert m.status == "SUCCESS", m.error_details
    assert (m.records_extracted, m.records_failed, m.records_loaded) == (6, 3, 3)
    report = m.quality_report
    assert (report.duplicates, report.quarantined, report.null_violations) == (1, 3, 3)
    assert report.violations_by_check == {"null:k": 1, "null:v": 1, "rule:k >= 0": 2}
    assert spark.read.parquet(str(tmp_path / "q")).count() == 3
    assert spark.read.parquet(str(tmp_path / "out")).count() == 3
    assert not _gate_threads()


def test_schema_validation_fails_before_the_side_actions(spark, tmp_path):
    _land(spark, tmp_path, "f1.parquet", ROWS)
    config = _config(tmp_path, tmp_path / "q", tmp_path / "out")
    schema = tmp_path / "schema.json"
    config = replace(
        config,
        source=replace(config.source, schema_path=str(schema)),
        quality=replace(config.quality, schema_validation=True),
    )
    schema.write_text(StructType([StructField("k", LongType())]).json())
    m = PipelineExecutor().execute(config, spark)
    assert m.status == "FAILED"
    assert "schema validation failed: unexpected column: v" in m.error_details
    assert not (tmp_path / "q").exists() and not (tmp_path / "out").exists()
    assert not _gate_threads()

    schema.write_text(spark.read.parquet(str(tmp_path / "landing")).schema.json())
    m = PipelineExecutor().execute(config, spark)
    assert m.status == "SUCCESS", m.error_details
    assert m.records_failed == 3


def test_caller_job_group_reaches_every_job(spark, tmp_path):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    _land(spark, tmp_path, "f1.parquet", ROWS)
    config = _config(tmp_path, tmp_path / "q", tmp_path / "out")
    ungrouped = set(tracker.getJobIdsForGroup(None))
    known = _job_ids(sc)
    sc.setJobGroup("caller", "quality run under a caller's group")
    try:
        m = PipelineExecutor().execute(config, spark)
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
    finally:
        sc._jsc.clearJobGroup()
    assert m.status == "SUCCESS", m.error_details
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    new = _job_ids(sc) - known
    # duplicate check, quarantine write and sink write at least
    assert len(new) >= 3
    assert new <= set(tracker.getJobIdsForGroup("caller"))
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


def test_quality_phase_spans_the_side_actions(spark, tmp_path, monkeypatch):
    sc = spark.sparkContext
    row_hash_duplicate_stats = executor.row_hash_duplicate_stats

    def tagged(df):
        # runs on the gate's worker thread: the description stays there
        sc.setJobDescription("duplicate-check")
        return row_hash_duplicate_stats(df)

    monkeypatch.setattr(executor, "row_hash_duplicate_stats", tagged)
    _land(spark, tmp_path, "f1.parquet", ROWS)
    collector = MetricsCollector()
    sc.setJobGroup("phases", "phases")
    try:
        m = PipelineExecutor().execute(
            _config(tmp_path, tmp_path / "q", tmp_path / "out"), spark, collector
        )
    finally:
        sc._jsc.clearJobGroup()
    assert m.status == "SUCCESS", m.error_details
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    dup_jobs = [
        store.job(j)
        for j in sc.statusTracker().getJobIdsForGroup("phases")
        if store.job(j).description().getOrElse(None) == "duplicate-check"
    ]
    assert dup_jobs
    dup_s = (
        max(j.completionTime().get().getTime() for j in dup_jobs)
        - min(j.submissionTime().get().getTime() for j in dup_jobs)
    ) / 1e3
    seconds = {name: phase.seconds for name, phase in collector.phases.items()}
    assert seconds["load"] > 0
    assert seconds["quality"] >= dup_s
    # the side actions start once the plan is built: they overlap the load
    assert seconds["quality"] >= seconds["load"]


def _assert_failed_cleanly(spark, tmp_path, config, blocker, threads_before):
    processed = tmp_path / "state" / "processed.json"
    committed = processed.read_text()
    shuffle_before = spark.conf.get(SHUFFLE)
    m = PipelineExecutor().execute(config, spark)
    assert spark.conf.get(SHUFFLE) == shuffle_before
    assert m.status == "FAILED"
    assert str(blocker) in m.error_details
    assert processed.read_text() == committed
    assert threading.active_count() == threads_before
    assert not _gate_threads()
    return m


def test_failed_quarantine_write_fails_the_run(spark, tmp_path):
    _land(spark, tmp_path, "f1.parquet", ROWS[:1])
    ok = PipelineExecutor().execute(_config(tmp_path, tmp_path / "q", tmp_path / "out"), spark)
    assert ok.status == "SUCCESS", ok.error_details
    assert json.loads((tmp_path / "state" / "processed.json").read_text())

    _land(spark, tmp_path, "f2.parquet", ROWS)
    blocker = tmp_path / "quarantine_is_a_file"
    blocker.write_text("not a directory")
    threads_before = threading.active_count()
    config = _config(tmp_path, blocker, tmp_path / "out", shuffle_partitions=3)
    _assert_failed_cleanly(spark, tmp_path, config, blocker, threads_before)
    # the sink write ran alongside and is not rolled back: at-least-once
    assert spark.read.parquet(str(tmp_path / "out")).count() == 1 + 3


def test_failed_sink_write_fails_the_run(spark, tmp_path):
    _land(spark, tmp_path, "f1.parquet", ROWS[:1])
    ok = PipelineExecutor().execute(_config(tmp_path, tmp_path / "q", tmp_path / "out"), spark)
    assert ok.status == "SUCCESS", ok.error_details

    _land(spark, tmp_path, "f2.parquet", ROWS)
    blocker = tmp_path / "sink_parent_is_a_file"
    blocker.write_text("not a directory")
    threads_before = threading.active_count()
    config = _config(tmp_path, tmp_path / "q", blocker / "out", shuffle_partitions=3)
    m = _assert_failed_cleanly(spark, tmp_path, config, blocker, threads_before)
    # the quarantine write ran alongside: it appended its 3 rows
    assert m.records_failed == 3
    assert spark.read.parquet(str(tmp_path / "q")).count() == 3
