"""The under-split detector (``operators.dedup._ensure_parallelism``) in
a batch run: a parquet source whose scan has fewer splits that carry
rows than ``defaultParallelism`` is spread round-robin over the cores
before a file sink's write. The split count is exact: the sum over the
files of min(row groups, byte splits), row groups read from the footers.
Anything it cannot count is left alone."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_spark_gradle_spark.operators.dedup import (
    ENSURE_PARALLELISM,
    _ensure_parallelism,
    scan_splits,
)
from etl_spark_gradle_spark.plans.config import RunContext, parse_pipeline_dict
from etl_spark_gradle_spark.plans.executor import PipelineExecutor, session_conf

ROWS = 4000


def _parquet(path, row_group_size=ROWS):
    table = pa.table({
        "id": pa.array(range(ROWS), type=pa.int64()),
        "amount": pa.array([(i * 7919) % 1000 for i in range(ROWS)], type=pa.int64()),
    })
    pq.write_table(table, path, row_group_size=row_group_size)
    return str(path)


def _doc(path, out, fmt="parquet", **extra):
    doc = {
        "pipelineId": "under-split",
        "source": {"type": "file", "options": {"path": str(path), "format": fmt}},
        "transformations": [{"type": "map", "options": {"expressions": "twice:amount * 2"}}],
        "sink": {
            "type": "file", "options": {"path": str(out), "format": "parquet"},
            "writeMode": "overwrite",
        },
    }
    doc.update(extra)
    return doc


def _physical(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")


def _plan(spark, doc) -> str:
    config, executor = parse_pipeline_dict(doc), PipelineExecutor()
    ctx = RunContext.create("t", spark)
    return _physical(executor.build_plan(config, ctx, executor.extract(config, ctx)[1])[0])


def _round_robin(plan: str, n: int) -> int:
    return plan.count(f"RoundRobinPartitioning({n})")


def _busy_splits(spark, path) -> int:
    """Scan partitions that Spark actually fills with rows."""
    return spark.read.parquet(path).select(F.spark_partition_id()).distinct().count()


@pytest.fixture
def cores(spark):
    return spark.sparkContext.defaultParallelism


def test_one_row_group_extract_is_spread_and_rows_unchanged(spark, tmp_path, cores):
    path = _parquet(tmp_path / "one.parquet")
    doc = _doc(path, tmp_path / "out")
    assert _round_robin(_plan(spark, doc), cores) == 1
    metrics = PipelineExecutor().execute(parse_pipeline_dict(doc), spark)
    assert metrics.status == "SUCCESS", metrics.error_details
    assert metrics.records_extracted == metrics.records_loaded == ROWS
    out = spark.read.parquet(str(tmp_path / "out"))
    expected = spark.read.parquet(path).withColumn("twice", F.col("amount") * 2)
    assert sorted(out.drop("_lineage").collect()) == sorted(expected.collect())
    assert len(list((tmp_path / "out").glob("part-*.parquet"))) == cores


def test_row_groups_over_enough_byte_splits_are_left_alone(spark, tmp_path, cores):
    path = _parquet(tmp_path / "many.parquet", row_group_size=ROWS // 8)
    small = {"spark.sql.files.maxPartitionBytes": "8k", "spark.sql.files.openCostInBytes": "1k"}
    with session_conf(spark, small):
        df = spark.read.parquet(path)
        assert scan_splits(spark, df.inputFiles()) >= cores
        assert _busy_splits(spark, path) >= cores
        assert _round_robin(_plan(spark, _doc(path, tmp_path / "out")), cores) == 0


def test_tiny_row_groups_in_one_byte_split_count_as_one(spark, tmp_path, cores):
    path = _parquet(tmp_path / "tiny.parquet", row_group_size=ROWS // 8)
    df = spark.read.parquet(path)
    assert pq.ParquetFile(path).num_row_groups == 8
    assert scan_splits(spark, df.inputFiles()) == 1 == _busy_splits(spark, path)
    assert _round_robin(_plan(spark, _doc(path, tmp_path / "out")), cores) == 1


@pytest.mark.parametrize("fmt", ["json", "csv"])
def test_text_sources_are_left_alone(spark, tmp_path, cores, fmt):
    src = tmp_path / f"src.{fmt}"
    spark.read.parquet(_parquet(tmp_path / "one.parquet")).coalesce(1).write.format(fmt).option(
        "header", "true"
    ).save(str(src))
    plan = _plan(spark, _doc(src, tmp_path / "out", fmt=fmt))
    assert "RoundRobinPartitioning" not in plan


def test_unreadable_footer_is_left_alone(spark, tmp_path):
    bad = tmp_path / "bad.parquet"
    bad.write_bytes(b"PAR1 not a parquet file at all")
    doc = _doc(bad, tmp_path / "out")
    doc["source"]["options"]["schema"] = "id BIGINT, amount BIGINT"
    df = spark.read.schema("id BIGINT, amount BIGINT").parquet(str(bad))
    assert scan_splits(spark, df.inputFiles()) is None
    assert "RoundRobinPartitioning" not in _plan(spark, doc)


def test_explicit_repartition_wins(spark, tmp_path, cores):
    doc = _doc(_parquet(tmp_path / "one.parquet"), tmp_path / "out", performance={"repartition": 3})
    plan = _plan(spark, doc)
    assert _round_robin(plan, 3) == 1 and _round_robin(plan, cores) == 0


def test_opt_out_conf_covers_the_executor(spark, tmp_path):
    doc = _doc(_parquet(tmp_path / "one.parquet"), tmp_path / "out")
    with session_conf(spark, {ENSURE_PARALLELISM: "false"}):
        assert "RoundRobinPartitioning" not in _plan(spark, doc)


def test_non_file_sink_is_left_alone(spark, tmp_path):
    doc = _doc(_parquet(tmp_path / "one.parquet"), tmp_path / "out")
    doc["sink"] = {"type": "kafka", "options": {"bootstrap.servers": "broker:9092", "topic": "t"}}
    assert "RoundRobinPartitioning" not in _plan(spark, doc)


def test_sink_that_fixes_its_file_count_is_left_alone(spark, tmp_path):
    doc = _doc(_parquet(tmp_path / "one.parquet"), tmp_path / "out")
    doc["sink"]["options"]["coalesce"] = "1"
    assert "RoundRobinPartitioning" not in _plan(spark, doc)


def test_streaming_run_is_left_alone(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _parquet(src / "one.parquet")
    doc = _doc(src, tmp_path / "out", streaming=True)
    doc["transformations"] = []
    doc["sink"]["options"]["checkpointLocation"] = str(tmp_path / "ckpt")
    assert "RoundRobinPartitioning" not in _plan(spark, doc)


def test_a_frame_repartitioned_above_its_scan_is_left_alone(spark, tmp_path):
    """A dedup step after the executor's spread does not spread again."""
    df = spark.read.parquet(_parquet(tmp_path / "one.parquet"))
    assert _ensure_parallelism(df) is not df
    spread = df.repartition(2).filter("id > 0")
    assert _ensure_parallelism(spread) is spread


def test_quality_side_actions_read_the_unsplit_source(spark, tmp_path, monkeypatch, cores):
    """Only the valid branch is spread: the duplicate check's and the
    quarantine write's plans carry no new exchange."""
    from etl_spark_gradle_spark import quality
    from etl_spark_gradle_spark.plans import executor

    seen = {}

    def recording(name, fn):
        def call(df, *args):
            seen[name] = _physical(df)
            return fn(df, *args)
        return call

    monkeypatch.setattr(
        executor, "row_hash_duplicate_stats",
        recording("duplicates", executor.row_hash_duplicate_stats),
    )
    monkeypatch.setattr(quality, "quarantine", recording("quarantine", quality.quarantine))
    doc = _doc(_parquet(tmp_path / "one.parquet"), tmp_path / "out", quality={
        "duplicateCheck": True,
        "customRules": ["amount < 900"],
        "quarantinePath": str(tmp_path / "quarantine"),
    })
    metrics = PipelineExecutor().execute(parse_pipeline_dict(doc), spark)
    assert metrics.status == "SUCCESS", metrics.error_details
    assert metrics.records_loaded + metrics.records_failed == metrics.records_extracted == ROWS
    assert set(seen) == {"duplicates", "quarantine"}
    assert all("RoundRobinPartitioning" not in plan for plan in seen.values())
    assert len(list((tmp_path / "out").glob("part-*.parquet"))) == cores
