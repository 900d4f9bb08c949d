"""Executor fixes from round-1 review: duplicateCheck actually runs,
records_extracted is real (observation-based, no extra job), the quality
path honors performance knobs, shuffle-partition conf is restored, and
upsert SQL quotes identifiers."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_spark_gradle_spark.plans.config import (
    AggregateExpr,
    ConfigError,
    PerformanceConfig,
    PipelineConfig,
    QualityConfig,
    SinkConfig,
    SourceConfig,
    TransformationConfig,
)
from etl_spark_gradle_spark.plans.executor import PipelineExecutor, row_hash_duplicate_stats
from etl_spark_gradle_spark.sinks.loaders import build_upsert_sql


def _pipeline(sf_dir, out_path, quality=QualityConfig(), performance=PerformanceConfig()):
    return PipelineConfig(
        pipeline_id="t-exec",
        source=SourceConfig(
            type="file",
            options={"path": f"{sf_dir}/lineitem.parquet", "format": "parquet"},
        ),
        transformations=(
            TransformationConfig(type="filter", options={"condition": "l_quantity > 25"}),
        ),
        sink=SinkConfig(
            type="file",
            options={"path": str(out_path), "format": "parquet"},
            write_mode="overwrite",
        ),
        performance=performance,
        quality=quality,
    )


def test_records_extracted_is_real(spark, sf_dir, tmp_path):
    total = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    metrics = PipelineExecutor().execute(
        _pipeline(sf_dir, tmp_path / "out"), spark
    )
    assert metrics.status == "SUCCESS"
    assert metrics.records_extracted == total  # not -1, not records_loaded
    assert 0 < metrics.records_loaded < total


def test_duplicate_check_runs(spark, sf_dir, tmp_path):
    config = _pipeline(
        sf_dir, tmp_path / "out", quality=QualityConfig(duplicate_check=True)
    )
    metrics = PipelineExecutor().execute(config, spark)
    assert metrics.status == "SUCCESS"
    assert metrics.quality_report is not None
    # synthetic lineitem rows are unique -> 0 full-row duplicates
    assert metrics.quality_report.duplicates == 0


def test_row_hash_duplicate_stats(spark):
    df = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], ["k", "v"])
    out = row_hash_duplicate_stats(df)
    assert out == {"total": 3, "distinct": 2, "duplicates": 1}


def test_quality_path_honors_performance_knobs(spark, sf_dir, tmp_path):
    """Quality-gated runs route through build_plan: shufflePartitions and
    cacheIntermediate apply exactly as in the plain path, and the session
    conf is restored afterwards."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    config = _pipeline(
        sf_dir,
        tmp_path / "out",
        quality=QualityConfig(null_checks=("l_orderkey",), quarantine_path=str(tmp_path / "q")),
        performance=PerformanceConfig(shuffle_partitions=7, cache_intermediate=True),
    )
    metrics = PipelineExecutor().execute(config, spark)
    assert metrics.status == "SUCCESS"
    assert metrics.records_failed == 0  # no null keys in testdata
    assert metrics.records_extracted > 0
    assert spark.conf.get("spark.sql.shuffle.partitions") == before  # restored


def test_quality_quarantines_invalid_rows(spark, tmp_path):
    src = tmp_path / "src"
    spark.createDataFrame(
        [(1, "a"), (None, "b"), (3, None), (4, "d")], ["k", "v"]
    ).write.parquet(str(src))
    config = PipelineConfig(
        pipeline_id="t-quar",
        source=SourceConfig(type="file", options={"path": str(src), "format": "parquet"}),
        transformations=(),
        sink=SinkConfig(
            type="file",
            options={"path": str(tmp_path / "out"), "format": "parquet"},
            write_mode="overwrite",
        ),
        quality=QualityConfig(
            null_checks=("k", "v"), quarantine_path=str(tmp_path / "q")
        ),
    )
    metrics = PipelineExecutor().execute(config, spark)
    assert metrics.status == "SUCCESS"
    assert metrics.records_failed == 2
    assert metrics.records_loaded == 2
    assert metrics.records_extracted == 4
    quarantined = spark.read.parquet(str(tmp_path / "q"))
    assert quarantined.count() == 2
    assert {"quarantine_timestamp", "pipeline_id", "run_id"} <= set(quarantined.columns)


def test_upsert_sql_quotes_identifiers():
    sql = build_upsert_sql(
        "postgres", "events", "events_staging_1", ["id", "val", "select"], ["id"]
    )
    # plain table names stay UNQUOTED (fold-consistent with Spark's JDBC
    # writer, which passes dbtable through unquoted); columns are always
    # quoted because the writer quotes them at CREATE
    assert "INSERT INTO events " in sql and "FROM events_staging_1 " in sql
    assert '"select" = EXCLUDED."select"' in sql
    my = build_upsert_sql("mysql", "t", "t_s", ["id", "v"], ["id"])
    assert "`v` = VALUES(`v`)" in my
    # non-plain table names (couldn't exist unquoted) DO get quoted
    weird = build_upsert_sql("postgres", "weird table", "s", ["id"], ["id"])
    assert '"weird table"' in weird
    # ANSI MERGE dialect (Derby/DB2/lakehouse)
    ansi = build_upsert_sql("ansi", "T", "T_S", ["id", "v"], ["id"])
    assert ansi.startswith("MERGE INTO T t USING T_S s ON")
    assert 't."id" = s."id"' in ansi and '"v" = s."v"' in ansi


def test_avro_degrades_with_clear_error(spark, sf_dir, tmp_path):
    from etl_spark_gradle_spark.sinks.loaders import load_file

    df = spark.read.parquet(f"{sf_dir}/nation.parquet")
    with pytest.raises(ConfigError, match="spark-avro"):
        load_file(df, {"path": str(tmp_path / "a"), "format": "avro"}, "overwrite")


def test_split_csv_respects_parens():
    from etl_spark_gradle_spark.operators.relational import _split_csv

    assert _split_csv("coalesce(a, b) DESC, c") == ["coalesce(a, b) DESC", "c"]
    assert _split_csv("a,b , c") == ["a", "b", "c"]


def test_custom_rules_quarantine_violators(spark, sf_dir, tmp_path):
    """customRules (dead config in the reference,
    ``config/YAMLConfigParser.scala:144`` hardwires None) works here:
    rows failing any SQL boolean rule are quarantined; NULL rule results
    count as violations."""
    quality = QualityConfig(
        custom_rules=("l_quantity BETWEEN 1 AND 50", "l_discount <= 0.1"),
        quarantine_path=str(tmp_path / "quar"),
    )
    config = _pipeline(sf_dir, tmp_path / "out", quality=quality)
    metrics = PipelineExecutor().execute(config, spark)
    assert metrics.status == "SUCCESS"

    src = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    bad = src.filter("NOT (l_quantity BETWEEN 1 AND 50 AND l_discount <= 0.1)").count()
    assert metrics.records_failed == bad
    # per-rule counters observed on the quarantine action (no extra job)
    by_check = metrics.quality_report.violations_by_check
    assert by_check["rule:l_quantity BETWEEN 1 AND 50"] == src.filter(
        "NOT (l_quantity BETWEEN 1 AND 50)"
    ).count()
    assert by_check["rule:l_discount <= 0.1"] == src.filter(
        "NOT (l_discount <= 0.1)"
    ).count()
    quarantined = spark.read.parquet(str(tmp_path / "quar"))
    assert quarantined.count() == bad
    assert {"quarantine_timestamp", "pipeline_id", "run_id"} <= set(quarantined.columns)
    # the transformed+loaded output only ever saw valid rows
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.filter("l_discount > 0.1 OR l_quantity > 50").count() == 0


def test_custom_rules_null_counts_as_violation(spark, tmp_path):
    df = spark.createDataFrame([(1, 5), (2, None), (3, 200)], ["id", "v"])
    from etl_spark_gradle_spark.quality import split_valid_invalid

    valid, invalid = split_valid_invalid(df, [], ["v < 100"])
    assert {r.id for r in valid.collect()} == {1}
    assert {r.id for r in invalid.collect()} == {2, 3}


def test_custom_rules_yaml_parse(tmp_path):
    import yaml

    from etl_spark_gradle_spark.plans.config import load_pipeline_yaml

    doc = {
        "pipelineId": "p",
        "source": {"type": "file", "options": {"path": "/x", "format": "parquet"}},
        "transformations": [],
        "sink": {"type": "file", "options": {"path": "/y", "format": "parquet"}},
        "quality": {"customRules": ["a > 0", "b IS NOT NULL"]},
    }
    p = tmp_path / "p.yaml"
    p.write_text(yaml.safe_dump(doc))
    cfg = load_pipeline_yaml(str(p))
    assert cfg.quality.custom_rules == ("a > 0", "b IS NOT NULL")
    assert cfg.quality.enabled


def test_text_sink_roundtrip(spark, sf_dir, tmp_path):
    from etl_spark_gradle_spark.plans.config import ConfigError
    from etl_spark_gradle_spark.sinks.loaders import load_file

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    out = str(tmp_path / "corpus_txt")
    res = load_file(docs.select("text"), {"path": out, "format": "text"}, "overwrite")
    assert res.records_written == 50
    assert spark.read.text(out).count() == 50
    with pytest.raises(ConfigError, match="one column"):
        load_file(docs, {"path": out, "format": "text"}, "overwrite")


def test_skip_extract_count_enables_pushdown(spark, tmp_path):
    """performance.skipExtractCount drops the CollectMetrics barrier so
    selective filters reach the parquet scan as PushedFilters; the
    records_extracted counter honestly reports -1 instead of lying."""
    import io
    from contextlib import redirect_stdout

    import yaml

    from etl_spark_gradle_spark.plans.config import load_pipeline_yaml
    from etl_spark_gradle_spark.plans.executor import PipelineExecutor
    from etl_spark_gradle_spark.plans.config import RunContext

    doc = {
        "pipelineId": "pushdown-t",
        "source": {
            "type": "file",
            "options": {
                "path": "/root/testdata/sf0.001/lineitem.parquet",
                "format": "parquet",
            },
        },
        "performance": {"skipExtractCount": True},
        "transformations": [
            {"type": "filter", "options": {"condition": "l_quantity > 45"}}
        ],
        "sink": {
            "type": "file",
            "options": {"path": str(tmp_path / "out"), "format": "parquet"},
            "writeMode": "overwrite",
        },
    }
    p = tmp_path / "p.yaml"
    p.write_text(yaml.safe_dump(doc))
    config = load_pipeline_yaml(str(p))

    ex = PipelineExecutor()
    ctx = RunContext.create("t", spark)
    transformed, _, obs, _ = ex.build_plan(config, ctx, ex.extract(config, ctx)[1])
    assert obs is None
    buf = io.StringIO()
    with redirect_stdout(buf):
        transformed.explain("formatted")
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45" in buf.getvalue()

    metrics = ex.execute(config, spark)
    assert metrics.status == "SUCCESS"
    assert metrics.records_extracted == -1            # honest: not counted
    assert metrics.records_loaded > 0
    # default path still counts and still blocks pushdown (by design)
    doc["performance"] = {}
    p.write_text(yaml.safe_dump(doc))
    cfg2 = load_pipeline_yaml(str(p))
    m2 = PipelineExecutor().execute(cfg2, spark)
    assert m2.records_extracted == 6000


def test_schema_align_safe_and_strict(spark):
    """schema_align conforms a drifted batch: reorder + cast + fill
    missing nullable columns with typed NULLs, drop extras; strict mode
    rejects drift outright."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from etl_spark_gradle_spark.quality import schema_align

    target = StructType(
        [
            StructField("id", LongType(), nullable=False),
            StructField("name", StringType(), nullable=True),
            StructField("score", DoubleType(), nullable=True),
        ]
    )
    batch = spark.createDataFrame(
        [("77", 5, "x")], "id string, extra int, name string"
    )  # wrong order, castable id, extra col, missing score
    out = schema_align(batch, target)
    assert out.columns == ["id", "name", "score"]
    r = out.collect()[0]
    assert r.id == 77 and r.name == "x" and r.score is None
    assert out.schema["id"].dataType.typeName() == "long"

    import pytest as _pytest

    with _pytest.raises(ValueError, match="strict"):
        schema_align(batch, target, mode="strict")
    # conforming batch passes strict untouched
    ok = spark.createDataFrame([(1, "a", 2.0)], target)
    assert schema_align(ok, target, mode="strict").collect()[0].id == 1
    # non-nullable target column missing from the batch -> hard error
    bad_target = StructType([StructField("must", LongType(), nullable=False)])
    with _pytest.raises(ValueError, match="non-nullable"):
        schema_align(batch, bad_target)
    with _pytest.raises(ValueError, match="mode"):
        schema_align(batch, target, mode="bogus")


def test_schema_align_transformer_registry(spark):
    from etl_spark_gradle_spark.operators import TRANSFORMER_REGISTRY
    from etl_spark_gradle_spark.plans.config import RunContext, TransformationConfig

    df = spark.createDataFrame([("9", "x", 1)], "id string, name string, junk int")
    tf = TRANSFORMER_REGISTRY["schema_align"]
    cfg = TransformationConfig(
        type="schema_align", options={"targetSchema": "id long, name string"}
    )
    assert tf.validate(df, cfg).is_valid
    out = tf.transform(df, cfg, RunContext.create("t", spark))
    assert out.columns == ["id", "name"]
    assert out.collect()[0].id == 9
    bad = TransformationConfig(type="schema_align", options={"targetSchema": "id nonsense"})
    assert not tf.validate(df, bad).is_valid
    assert not tf.validate(
        df, TransformationConfig(type="schema_align", options={})
    ).is_valid


# ---------------------------------------------------------------------------
# Declarative expectations engine
# ---------------------------------------------------------------------------


def test_expectations_report_counts(spark):
    from etl_spark_gradle_spark.quality import expectations_report

    df = spark.createDataFrame(
        [
            (1, "a", 10.0),
            (2, "b", -5.0),    # range violation
            (2, "zz", 20.0),   # duplicate id + in_set violation
            (None, "a", 1.0),  # null id
        ],
        ["id", "tag", "v"],
    )
    rep = {
        r.check_name: (r.violations, r.passed)
        for r in expectations_report(
            df,
            [
                {"type": "not_null", "column": "id"},
                {"type": "unique", "column": "id"},
                {"type": "range", "column": "v", "lo": 0},
                {"type": "in_set", "column": "tag", "values": ["a", "b"]},
                {"type": "pattern", "column": "tag", "pattern": "^[a-y]+$"},
                {"name": "custom:v_small", "type": "custom", "expr": "v < 100"},
            ],
        ).collect()
    }
    assert rep["not_null:id"] == (1, False)
    assert rep["unique:id"] == (1, False)       # one extra row beyond first
    assert rep["range:v"] == (1, False)
    assert rep["in_set:tag"] == (1, False)
    assert rep["pattern:tag"] == (1, False)     # "zz" fails [a-y]
    assert rep["custom:v_small"] == (0, True)


def test_expectations_ref_and_gate(spark):
    from etl_spark_gradle_spark.quality import (
        TransformationError,
        enforce_expectations,
        expectations_report,
    )

    facts = spark.createDataFrame([(1,), (2,), (9,)], ["fk"])
    dim = spark.createDataFrame([(1,), (2,)], ["pk"])
    rep = expectations_report(
        facts,
        [{"type": "ref", "column": "fk", "ref_df": dim, "ref_column": "pk"}],
    ).collect()[0]
    assert rep.violations == 1 and not rep.passed

    clean = spark.createDataFrame([(1,), (2,)], ["fk"])
    out = enforce_expectations(
        clean, [{"type": "not_null", "column": "fk"}]
    )
    assert out.count() == 2
    with pytest.raises(TransformationError, match="expectations failed"):
        enforce_expectations(
            facts,
            [{"type": "ref", "column": "fk", "ref_df": dim, "ref_column": "pk"}],
        )


def test_expectations_single_job_for_row_local_checks(spark):
    from etl_spark_gradle_spark.quality import expectations_report

    df = spark.range(100).selectExpr("id", "CAST(id % 7 AS DOUBLE) AS v")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    sc = spark.sparkContext
    sc.setJobGroup("expect-jobs", "expect-jobs")
    try:
        expectations_report(
            df,
            [
                {"type": "not_null", "column": "id"},
                {"type": "range", "column": "v", "lo": 0, "hi": 6},
                {"type": "custom", "expr": "id >= 0"},
                {"type": "unique", "column": "id"},
            ],
        )
    finally:
        sc.setJobGroup("", "")
    jobs = tracker.getJobIdsForGroup("expect-jobs")
    # 4 checks, ONE aggregation job (AQE may add a zero-task stage but
    # not extra jobs beyond the single collect action's)
    assert len(jobs) <= 2


def test_expect_yaml_adapter(spark):
    from etl_spark_gradle_spark.operators import TRANSFORMER_REGISTRY
    from etl_spark_gradle_spark.plans.config import RunContext, TransformationConfig

    df = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "s"])
    spark.createDataFrame([(1,), (2,)], ["pk"]).createOrReplaceTempView("dim_ok")
    t = TRANSFORMER_REGISTRY["expect"]
    ctx = RunContext.create("t", spark)
    cfg = TransformationConfig(
        type="expect",
        options={
            "checks": "not_null:id; unique:id; range:id:1:2; "
                      "in_set:s:x|y; pattern:s:^[a-z]$; "
                      "custom:id_pos:id > 0; ref:id:dim_ok:pk",
        },
    )
    assert t.validate(df, cfg).is_valid
    rep = t.transform(df, cfg, ctx)
    assert rep.count() == 7
    assert rep.where("NOT passed").count() == 0

    gate = TransformationConfig(
        type="expect",
        options={"checks": "range:id:5:", "action": "gate"},
    )
    from etl_spark_gradle_spark.quality import TransformationError

    with pytest.raises(TransformationError):
        t.transform(df, gate, ctx)

    bad = t.validate(
        df, TransformationConfig(type="expect", options={"checks": "bogus:x"})
    )
    assert not bad.is_valid
    missing_col = t.validate(
        df, TransformationConfig(type="expect", options={"checks": "not_null:nope"})
    )
    assert not missing_col.is_valid
