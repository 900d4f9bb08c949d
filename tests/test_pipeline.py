"""End-to-end pipeline tests (SURVEY §5 layer 4), file-backed like the
reference's integration scenarios (H2/local-FS fakes; FR-029)."""

from __future__ import annotations

import json

import pytest
import yaml

from etl_spark_gradle_spark.plans import (
    AggregateExpr,
    PipelineConfig,
    PipelineExecutor,
    PerformanceConfig,
    QualityConfig,
    SinkConfig,
    SourceConfig,
    TransformationConfig,
    load_pipeline_yaml,
    parse_pipeline_dict,
)
from etl_spark_gradle_spark.plans.config import ConfigError
from etl_spark_gradle_spark.sources.extractors import NANOS_AS_LONG


class TestYamlParsing:
    def test_parse_full_pipeline(self, tmp_path):
        doc = {
            "pipelineId": "sales-agg",
            "source": {"type": "s3", "options": {"path": "/data/in", "format": "parquet"}},
            "transformations": [
                {
                    "type": "aggregation",
                    "name": "agg-by-cat",
                    "parameters": {"groupBy": "category"},  # parameters: spelling
                    "aggregations": [
                        {"column": "price", "function": "sum", "alias": "total"},
                        {"column": "*", "function": "count"},
                    ],
                }
            ],
            "sink": {
                "type": "s3",
                "options": {"path": "/data/out", "format": "parquet"},
                "writeMode": "overwrite",
                "partitionBy": "category",
            },
            "performance": {"shufflePartitions": 8, "repartition": 4},
            "quality": {"nullChecks": ["price"], "quarantinePath": "/q"},
        }
        p = tmp_path / "p.yaml"
        p.write_text(yaml.safe_dump(doc))
        config = load_pipeline_yaml(str(p))
        assert config.pipeline_id == "sales-agg"
        assert config.source.type == "s3"
        assert config.transformations[0].options["groupBy"] == "category"
        assert config.transformations[0].aggregations[0] == AggregateExpr("price", "sum", "total")
        assert config.transformations[0].aggregations[1].alias == "count_all"
        assert config.sink.write_mode == "overwrite"
        assert config.sink.partition_by == ("category",)
        assert config.performance.shuffle_partitions == 8
        assert config.quality.null_checks == ("price",)
        assert config.quality.quarantine_path == "/q"

    def test_missing_pipeline_id_rejected(self):
        with pytest.raises(ConfigError):
            parse_pipeline_dict({"source": {"type": "s3"}, "sink": {"type": "s3"}})

    def test_bad_write_mode_rejected(self):
        with pytest.raises(ConfigError):
            parse_pipeline_dict(
                {
                    "pipelineId": "x",
                    "source": {"type": "s3", "options": {"path": "/a"}},
                    "sink": {"type": "s3", "options": {"path": "/b"}, "writeMode": "merge"},
                }
            )

    def test_env_secret_resolution(self, monkeypatch):
        monkeypatch.setenv("TEST_DB_PASSWORD", "hunter2")
        config = parse_pipeline_dict(
            {
                "pipelineId": "x",
                "source": {
                    "type": "postgres",
                    "options": {"url": "jdbc:postgresql://h/db", "table": "t",
                                "password": "${ENV:TEST_DB_PASSWORD}"},
                },
                "sink": {"type": "s3", "options": {"path": "/b"}},
            }
        )
        assert config.source.options["password"] == "hunter2"


def _pipeline(sf_dir, out_dir, quality=None, transformations=None):
    return PipelineConfig(
        pipeline_id="test-pipeline",
        source=SourceConfig(
            type="file", options={"path": f"{sf_dir}/lineitem.parquet", "format": "parquet"}
        ),
        transformations=tuple(
            transformations
            or [
                TransformationConfig(
                    type="aggregation",
                    options={"groupBy": "l_returnflag,l_linestatus"},
                    aggregations=(
                        AggregateExpr("l_quantity", "sum", "sum_qty"),
                        AggregateExpr("l_extendedprice", "avg", "avg_price"),
                        AggregateExpr("*", "count", "cnt"),
                    ),
                )
            ]
        ),
        sink=SinkConfig(
            type="file",
            options={"path": str(out_dir), "format": "parquet"},
            write_mode="overwrite",
        ),
        performance=PerformanceConfig(shuffle_partitions=4),
        quality=quality or QualityConfig(),
    )


class TestExecutor:
    def test_end_to_end_aggregation(self, spark, sf_dir, tmp_path):
        # quickstart-1 semantics (integration/QuickstartScenario1Spec.scala:113-218)
        out_dir = tmp_path / "out"
        metrics = PipelineExecutor().execute(_pipeline(sf_dir, out_dir), spark)
        assert metrics.status == "SUCCESS", metrics.error_details
        result = spark.read.parquet(str(out_dir))
        rows = result.collect()
        assert len(rows) == 6  # 3 returnflags x 2 linestatus in testdata
        assert metrics.records_loaded == 6
        # lineage column present and mentions pipeline + source + step
        lineage = json.loads(rows[0]["_lineage"])
        assert lineage["pipelineId"] == "test-pipeline"
        assert lineage["sourceType"] == "file"
        assert "aggregation" in lineage["transformationChain"][0]

    def test_filter_map_pipeline(self, spark, sf_dir, tmp_path):
        out_dir = tmp_path / "out2"
        transformations = [
            TransformationConfig(type="filter", options={"condition": "l_quantity > 25"}),
            TransformationConfig(
                type="map",
                options={"expressions": "revenue:l_extendedprice * (1 - l_discount)"},
            ),
        ]
        metrics = PipelineExecutor().execute(
            _pipeline(sf_dir, out_dir, transformations=transformations), spark
        )
        assert metrics.status == "SUCCESS", metrics.error_details
        result = spark.read.parquet(str(out_dir))
        assert "revenue" in result.columns
        assert result.filter("l_quantity <= 25").count() == 0

    def test_failure_returns_metrics(self, spark, sf_dir, tmp_path):
        # parity: pipeline/PipelineExecutor.scala:66-82 failure contract
        bad = _pipeline(
            sf_dir,
            tmp_path / "out3",
            transformations=[TransformationConfig(type="filter", options={})],
        )
        metrics = PipelineExecutor().execute(bad, spark)
        assert metrics.status == "FAILED"
        assert "condition" in metrics.error_details

    def test_quality_quarantine(self, spark, tmp_path):
        # rows with nulls get quarantined; valid rows flow through
        # (parity: integration/FailureRecoverySpec.scala:111-196)
        src = tmp_path / "src"
        spark.createDataFrame(
            [(1, "a", 10.0), (2, None, 20.0), (3, "c", None), (4, "d", 40.0)],
            ["id", "name", "value"],
        ).write.parquet(str(src))
        qdir = tmp_path / "quarantine"
        out_dir = tmp_path / "out4"
        config = PipelineConfig(
            pipeline_id="quality-pipeline",
            source=SourceConfig(type="file", options={"path": str(src), "format": "parquet"}),
            transformations=(
                TransformationConfig(type="filter", options={"condition": "id > 0"}),
            ),
            sink=SinkConfig(
                type="file", options={"path": str(out_dir), "format": "parquet"},
                write_mode="overwrite",
            ),
            quality=QualityConfig(null_checks=("name", "value"), quarantine_path=str(qdir)),
        )
        metrics = PipelineExecutor().execute(config, spark)
        assert metrics.status == "SUCCESS", metrics.error_details
        assert metrics.records_loaded == 2
        assert metrics.records_failed == 2
        quarantined = spark.read.parquet(str(qdir))
        assert quarantined.count() == 2
        qcols = set(quarantined.columns)
        assert {"quarantine_timestamp", "pipeline_id", "run_id"} <= qcols


def test_multi_source_join_via_views(spark, sf_dir, tmp_path):
    """quickstart-3 made real: the reference YAML documents a
    multi-source join but cannot express the secondary extraction
    (``pipelines/quickstart-3-multi-source-join.yaml:23-26``); the
    ``views:`` section declares it in the same pipeline."""
    import yaml

    from etl_spark_gradle_spark.plans.config import load_pipeline_yaml
    from etl_spark_gradle_spark.plans.executor import PipelineExecutor

    doc = {
        "pipelineId": "multi-source-join",
        "source": {
            "type": "file",
            "options": {"path": f"{sf_dir}/orders.parquet", "format": "parquet"},
        },
        "views": {
            "cust_view": {
                "type": "file",
                "options": {"path": f"{sf_dir}/customer.parquet", "format": "parquet"},
            }
        },
        "transformations": [
            {
                "type": "join",
                "options": {
                    "rightTable": "cust_view",
                    "joinType": "inner",
                    "leftKey": "o_custkey",
                    "rightKey": "c_custkey",
                    "selectColumns": "o_orderkey,o_totalprice,c_name,c_mktsegment",
                },
            },
            {
                "type": "map",
                "options": {"expressions": "price_band:CAST(o_totalprice / 100000 AS INT)"},
            },
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
    assert config.views[0][0] == "cust_view"
    metrics = PipelineExecutor().execute(config, spark)
    assert metrics.status == "SUCCESS", metrics.error_details
    orders_n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert metrics.records_loaded == orders_n  # every order has a customer
    out = spark.read.parquet(str(tmp_path / "out"))
    assert {"o_orderkey", "o_totalprice", "c_name", "c_mktsegment", "price_band"} <= set(
        out.columns
    )


def test_curate_corpus_pipeline_yaml(spark, sf_dir, tmp_path, monkeypatch):
    """The shipped pipelines/curate-corpus.yaml runs end-to-end: text
    stats -> quality gate -> fuzzy dedup -> sorted curated parquet."""
    from etl_spark_gradle_spark.plans.config import load_pipeline_yaml
    from etl_spark_gradle_spark.plans.executor import PipelineExecutor

    out = str(tmp_path / "curated")
    monkeypatch.setenv("CORPUS_DIR", sf_dir)
    monkeypatch.setenv("CURATED_OUT", out)
    cfg = load_pipeline_yaml("pipelines/curate-corpus.yaml")
    metrics = PipelineExecutor().execute(cfg, spark)
    assert metrics.records_loaded > 0
    assert metrics.records_loaded <= metrics.records_extracted

    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cur = spark.read.parquet(out)
    # curation only removes rows, never invents them
    assert cur.count() == metrics.records_loaded < src.count()
    # stat/fingerprint columns present; quality gate actually enforced
    for col in ("n_tokens", "punct_ratio", "lang_pred", "fingerprint"):
        assert col in cur.columns
    assert cur.filter("n_tokens < 5 OR punct_ratio >= 0.5").count() == 0
    # near-dup survivors: exact duplicate texts cannot coexist
    assert cur.groupBy("text").count().filter("count > 1").count() == 0


def test_web_corpus_curation_pipeline_yaml(spark, sf_dir, tmp_path, monkeypatch):
    """The shipped pipelines/web-corpus-curation.yaml (flagship chain:
    clean -> quality gate -> per-source cap -> fuzzy dedup -> PII
    redact -> split) runs end-to-end with healthy split fractions —
    the correlated-hash regression guard at the YAML level."""
    from etl_spark_gradle_spark.plans.config import load_pipeline_yaml
    from etl_spark_gradle_spark.plans.executor import PipelineExecutor

    out = str(tmp_path / "web_curated")
    monkeypatch.setenv("CORPUS_DIR", sf_dir)
    monkeypatch.setenv("CURATED_OUT", out)
    cfg = load_pipeline_yaml("pipelines/web-corpus-curation.yaml")
    metrics = PipelineExecutor().execute(cfg, spark)
    assert metrics.records_loaded > 0

    cur = spark.read.parquet(out)
    assert "clean_text" in cur.columns and "split" in cur.columns
    # per-source cap enforced
    assert cur.groupBy("source").count().agg({"count": "max"}).collect()[0][0] <= 20
    # both splits materialize at sane fractions (correlated-hash guard)
    counts = {r["split"]: r["count"] for r in cur.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val"}
    val_frac = counts["val"] / cur.count()
    assert 0.03 < val_frac < 0.25, f"val fraction degenerate: {val_frac}"
    # dedup: no exact duplicate cleaned texts coexist
    assert cur.groupBy("clean_text").count().filter("count > 1").count() == 0


def test_lm_quality_gate_pipeline_yaml(spark, sf_dir, tmp_path, monkeypatch):
    """The shipped pipelines/lm-quality-gate.yaml runs end-to-end:
    bigram-LM scoring annotates every surviving doc with finite
    perplexity and the OOV-rate predicate is actually enforced."""
    from etl_spark_gradle_spark.plans.config import load_pipeline_yaml
    from etl_spark_gradle_spark.plans.executor import PipelineExecutor

    out = str(tmp_path / "lm_gated")
    monkeypatch.setenv("CORPUS_DIR", sf_dir)
    monkeypatch.setenv("LM_OUT", out)
    cfg = load_pipeline_yaml("pipelines/lm-quality-gate.yaml")
    metrics = PipelineExecutor().execute(cfg, spark)
    assert metrics.records_loaded > 0

    cur = spark.read.parquet(out)
    for col in ("ppl", "avg_logprob", "oov_bigrams", "n_bigrams"):
        assert col in cur.columns
    assert cur.filter("ppl IS NULL OR ppl >= 5000").count() == 0
    assert cur.filter("oov_bigrams / greatest(n_bigrams, 1) >= 0.5").count() == 0
    # self-trained LM: scores are finite and positive
    row = cur.agg({"ppl": "min"}).collect()[0]
    assert row[0] > 0


def test_quickstart1_inline_aggregation_yaml(spark, sf_dir, tmp_path, monkeypatch):
    """Reference quickstart-1 parity: the inline alias:fn(expr)
    aggregation string (incl. an expression aggregate) runs verbatim."""
    import duckdb

    from etl_spark_gradle_spark.plans.config import load_pipeline_yaml
    from etl_spark_gradle_spark.plans.executor import PipelineExecutor

    out = str(tmp_path / "sales")
    monkeypatch.setenv("SALES_SRC", f"{sf_dir}/lineitem.parquet")
    monkeypatch.setenv("SALES_OUT", out)
    cfg = load_pipeline_yaml("pipelines/quickstart-1-sales-aggregation.yaml")
    metrics = PipelineExecutor().execute(cfg, spark)
    assert metrics.records_loaded == 3

    got = {
        r[0]: (round(r[1], 4), round(r[2], 4), r[3])
        for r in duckdb.sql(
            f"SELECT l_returnflag, total_quantity, total_revenue, sale_count "
            f"FROM read_parquet('{out}/*.parquet') ORDER BY 1"
        ).fetchall()
    }
    want = {
        r[0]: (round(r[1], 4), round(r[2], 4), r[3])
        for r in duckdb.sql(
            f"SELECT l_returnflag, SUM(l_quantity), "
            f"SUM(l_extendedprice * (1 - l_discount)), COUNT(*) "
            f"FROM read_parquet('{sf_dir}/lineitem.parquet') GROUP BY 1 ORDER BY 1"
        ).fetchall()
    }
    assert got == want


def test_quickstart2_windowing_yaml(spark, tmp_path, monkeypatch):
    """Reference quickstart-2 parity: timestampColumn spelling + window
    groupBy + inline aggregations over a JSON metrics feed."""
    import json as _json

    from etl_spark_gradle_spark.plans.config import load_pipeline_yaml
    from etl_spark_gradle_spark.plans.executor import PipelineExecutor

    src = tmp_path / "metrics_src"
    src.mkdir()
    rows = [
        ("2024-01-01T10:00:05", "m1", 1.0),
        ("2024-01-01T10:00:45", "m1", 3.0),
        ("2024-01-01T10:01:10", "m1", 5.0),
        ("2024-01-01T10:00:30", "m2", 7.0),
    ]
    with open(src / "metrics.json", "w", encoding="utf-8") as f:
        for ts, m, v in rows:
            f.write(_json.dumps({"ts": ts, "metric": m, "value": v}) + "\n")
    out = str(tmp_path / "metrics_out")
    monkeypatch.setenv("METRICS_SRC", str(src))
    monkeypatch.setenv("METRICS_OUT", out)
    cfg = load_pipeline_yaml("pipelines/quickstart-2-metrics-windowing.yaml")
    PipelineExecutor().execute(cfg, spark)

    got = {
        (str(r.window.start)[:16], r.metric_name): (r.total_events, r.avg_value)
        for r in spark.read.parquet(out).collect()
    }
    assert got[("2024-01-01 10:00", "m1")] == (2, 2.0)
    assert got[("2024-01-01 10:01", "m1")] == (1, 5.0)
    assert got[("2024-01-01 10:00", "m2")] == (1, 7.0)


def test_quickstart3_multi_source_join_yaml(spark, sf_dir, tmp_path, monkeypatch):
    """Reference quickstart-3 parity: views-section secondary source +
    the YAML's own rightDataset/selectColumns spellings + partitioned
    sink."""
    from etl_spark_gradle_spark.plans.config import load_pipeline_yaml
    from etl_spark_gradle_spark.plans.executor import PipelineExecutor

    out = str(tmp_path / "enriched")
    monkeypatch.setenv("ORDERS_SRC", f"{sf_dir}/orders.parquet")
    monkeypatch.setenv("DETAILS_SRC", f"{sf_dir}/customer.parquet")
    monkeypatch.setenv("ENRICHED_OUT", out)
    cfg = load_pipeline_yaml("pipelines/quickstart-3-multi-source-join.yaml")
    metrics = PipelineExecutor().execute(cfg, spark)

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    assert metrics.records_loaded == orders.count()  # every order has a customer
    back = spark.read.parquet(out)
    assert set(back.columns) == {
        "o_orderkey", "o_custkey", "c_name", "c_mktsegment",
        "o_totalprice", "o_orderdate", "order_month", "_lineage",
    }
    import glob

    assert glob.glob(f"{out}/order_month=*")  # physically partitioned


def test_join_keys_alias(spark, sf_dir):
    """joinKeys (reference quickstart-3 spelling): one shared key name
    for both sides."""
    from etl_spark_gradle_spark.operators import TRANSFORMER_REGISTRY
    from etl_spark_gradle_spark.plans.config import RunContext, TransformationConfig

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.select("o_custkey").distinct().limit(50).createOrReplaceTempView(
        "some_custkeys"
    )
    cfg = TransformationConfig(
        type="join",
        options={"rightDataset": "some_custkeys", "joinType": "inner",
                 "joinKeys": "o_custkey"},
    )
    out = TRANSFORMER_REGISTRY["join"].transform(
        orders, cfg, RunContext.create("t", spark)
    )
    assert out.count() > 0
    assert out.count() < orders.count()


def test_inline_aggregation_parser_forms():
    """Inline alias:fn(expr) parsing: nested commas, *, whitespace, and
    malformed segments."""
    from etl_spark_gradle_spark.plans.config import (
        ConfigError,
        _parse_inline_aggregations,
    )

    aggs = _parse_inline_aggregations(
        "total:sum(price * (1 - disc)),cnt:count(*), avg_p : avg( price ),"
        "top:max(coalesce(a, b))",
        "t",
    )
    assert [(a.alias, a.function, a.column) for a in aggs] == [
        ("total", "sum", "price * (1 - disc)"),
        ("cnt", "count", "*"),
        ("avg_p", "avg", "price"),
        ("top", "max", "coalesce(a, b)"),
    ]
    with pytest.raises(ConfigError, match="bad inline aggregation"):
        _parse_inline_aggregations("no_parens:sum price", "t")
    with pytest.raises(ConfigError, match="bad inline aggregation"):
        _parse_inline_aggregations("missing_alias(sum(x))", "t")


def _nanos_parquet(path) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "event_id": pa.array([1, 2], type=pa.int64()),
            "ts": pa.array([1735689600_000_000_000, 1735689660_000_000_000],
                           type=pa.timestamp("ns")),
        }
    )
    pq.write_table(table, str(path), store_schema=False)
    return str(path)


def test_nanos_parquet_opt_in(spark, tmp_path):
    """TIMESTAMP(NANOS) parquet reads via the nanosAsLong opt-in and
    converts downstream with a map expression. (The file is synthesized
    with pyarrow ns-timestamps — testdata's events.parquet has shipped
    both NANOS and MICROS encodings across generations, so the test
    pins its own input.)"""
    from etl_spark_gradle_spark.operators.relational import map_columns, parse_map_expressions
    from etl_spark_gradle_spark.sources.extractors import extract_file

    path = _nanos_parquet(tmp_path / "nanos.parquet")

    try:
        df = extract_file(
            spark, {"path": path, "format": "parquet", "nanosAsLong": "true"}
        )
        assert dict(df.dtypes)["ts"] == "bigint"
        out = map_columns(
            df, parse_map_expressions("event_time:timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
        )
        row = out.select("event_time").first()
        assert str(row.event_time).startswith("2025-01-01")
    finally:
        # extract_file sets the session-wide key; only the executor scopes it
        spark.conf.unset(NANOS_AS_LONG)


def test_executor_restores_nanos_as_long(spark, tmp_path):
    """A run whose source opts into ``nanosAsLong`` reads the nanos as
    LONG, and afterwards the session key reads its prior value."""
    path = _nanos_parquet(tmp_path / "nanos.parquet")
    prior = spark.conf.get(NANOS_AS_LONG, None)
    doc = {
        "pipelineId": "nanos",
        "source": {
            "type": "file",
            "options": {"path": path, "format": "parquet", "nanosAsLong": "true"},
        },
        "transformations": [{
            "type": "map",
            "options": {"expressions": "event_time:timestamp_micros(CAST(ts DIV 1000 AS BIGINT))"},
        }],
        "sink": {
            "type": "file", "options": {"path": str(tmp_path / "out"), "format": "parquet"},
            "writeMode": "overwrite",
        },
    }
    metrics = PipelineExecutor().execute(parse_pipeline_dict(doc), spark)
    assert metrics.status == "SUCCESS", metrics.error_details
    assert metrics.records_loaded == 2
    assert spark.conf.get(NANOS_AS_LONG, None) == prior
    out = spark.read.parquet(str(tmp_path / "out"))
    assert min(str(r.event_time) for r in out.collect()).startswith("2025-01-01")


class TestKafkaDatasourceGap:
    """pyspark bundles no spark-sql-kafka jar, so the datasource lookup
    fails BEFORE any broker contact — meaning the guided-ConfigError
    contract is testable for real, same as the avro degradation path."""

    def test_kafka_batch_read_guided_error(self, spark):
        from etl_spark_gradle_spark.plans.config import ConfigError
        from etl_spark_gradle_spark.sources.extractors import extract_kafka

        with pytest.raises(ConfigError, match="spark-sql-kafka"):
            extract_kafka(
                spark, {"bootstrap.servers": "broker:9092", "topic": "t"}
            )

    def test_kafka_stream_read_guided_error(self, spark):
        from etl_spark_gradle_spark.plans.config import ConfigError
        from etl_spark_gradle_spark.streaming import read_kafka_stream

        with pytest.raises(ConfigError, match="spark-sql-kafka"):
            read_kafka_stream(
                spark, {"bootstrap.servers": "broker:9092", "topic": "t"}
            )

    def test_kafka_write_guided_error(self, spark):
        from etl_spark_gradle_spark.plans.config import ConfigError
        from etl_spark_gradle_spark.sinks.loaders import load_kafka

        df = spark.createDataFrame([(1, "a")], ["id", "v"])
        with pytest.raises(ConfigError, match="spark-sql-kafka"):
            load_kafka(df, {"bootstrap.servers": "broker:9092", "topic": "t"})

    def test_missing_options_still_config_error(self, spark):
        from etl_spark_gradle_spark.plans.config import ConfigError
        from etl_spark_gradle_spark.sources.extractors import extract_kafka

        with pytest.raises(ConfigError, match="bootstrap.servers"):
            extract_kafka(spark, {})


def test_training_set_assembly_pipeline_yaml(spark, sf_dir, tmp_path, monkeypatch):
    """The shipped pipelines/training-set-assembly.yaml (lm_score ->
    quantile_filter -> mix -> bpe_tokenize -> compacted parquet) runs
    end-to-end: the percentile gate actually trims the ppl tail, the
    mixture lands near 50/25/25, and the tokenization is lossless."""
    from etl_spark_gradle_spark.plans.config import load_pipeline_yaml
    from etl_spark_gradle_spark.plans.executor import PipelineExecutor

    out = str(tmp_path / "training_set")
    monkeypatch.setenv("CORPUS_DIR", sf_dir)
    monkeypatch.setenv("ASSEMBLY_OUT", out)
    cfg = load_pipeline_yaml("pipelines/training-set-assembly.yaml")
    metrics = PipelineExecutor().execute(cfg, spark)
    assert metrics.records_loaded > 0

    ts = spark.read.parquet(out)
    assert {"id", "tokens", "n_tokens", "n_chars"} <= set(ts.columns)
    rows = ts.collect()
    assert all(r.n_tokens > 0 and r.n_chars >= r.n_tokens for r in rows)
    # lossless BPE: tokens partition the non-whitespace chars
    assert all(len("".join(r.tokens)) == r.n_chars for r in rows)
    # mixture targeted only src0/src1/src2 and the binding group dominates
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "source")
    srcs = {
        r.source: r.n
        for r in ts.join(docs, ts.id == docs.doc_id)
        .groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert set(srcs) <= {"src0", "src1", "src2"}
    assert srcs["src0"] >= max(srcs.get("src1", 0), srcs.get("src2", 0))


def test_lost_observation_degrades_to_sentinel_not_failure(spark, sf_dir, tmp_path):
    """AQE can eliminate the observed extract subtree entirely — seen
    when an EMPTY keyword-match relation empty-propagates through a
    LEFT ANTI join whose other side re-reads the source. The output is
    correct; the run must SUCCEED with records_extracted = -1 (the
    skipExtractCount sentinel), not fail on Observation.get's JVM
    assertion."""
    import yaml

    from etl_spark_gradle_spark.plans.config import load_pipeline_yaml
    from etl_spark_gradle_spark.plans.executor import PipelineExecutor

    doc = {
        "pipelineId": "lost-observation",
        "source": {
            "type": "file",
            "options": {"path": f"{sf_dir}/documents.parquet", "format": "parquet"},
        },
        "views": {
            "corpus_v": {
                "type": "file",
                "options": {"path": f"{sf_dir}/documents.parquet", "format": "parquet"},
            }
        },
        "transformations": [
            {
                "type": "keyword_tag",
                "options": {
                    "column": "text",
                    "phrases": "qqq-no-phrase-matches-this-zz",
                    "idColumns": "doc_id",
                },
            },
            {
                "type": "sql",
                "options": {
                    "inputView": "matches_v",
                    "statement": (
                        "SELECT c.* FROM corpus_v c LEFT ANTI JOIN "
                        "(SELECT DISTINCT doc_id FROM matches_v) m "
                        "ON c.doc_id = m.doc_id"
                    ),
                },
            },
        ],
        "sink": {
            "type": "file",
            "options": {"path": str(tmp_path / "out"), "format": "parquet"},
            "writeMode": "overwrite",
        },
    }
    p = tmp_path / "p.yaml"
    p.write_text(yaml.safe_dump(doc))
    metrics = PipelineExecutor().execute(load_pipeline_yaml(str(p)), spark)
    assert metrics.status == "SUCCESS", metrics.error_details
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert metrics.records_loaded == n_docs  # nothing matched -> nothing dropped
    assert spark.read.parquet(str(tmp_path / "out")).count() == n_docs
    # today the counter is lost (-1 sentinel); if a future Spark keeps
    # the observe node alive under empty-relation propagation the real
    # count is equally acceptable — the contract is "never FAILED"
    assert metrics.records_extracted in (-1, n_docs)


def test_malformed_records_quarantined_via_schema_and_permissive(spark, tmp_path):
    """Messy-ingest recipe: explicit DDL schema + PERMISSIVE corrupt-
    record capture + a customRules gate — malformed source lines land
    in quarantine carrying their RAW text while clean rows flow
    through, counted honestly."""
    import yaml

    from etl_spark_gradle_spark.plans.config import load_pipeline_yaml
    from etl_spark_gradle_spark.plans.executor import PipelineExecutor

    csv = tmp_path / "in.csv"
    csv.write_text(
        "id,name,qty\n1,alpha,10\n2,beta,notanumber\n3,gamma,30\n"
    )
    doc = {
        "pipelineId": "corrupt-quarantine",
        "source": {
            "type": "file",
            "options": {
                "path": str(csv),
                "format": "csv",
                "header": "true",
                "mode": "PERMISSIVE",
                "columnNameOfCorruptRecord": "_corrupt",
                "schema": "id INT, name STRING, qty INT, _corrupt STRING",
            },
        },
        "quality": {
            "customRules": ["_corrupt IS NULL"],
            "quarantinePath": str(tmp_path / "quar"),
        },
        "transformations": [
            {"type": "map", "options": {"expressions": "qty2:qty*2"}}
        ],
        "sink": {
            "type": "file",
            "options": {"path": str(tmp_path / "out"), "format": "parquet"},
            "writeMode": "overwrite",
        },
    }
    p = tmp_path / "p.yaml"
    p.write_text(yaml.safe_dump(doc))
    m = PipelineExecutor().execute(load_pipeline_yaml(str(p)), spark)
    assert m.status == "SUCCESS"
    assert m.records_loaded == 2 and m.records_failed == 1
    good = spark.read.parquet(str(tmp_path / "out"))
    assert sorted(r.id for r in good.collect()) == [1, 3]
    quar = spark.read.parquet(str(tmp_path / "quar"))
    assert [r["_corrupt"] for r in quar.collect()] == ["2,beta,notanumber"]


def test_bad_schema_ddl_fails_fast(spark, tmp_path):
    from etl_spark_gradle_spark.plans.config import ConfigError
    from etl_spark_gradle_spark.sources.extractors import extract_file

    csv = tmp_path / "x.csv"
    csv.write_text("a\n1\n")
    import pytest as _pytest

    with _pytest.raises(ConfigError, match="invalid 'schema' DDL"):
        extract_file(
            spark, {"path": str(csv), "format": "csv", "schema": "id NOTATYPE,"}
        )


def test_ml_feature_prep_pipeline_yaml(spark, sf_dir, tmp_path, monkeypatch):
    """The shipped pipelines/ml-feature-prep.yaml (join -> label ->
    balance -> r8 median-impute with indicator -> robust scale ->
    target encode -> binning) runs end-to-end and the imputation
    stage actually fills every masked (negative) balance."""
    from etl_spark_gradle_spark.plans.config import load_pipeline_yaml
    from etl_spark_gradle_spark.plans.executor import PipelineExecutor

    out = str(tmp_path / "features")
    monkeypatch.setenv("DATA_DIR", sf_dir)
    monkeypatch.setenv("FEATURES_OUT", out)
    cfg = load_pipeline_yaml("pipelines/ml-feature-prep.yaml")
    metrics = PipelineExecutor().execute(cfg, spark)
    assert metrics.status == "SUCCESS", metrics.error_details

    feats = spark.read.parquet(out)
    for col in ("bal_filled", "bal_was_missing", "acctbal_robust",
                "segment_te", "price_decile"):
        assert col in feats.columns
    # masked (negative) balances all filled; indicator set exactly there
    assert feats.filter("bal_filled IS NULL").count() == 0
    assert (
        feats.filter("bal_was_missing").count()
        == feats.filter("bal IS NULL").count()
    )


def test_timeseries_monitoring_pipeline_yaml(spark, sf_dir, tmp_path, monkeypatch):
    """The shipped pipelines/timeseries-monitoring.yaml (resample ->
    r8 rolling-median baseline -> health gate) runs end-to-end; the
    baseline exists wherever the window saw any observation."""
    from etl_spark_gradle_spark.plans.config import load_pipeline_yaml
    from etl_spark_gradle_spark.plans.executor import PipelineExecutor

    out = str(tmp_path / "grid")
    monkeypatch.setenv("EVENTS_SRC", f"{sf_dir}/events.parquet")
    monkeypatch.setenv("GRID_OUT", out)
    cfg = load_pipeline_yaml("pipelines/timeseries-monitoring.yaml")
    metrics = PipelineExecutor().execute(cfg, spark)
    assert metrics.status == "SUCCESS", metrics.error_details

    grid = spark.read.parquet(out)
    assert "baseline_median" in grid.columns
    # every bucket with an observed value has a baseline (the window
    # includes the bucket itself)
    assert grid.filter(
        "avg_value IS NOT NULL AND baseline_median IS NULL"
    ).count() == 0


def test_session_analytics_pipeline_yaml(spark, sf_dir, tmp_path, monkeypatch):
    """The shipped pipelines/session-analytics.yaml runs end-to-end:
    debounce per (user, type) -> 30-minute sessionization -> per-session
    rollup -> expectation gate -> parquet."""
    from pyspark.sql import functions as F

    from etl_spark_gradle_spark.plans.config import load_pipeline_yaml
    from etl_spark_gradle_spark.plans.executor import PipelineExecutor

    out = str(tmp_path / "sessions")
    monkeypatch.setenv("EVENTS_SRC", f"{sf_dir}/events.parquet")
    monkeypatch.setenv("SESSIONS_OUT", out)
    cfg = load_pipeline_yaml("pipelines/session-analytics.yaml")
    metrics = PipelineExecutor().execute(cfg, spark)
    assert metrics.records_loaded > 0

    sess = spark.read.parquet(out)
    assert {"user_id", "session_seq", "n_events", "start_units",
            "end_units", "duration_seconds"} <= set(sess.columns)
    # sessions are well-formed: positive sizes, ordered bounds,
    # contiguous 1-based per-user numbering
    bad = sess.filter(
        "n_events < 1 OR end_units < start_units OR session_seq < 1"
    )
    assert bad.count() == 0
    per_user = sess.groupBy("user_id").agg(
        F.count("*").alias("n"), F.max("session_seq").alias("mx")
    )
    assert per_user.filter("n <> mx").count() == 0
    # debounce only removes rows: session event total <= raw events
    raw = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    total_events = sess.agg(F.sum("n_events")).collect()[0][0]
    assert total_events <= raw


def test_training_pairs_pipeline_yaml(spark, sf_dir, tmp_path, monkeypatch):
    """The shipped pipelines/training-pairs.yaml runs end-to-end:
    deterministic negative sampling over documents (pool via a views:
    entry) -> self-pair gate -> parquet; a second run produces the
    byte-identical pair table (the reproducibility contract)."""
    from etl_spark_gradle_spark.plans.config import load_pipeline_yaml
    from etl_spark_gradle_spark.plans.executor import PipelineExecutor

    out = str(tmp_path / "pairs")
    monkeypatch.setenv("CORPUS_DIR", sf_dir)
    monkeypatch.setenv("PAIRS_OUT", out)
    cfg = load_pipeline_yaml("pipelines/training-pairs.yaml")
    metrics = PipelineExecutor().execute(cfg, spark)
    assert metrics.records_loaded > 0

    pairs = spark.read.parquet(out)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    # k=2 slots per anchor, minus any self-draws the gate's operator
    # already excluded
    assert n_docs < pairs.count() <= 2 * n_docs
    assert pairs.filter("negative = doc_id").count() == 0
    first = sorted(
        (r.doc_id, r.neg_index, r.negative) for r in pairs.collect()
    )
    out2 = str(tmp_path / "pairs2")
    monkeypatch.setenv("PAIRS_OUT", out2)
    PipelineExecutor().execute(load_pipeline_yaml(
        "pipelines/training-pairs.yaml"), spark)
    second = sorted(
        (r.doc_id, r.neg_index, r.negative)
        for r in spark.read.parquet(out2).collect()
    )
    assert first == second


def test_model_evaluation_pipeline_yaml(spark, sf_dir, tmp_path, monkeypatch):
    """The shipped pipelines/model-evaluation.yaml runs end-to-end:
    map-derived score/label -> per-segment exact AUC (evaluation
    family) -> range gate -> parquet; the output equals a direct call
    of the operator over the same derivation."""
    from pyspark.sql import functions as F

    from etl_spark_gradle_spark.operators.evaluation import auc
    from etl_spark_gradle_spark.plans.config import load_pipeline_yaml
    from etl_spark_gradle_spark.plans.executor import PipelineExecutor

    out = str(tmp_path / "eval")
    monkeypatch.setenv("ORDERS_SRC", f"{sf_dir}/orders.parquet")
    monkeypatch.setenv("EVAL_OUT", out)
    cfg = load_pipeline_yaml("pipelines/model-evaluation.yaml")
    metrics = PipelineExecutor().execute(cfg, spark)
    assert metrics.records_loaded > 0

    got = {
        r["o_orderpriority"]: (r["n"], r["n_pos"], r["auc"])
        for r in spark.read.parquet(out).collect()
    }
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    scored = orders.select(
        "o_orderpriority",
        (F.floor("o_totalprice").cast("long") % 97).alias("score"),
        (F.col("o_orderstatus") == "F").cast("int").alias("label"),
    )
    want = {
        r["o_orderpriority"]: (r["n"], r["n_pos"], r["auc"])
        for r in auc(scored, "score", "label",
                     ["o_orderpriority"]).collect()
    }
    assert got == want
    assert all(v[2] is None or 0.0 <= v[2] <= 1.0 for v in got.values())


def test_privacy_audit_pipeline_yaml(spark, sf_dir, tmp_path, monkeypatch):
    """The shipped pipelines/privacy-audit.yaml runs end-to-end:
    QI derivation -> l-diversity summary -> risk-budget gate ->
    parquet; the summary equals a direct operator call, and a
    too-strict budget (risk share above threshold) FAILS the gate."""
    from pyspark.sql import functions as F

    from etl_spark_gradle_spark.operators.pii import l_diversity
    from etl_spark_gradle_spark.plans.config import load_pipeline_yaml
    from etl_spark_gradle_spark.plans.executor import PipelineExecutor

    out = str(tmp_path / "audit")
    monkeypatch.setenv("CUSTOMER_SRC", f"{sf_dir}/customer.parquet")
    monkeypatch.setenv("AUDIT_OUT", out)
    monkeypatch.setenv("RISK_BUDGET", "1.0")  # sf0.001 cells are tiny
    cfg = load_pipeline_yaml("pipelines/privacy-audit.yaml")
    metrics = PipelineExecutor().execute(cfg, spark)
    assert metrics.records_loaded == 1

    got_df = spark.read.parquet(out).drop("_lineage")
    got = got_df.collect()[0]
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal").cast("double") / 1000.0)
        .cast("long")
        .alias("bal_band"),
        (F.floor("c_acctbal").cast("long") % 2).alias("bal_parity"),
    )
    want = l_diversity(
        cust, ["c_mktsegment", "c_nationkey", "bal_band"], "bal_parity",
        l=2, output="summary",
    ).collect()[0]
    assert {c: got[c] for c in want.asDict()} == want.asDict()

    # a zero risk budget must trip the gate on this (leaky) testdata
    monkeypatch.setenv("RISK_BUDGET", "0.0")
    monkeypatch.setenv("AUDIT_OUT", str(tmp_path / "audit2"))
    strict = load_pipeline_yaml("pipelines/privacy-audit.yaml")
    failed = PipelineExecutor().execute(strict, spark)
    assert failed.status == "FAILED"
    assert "risk_budget" in failed.error_details
