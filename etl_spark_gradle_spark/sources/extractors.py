"""Extractors: file/S3, JDBC (Postgres/MySQL), Kafka batch.

Parity anchors:
- S3/file scan:   extractor/S3Extractor.scala:30-78
- Postgres JDBC:  extractor/PostgresExtractor.scala:30-81
- MySQL JDBC:     extractor/MySQLExtractor.scala:30-81
- Kafka batch:    extractor/KafkaExtractor.scala:27-72

All extractors return a *lazy* DataFrame: the scan, its pushed filters,
and its pruned columns are decided by Catalyst when the pipeline's single
write action runs. Unlike the reference, no extractor triggers a job
(the reference's `_lineage` stamping fires `first()` per step — SURVEY
§1.4; here lineage is computed driver-side in the executor).

JDBC and Kafka require external services/connector jars; their
validation is real but integration tests exercise them only through the
file-backed fakes, exactly as the reference does (FR-029,
``specs/001-build-an-application/spec.md:160``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_spark_gradle_spark.plans.config import (
    ConfigError,
    SourceConfig,
    ValidationResult,
)

_FILE_FORMATS = {"parquet", "avro", "json", "csv", "orc", "text", "xml"}
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def reads_nanos_as_long(options: dict[str, str]) -> bool:
    """True when a parquet file source opts into ``nanosAsLong``."""
    return options.get("format", "parquet").lower() == "parquet" and str(
        options.get("nanosAsLong", "")
    ).lower() in ("true", "1")


def _is_missing_datasource(e: Exception, name: str) -> bool:
    """True when the JVM error is the classpath gap for datasource
    ``name`` (pyspark bundles neither spark-avro nor spark-sql-kafka) —
    the case worth rewrapping into a guided ConfigError. Connection or
    query errors pass through untouched."""
    s = str(e).lower()
    return name in s and ("find" in s or "data_source_not_found" in s)


def extract_file(
    spark: SparkSession,
    options: dict[str, str],
    paths_override: list[str] | None = None,
) -> DataFrame:
    """Read ``avro|parquet|json|csv|orc|text|xml`` from a path (parity:
    ``extractor/S3Extractor.scala:45-65``): CSV honors ``header`` /
    ``delimiter`` / ``inferSchema`` (header+infer default true), JSON
    honors ``multiLine``, XML honors ``rowTag`` (default ``row`` —
    Spark 4 ships the reader natively). Extra reader options pass
    straight through so Spark-native knobs (``recursiveFileLookup``,
    ``pathGlobFilter``, ``mergeSchema``) stay available.
    """
    path = options.get("path")
    fmt = options.get("format", "parquet").lower()
    if not path:
        raise ConfigError("file source requires 'path'")
    if fmt not in _FILE_FORMATS:
        raise ConfigError(f"unsupported file format '{fmt}' (supported: {sorted(_FILE_FORMATS)})")
    if reads_nanos_as_long(options):
        # TIMESTAMP(NANOS) parquet (written by arrow/polars pipelines) is
        # rejected by Spark's vectorized reader; this opt-in surfaces the
        # nanos as LONG — convert downstream with e.g.
        # map: "ts:timestamp_micros(CAST(ts_nanos DIV 1000 AS BIGINT))".
        # The key is session-wide and also read when the scan runs;
        # PipelineExecutor sets it for the run and restores it after
        spark.conf.set(NANOS_AS_LONG, "true")
    reader = spark.read.format(fmt)
    if options.get("schema"):
        # Explicit DDL schema ("id INT, name STRING"): at scale this is
        # the difference between one metadata-only open and an
        # inferSchema SAMPLING PASS over the data; it is also the
        # prerequisite for PERMISSIVE corrupt-record capture (the
        # corrupt column must be declared). A bad DDL fails fast here
        # with a guided error instead of a deep Catalyst parse trace.
        try:
            reader = reader.schema(options["schema"])
        except Exception as e:  # noqa: BLE001 — rewrap the DDL parse error
            raise ConfigError(
                f"invalid 'schema' DDL for file source: {options['schema']!r}: {e}"
            ) from e
    if fmt == "csv":
        reader = reader.option("header", options.get("header", "true"))
        reader = reader.option("sep", options.get("delimiter", ","))
        if not options.get("schema"):
            reader = reader.option(
                "inferSchema", options.get("inferSchema", "true")
            )
    if fmt == "json" and "multiLine" in options:
        reader = reader.option("multiLine", options["multiLine"])
    if fmt == "xml":
        reader = reader.option("rowTag", options.get("rowTag", "row"))
    passthrough = {
        k: v for k, v in options.items()
        if k not in {"path", "format", "header", "delimiter", "inferSchema",
                     "multiLine", "nanosAsLong", "schema", "rowTag"}
    }
    if passthrough:
        reader = reader.options(**passthrough)
    try:
        return reader.load(paths_override if paths_override is not None else path)
    except Exception as e:  # noqa: BLE001 — rewrap only the avro-package gap
        if fmt == "avro" and "avro" in str(e).lower() and "find" in str(e).lower():
            raise ConfigError(
                "avro support requires the spark-avro package on the session "
                "(spark-submit --packages org.apache.spark:spark-avro_2.13:<spark-version>); "
                "it is not bundled with pyspark"
            ) from e
        raise


def extract_jdbc(
    spark: SparkSession, options: dict[str, str], driver: str | None = None
) -> DataFrame:
    """JDBC table/query scan with optional parallel partitioned read
    (parity: ``extractor/PostgresExtractor.scala:50-68``).

    With ``partitionColumn`` + ``numPartitions`` (default 4 when a
    partition column is given, as in the reference) the read is split
    into range predicates executed on executors in parallel — the only
    way a multi-TB JDBC extract is viable. ``fetchsize`` tunes the
    row-batch per round trip.
    """
    url = options.get("url")
    table = options.get("table") or options.get("dbtable") or options.get("query")
    if not url or not table:
        raise ConfigError("jdbc source requires 'url' and 'table' (or 'query')")
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", options.get("user", ""))
        .option("password", options.get("password", ""))
    )
    if driver:
        reader = reader.option("driver", driver)
    if options.get("driver"):
        reader = reader.option("driver", options["driver"])
    if options.get("partitionColumn"):
        reader = (
            reader.option("partitionColumn", options["partitionColumn"])
            .option("numPartitions", options.get("numPartitions", "4"))
            .option("lowerBound", options.get("lowerBound", "0"))
            .option("upperBound", options.get("upperBound", "1000000"))
        )
    elif options.get("numPartitions"):
        reader = reader.option("numPartitions", options["numPartitions"])
    reader = reader.option("fetchsize", options.get("fetchsize", "1000"))
    return reader.load()


def extract_kafka(spark: SparkSession, options: dict[str, str]) -> DataFrame:
    """Kafka *batch* read of a topic (parity:
    ``extractor/KafkaExtractor.scala:43-59``): earliest→latest offsets by
    default, key/value cast binary→string, broker metadata columns kept.
    For genuine streaming use ``streaming.read_kafka_stream``.
    """
    servers = options.get("bootstrap.servers") or options.get("kafka.bootstrap.servers")
    topic = options.get("topic") or options.get("subscribe")
    if not servers or not topic:
        raise ConfigError("kafka source requires 'bootstrap.servers' and 'topic'")
    try:
        df = (
            spark.read.format("kafka")
            .option("kafka.bootstrap.servers", servers)
            .option("subscribe", topic)
            .option("startingOffsets", options.get("startingOffsets", "earliest"))
            .option("endingOffsets", options.get("endingOffsets", "latest"))
            .load()
        )
    except Exception as e:  # noqa: BLE001 — rewrap only the kafka-package gap
        if _is_missing_datasource(e, "kafka"):
            raise ConfigError(
                "kafka support requires the spark-sql-kafka package on the "
                "session (spark-submit --packages "
                "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>); "
                "it is not bundled with pyspark"
            ) from e
        raise
    return df.selectExpr(
        "CAST(key AS STRING) AS key",
        "CAST(value AS STRING) AS value",
        "topic",
        "partition",
        "offset",
        "timestamp",
    )


class _BaseExtractor:
    """Contract (parity: ``core/DataExtractor.scala:27``)."""

    def validate(self, config: SourceConfig) -> ValidationResult:
        raise NotImplementedError

    def extract(self, config: SourceConfig, spark: SparkSession) -> DataFrame:
        self.validate(config).raise_if_invalid(f"{type(self).__name__} config")
        return self._read(config, spark)

    def _read(self, config: SourceConfig, spark: SparkSession) -> DataFrame:
        raise NotImplementedError

    def source_identifier(self, config: SourceConfig) -> str:
        """For lineage metadata (parity: ``extractor/S3Extractor.scala:107-122``)."""
        return config.options.get("path") or config.options.get("table") or config.options.get(
            "topic", "unknown"
        )


class FileExtractor(_BaseExtractor):
    """Parity: ``extractor/S3Extractor.scala:30-78``."""

    def validate(self, config: SourceConfig) -> ValidationResult:
        errors = []
        if not config.options.get("path"):
            errors.append("file source requires 'path'")
        fmt = config.options.get("format", "parquet").lower()
        if fmt not in _FILE_FORMATS:
            errors.append(f"unsupported format: {fmt}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _read(self, config, spark):
        return extract_file(spark, config.options)


class JdbcExtractor(_BaseExtractor):
    """Parity: ``extractor/PostgresExtractor.scala:30-105`` /
    ``extractor/MySQLExtractor.scala:30-81`` (identical modulo driver)."""

    def __init__(self, driver: str | None):
        self.driver = driver

    def validate(self, config: SourceConfig) -> ValidationResult:
        errors = []
        url = config.options.get("url", "")
        if not url:
            errors.append("jdbc source requires 'url'")
        elif not url.startswith("jdbc:"):
            # URL-prefix pre-flight parity: extractor/PostgresExtractor.scala:83-105
            errors.append(f"jdbc url must start with 'jdbc:': {url}")
        if not (config.options.get("table") or config.options.get("query")):
            errors.append("jdbc source requires 'table' or 'query'")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _read(self, config, spark):
        return extract_jdbc(spark, config.options, self.driver)


class KafkaExtractor(_BaseExtractor):
    """Parity: ``extractor/KafkaExtractor.scala:27-98``."""

    def validate(self, config: SourceConfig) -> ValidationResult:
        errors = []
        if not (
            config.options.get("bootstrap.servers")
            or config.options.get("kafka.bootstrap.servers")
        ):
            errors.append("kafka source requires 'bootstrap.servers'")
        if not (config.options.get("topic") or config.options.get("subscribe")):
            errors.append("kafka source requires 'topic'")
        offsets = config.options.get("startingOffsets", "earliest")
        if offsets not in ("earliest", "latest") and not offsets.startswith("{"):
            errors.append(f"invalid startingOffsets: {offsets}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _read(self, config, spark):
        return extract_kafka(spark, config.options)
