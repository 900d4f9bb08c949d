"""Pipeline config data model + YAML frontend.

Implements the de-facto config semantics of the reference (SURVEY.md §1.5):
the reference ships three divergent config models; we follow the shape its
parser + tests actually consume (``config/YAMLConfigParser.scala:78-146``,
``src/test/scala/com/etl/integration/QuickstartScenario1Spec.scala:117-160``)
and accept both ``options:`` and ``parameters:`` spellings
(``pipelines/quickstart-1-sales-aggregation.yaml:5`` uses ``options`` while
``config/YAMLConfigParser.scala:91`` reads ``parameters``).

There is no query language: the IR *is* ``PipelineConfig`` — a declarative
source / ordered-transformations / sink tree. Each DataFrame call it turns
into builds one lazy Catalyst plan; optimization is Catalyst's job.
"""

from __future__ import annotations

import os
import re
import uuid
from dataclasses import dataclass, field
from typing import Any

import yaml


class ConfigError(ValueError):
    """Raised on malformed pipeline configuration
    (parity: ``config/ConfigurationException`` usage in
    ``config/YAMLConfigParser.scala:30-45``)."""


@dataclass(frozen=True)
class ValidationResult:
    """Parity: ``core/ValidationResult.scala:9-12``."""

    is_valid: bool
    errors: tuple[str, ...] = ()

    @staticmethod
    def ok() -> "ValidationResult":
        return ValidationResult(True, ())

    @staticmethod
    def fail(*errors: str) -> "ValidationResult":
        return ValidationResult(False, tuple(errors))

    def raise_if_invalid(self, context: str) -> None:
        if not self.is_valid:
            raise ConfigError(f"{context}: " + "; ".join(self.errors))


@dataclass(frozen=True)
class AggregateExpr:
    """One aggregation spec (parity: ``core/AggregateExpr.scala:10-14``)."""

    column: str
    function: str
    alias: str


@dataclass(frozen=True)
class SourceConfig:
    """Parity: SURVEY §1.5 ``SourceConfig``."""

    type: str  # kafka | postgres | mysql | s3 | file (alias of s3)
    options: dict[str, str] = field(default_factory=dict)
    credentials_path: str | None = None
    schema_path: str | None = None


@dataclass(frozen=True)
class TransformationConfig:
    """Parity: ``config/YAMLConfigParser.scala:105-124`` merged with the
    test-suite shape (name + options)."""

    type: str
    name: str | None = None
    options: dict[str, str] = field(default_factory=dict)
    aggregations: tuple[AggregateExpr, ...] = ()


@dataclass(frozen=True)
class SinkConfig:
    """Parity: SURVEY §1.5 ``SinkConfig``; write-mode matrix per
    ``loader/S3Loader.scala:53-60`` / ``loader/PostgresLoader.scala:54-90``."""

    type: str
    options: dict[str, str] = field(default_factory=dict)
    credentials_path: str | None = None
    write_mode: str = "append"  # append | overwrite | upsert
    partition_by: tuple[str, ...] = ()


@dataclass(frozen=True)
class PerformanceConfig:
    """Parity: ``config/YAMLConfigParser.scala:126-131`` + test shape
    (``benchmark/BatchPerformanceSpec.scala:117-121``). The reference's
    ``cacheIntermediate`` is config-only dead code; here it is honored."""

    repartition: int | None = None
    shuffle_partitions: int | None = None
    cache_intermediate: bool = False
    batch_size: int | None = None
    # skip the extracted-record Observation: its CollectMetrics node
    # must see pre-filter rows, which blocks predicate pushdown into
    # the scan — for highly selective pipelines over huge inputs, give
    # up the records_extracted counter (reported as -1) to let filters
    # reach the parquet reader
    skip_extract_count: bool = False


@dataclass(frozen=True)
class QualityConfig:
    """Parity: ``config/YAMLConfigParser.scala:133-146``. Unlike the
    reference (``pipeline/PipelineExecutor.scala:113`` hardcodes the
    quarantine path), ``quarantine_path`` is honored."""

    schema_validation: bool = False
    null_checks: tuple[str, ...] = ()
    duplicate_check: bool = False
    quarantine_path: str | None = None
    # SQL boolean expressions a row must ALL satisfy; violators are
    # quarantined alongside null-check failures. The reference parses
    # ``customRules`` but hardwires it to None
    # (``config/YAMLConfigParser.scala:144``) — here the knob works.
    custom_rules: tuple[str, ...] = ()

    @property
    def enabled(self) -> bool:
        return bool(
            self.schema_validation
            or self.null_checks
            or self.duplicate_check
            or self.custom_rules
        )


@dataclass(frozen=True)
class PipelineConfig:
    """The whole plan (parity: ``config/YAMLConfigParser.scala:78-85``)."""

    pipeline_id: str
    source: SourceConfig
    transformations: tuple[TransformationConfig, ...]
    sink: SinkConfig
    performance: PerformanceConfig = PerformanceConfig()
    quality: QualityConfig = QualityConfig()
    # named secondary sources, registered as temp views before the
    # transformation chain runs (multi-source joins in one YAML — the
    # reference's quickstart-3 documents but cannot express this)
    views: tuple[tuple[str, SourceConfig], ...] = ()
    # extension: run the same pipeline shape as Structured Streaming
    # (readStream -> stateless/windowed transforms -> writeStream)
    streaming: bool = False

    def __post_init__(self) -> None:
        # a drain has no quality gate, and Spark cannot cache a stream
        for key, used in (("quality", self.quality.enabled),
                          ("performance.cacheIntermediate", self.performance.cache_intermediate)):
            if self.streaming and used:
                raise ConfigError(f"streaming: true does not support '{key}'")


@dataclass(frozen=True)
class RunContext:
    """Parity: ``Main.scala:92-96``."""

    pipeline_id: str
    run_id: str
    spark: Any  # SparkSession; typed loosely to keep config importable w/o Spark

    @staticmethod
    def create(pipeline_id: str, spark: Any) -> "RunContext":
        return RunContext(pipeline_id, str(uuid.uuid4()), spark)


@dataclass
class ExecutionMetrics:
    """Parity: ``core/ExecutionMetrics.scala:17-28``; extended with the
    quality outcome (``quality_report``) so duplicateCheck / null-check
    results are observable by callers, not just logged."""

    pipeline_id: str
    run_id: str
    start_timestamp: float = 0.0
    end_timestamp: float = 0.0
    records_extracted: int = 0
    records_transformed: int = 0
    records_loaded: int = 0
    records_failed: int = 0
    status: str = "PENDING"  # PENDING | RUNNING | SUCCESS | FAILED
    error_details: str | None = None
    quality_report: Any | None = None  # quality.QualityReport when quality ran

    @property
    def duration_seconds(self) -> float:
        return max(0.0, self.end_timestamp - self.start_timestamp)


@dataclass(frozen=True)
class LoadResult:
    """Parity: ``core/LoadResult.scala:11-16`` /
    ``loader/S3Loader.scala:104-108``."""

    records_written: int
    records_failed: int = 0
    success: bool = True
    error_message: str | None = None
    sink_type: str | None = None
    write_mode: str | None = None


@dataclass(frozen=True)
class LineageMetadata:
    """Parity: ``extractor/KafkaExtractor.scala:104-109``."""

    source_type: str
    source_identifier: str
    extraction_timestamp: str
    transformation_chain: tuple[str, ...] = ()


# ---------------------------------------------------------------------------
# YAML frontend
# ---------------------------------------------------------------------------

_SECRET_PATTERN = re.compile(r"\$\{(ENV|VAULT):([A-Za-z0-9_./-]+)\}")


def _resolve_secrets(value: str) -> str:
    """Resolve ``${ENV:NAME}`` / ``${VAULT:mount/path/key}`` placeholders.

    The reference resolves credentials through a Vault client
    (``Main.scala:72``, ``vault/VaultClient.scala`` — whose HTTP branch
    is a TODO). Here ``${VAULT:..}`` goes through the real KV v2 REST
    adapter (:mod:`etl_spark_gradle_spark.vault`) whenever ``VAULT_ADDR``
    is set; without a Vault address both spellings fall back to the
    process environment (path separators become ``_``) so offline/CI
    runs still resolve, and no secret ever lands in the YAML file.
    """

    def sub(m: re.Match[str]) -> str:
        kind, ref = m.group(1), m.group(2)
        if kind == "VAULT":
            from etl_spark_gradle_spark.vault import resolve_vault_placeholder

            resolved = resolve_vault_placeholder(ref)
            if resolved is not None:
                return resolved
        key = ref.replace("/", "_").replace(".", "_")
        resolved = os.environ.get(key)
        if resolved is None:
            raise ConfigError(f"unresolvable secret placeholder: {m.group(0)}")
        return resolved

    return _SECRET_PATTERN.sub(sub, value)


def _str_options(raw: Any, where: str) -> dict[str, str]:
    if raw is None:
        return {}
    if not isinstance(raw, dict):
        raise ConfigError(f"{where}: options must be a mapping, got {type(raw).__name__}")
    return {str(k): _resolve_secrets(str(v)) for k, v in raw.items()}


def _options_of(node: dict[str, Any], where: str) -> dict[str, str]:
    """Accept both ``options:`` and ``parameters:`` (SURVEY §0 caveat)."""
    merged: dict[str, str] = {}
    merged.update(_str_options(node.get("parameters"), where))
    merged.update(_str_options(node.get("options"), where))
    return merged


_INLINE_AGG = re.compile(r"^\s*([A-Za-z_]\w*)\s*:\s*([A-Za-z_]\w*)\s*\((.*)\)\s*$")


def _split_top_level_commas(spec: str) -> list[str]:
    """Split on commas not nested inside parentheses or quotes."""
    parts, buf, depth, quote = [], [], 0, None
    for ch in spec:
        if quote:
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
            continue
        buf.append(ch)
    if buf:
        parts.append("".join(buf))
    return parts


def _parse_inline_aggregations(spec: str, where: str) -> tuple[AggregateExpr, ...]:
    """The reference's quickstart-YAML inline form
    (``pipelines/quickstart-1-sales-aggregation.yaml:19``):
    ``alias:fn(expr),alias2:fn2(expr2)`` — expr may be ``*`` or any SQL
    expression (nested commas respected)."""
    out = []
    for part in _split_top_level_commas(spec):
        if not part.strip():
            continue
        m = _INLINE_AGG.match(part)
        if not m:
            raise ConfigError(
                f"{where}: bad inline aggregation '{part.strip()}' "
                "(expected alias:function(expression))"
            )
        alias, fn, inner = m.group(1), m.group(2), m.group(3).strip()
        out.append(AggregateExpr(inner or "*", fn, alias))
    return tuple(out)


def _parse_aggregations(raw: Any, where: str) -> tuple[AggregateExpr, ...]:
    if raw is None:
        return ()
    if isinstance(raw, str):
        return _parse_inline_aggregations(raw, where)
    if not isinstance(raw, list):
        raise ConfigError(f"{where}: aggregations must be a list")
    out = []
    for i, item in enumerate(raw):
        if not isinstance(item, dict):
            raise ConfigError(f"{where}: aggregations[{i}] must be a mapping")
        try:
            column = str(item["column"])
            function = str(item["function"])
        except KeyError as e:
            raise ConfigError(f"{where}: aggregations[{i}] missing {e}") from None
        alias = str(item.get("alias") or f"{function}_{column}".replace("*", "all"))
        out.append(AggregateExpr(column, function, alias))
    return tuple(out)


def parse_pipeline_dict(doc: dict[str, Any]) -> PipelineConfig:
    """Parse an already-loaded YAML mapping into a ``PipelineConfig``.

    Mirrors ``config/YAMLConfigParser.scala:47-146`` with the §0
    de-facto merged schema.
    """
    if not isinstance(doc, dict):
        raise ConfigError("pipeline YAML must be a mapping at top level")

    pipeline_id = doc.get("pipelineId") or doc.get("pipeline_id") or doc.get("name")
    if not pipeline_id:
        raise ConfigError("pipelineId is required")

    def _source_of(node: Any, where: str) -> SourceConfig:
        if not isinstance(node, dict) or "type" not in node:
            raise ConfigError(f"{where} with a type is required")
        return SourceConfig(
            type=str(node["type"]).lower(),
            options=_options_of(node, where),
            credentials_path=node.get("credentialsPath"),
            schema_path=node.get("schemaPath"),
        )

    source = _source_of(doc.get("source"), "source")

    # views: named secondary sources registered as temp views before the
    # transformations run — makes multi-source joins a one-YAML pipeline.
    # The reference's own quickstart-3 YAML punts here ("Assumes this
    # view exists from separate Kafka extraction",
    # pipelines/quickstart-3-multi-source-join.yaml:23-26).
    views_node = doc.get("views") or {}
    if not isinstance(views_node, dict):
        raise ConfigError("views must be a mapping of viewName -> source")
    views = tuple(
        (str(name), _source_of(node, f"views.{name}")) for name, node in views_node.items()
    )

    transformations = []
    for i, t_node in enumerate(doc.get("transformations") or []):
        if not isinstance(t_node, dict) or "type" not in t_node:
            raise ConfigError(f"transformations[{i}]: type is required")
        where = f"transformations[{i}]"
        opts = _options_of(t_node, where)
        # the reference's quickstart YAMLs nest the inline-string form
        # under options: (pipelines/quickstart-1-sales-aggregation.yaml:17-19)
        aggs_node = t_node.get("aggregations")
        if aggs_node is None:
            aggs_node = opts.get("aggregations")
        transformations.append(
            TransformationConfig(
                type=str(t_node["type"]).lower(),
                name=t_node.get("name"),
                options=opts,
                aggregations=_parse_aggregations(aggs_node, where),
            )
        )

    sink_node = doc.get("sink")
    if not isinstance(sink_node, dict) or "type" not in sink_node:
        raise ConfigError("sink with a type is required")
    partition_by_raw = sink_node.get("partitionBy") or sink_node.get("partition_by") or ()
    if isinstance(partition_by_raw, str):
        partition_by = tuple(c.strip() for c in partition_by_raw.split(",") if c.strip())
    else:
        partition_by = tuple(str(c) for c in partition_by_raw)
    write_mode = str(sink_node.get("writeMode") or sink_node.get("write_mode") or "append").lower()
    if write_mode not in ("append", "overwrite", "upsert"):
        raise ConfigError(f"sink.writeMode must be append|overwrite|upsert, got {write_mode}")
    sink = SinkConfig(
        type=str(sink_node["type"]).lower(),
        options=_options_of(sink_node, "sink"),
        credentials_path=sink_node.get("credentialsPath"),
        write_mode=write_mode,
        partition_by=partition_by,
    )

    perf_node = doc.get("performance") or {}
    performance = PerformanceConfig(
        repartition=int(perf_node["repartition"]) if perf_node.get("repartition") else None,
        shuffle_partitions=(
            int(perf_node["shufflePartitions"]) if perf_node.get("shufflePartitions") else None
        ),
        cache_intermediate=bool(perf_node.get("cacheIntermediate", False)),
        batch_size=int(perf_node["batchSize"]) if perf_node.get("batchSize") else None,
        skip_extract_count=bool(perf_node.get("skipExtractCount", False)),
    )

    q_node = doc.get("quality") or {}
    null_checks_raw = q_node.get("nullChecks") or ()
    if isinstance(null_checks_raw, str):
        null_checks = tuple(c.strip() for c in null_checks_raw.split(",") if c.strip())
    else:
        null_checks = tuple(str(c) for c in null_checks_raw)
    custom_rules_raw = q_node.get("customRules") or ()
    if isinstance(custom_rules_raw, str):
        custom_rules = (custom_rules_raw.strip(),) if custom_rules_raw.strip() else ()
    else:
        custom_rules = tuple(str(r) for r in custom_rules_raw)
    quality = QualityConfig(
        schema_validation=bool(q_node.get("schemaValidation", False)),
        null_checks=null_checks,
        duplicate_check=bool(q_node.get("duplicateCheck", False)),
        quarantine_path=q_node.get("quarantinePath"),
        custom_rules=custom_rules,
    )

    return PipelineConfig(
        pipeline_id=str(pipeline_id),
        source=source,
        transformations=tuple(transformations),
        sink=sink,
        performance=performance,
        quality=quality,
        views=views,
        streaming=bool(doc.get("streaming", False)),
    )


def load_pipeline_yaml(path: str) -> PipelineConfig:
    """Load + parse a pipeline YAML file
    (parity: ``config/YAMLConfigParser.scala:23-45``)."""
    with open(path, encoding="utf-8") as f:
        doc = yaml.safe_load(f)
    return parse_pipeline_dict(doc)


def resolve_credentials_file(path: str) -> dict[str, str]:
    """Read a credentials file (YAML or JSON mapping of option keys, e.g.
    ``{user: ..., password: ...}``) — the file-based stand-in for the
    reference's Vault client (``vault/VaultClient.scala``; wired at
    ``Main.scala:72``). ``${ENV:..}`` / ``${VAULT:..}`` placeholders
    inside values resolve from the environment like YAML options do."""
    with open(path, encoding="utf-8") as f:
        doc = yaml.safe_load(f)
    if not isinstance(doc, dict):
        raise ConfigError(f"credentials file must be a mapping: {path}")
    return {str(k): _resolve_secrets(str(v)) for k, v in doc.items()}


def with_resolved_credentials(cfg):
    """Return a SourceConfig/SinkConfig with ``credentialsPath`` contents
    merged into ``options`` (explicit options win). No-op without a
    credentials path — closes the parsed-but-never-consumed gap flagged
    in round 1."""
    import dataclasses

    if not getattr(cfg, "credentials_path", None):
        return cfg
    merged = resolve_credentials_file(cfg.credentials_path)
    merged.update(cfg.options)
    return dataclasses.replace(cfg, options=merged)
