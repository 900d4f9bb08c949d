"""Data-quality engine: null-check split, null/duplicate metrics,
schema validation, quarantine (SURVEY.md §2.4).

Parity anchors:
- null split:     quality/DataQualityChecker.scala:139-153
- null metrics:   quality/DataQualityChecker.scala:61-114
- dup detection:  quality/DataQualityChecker.scala:87-96
- schema check:   quality/SchemaValidator.scala:34-97
- quarantine:     quality/QuarantineWriter.scala:26-96

Scale notes vs the reference: null metrics there run one
``filter(isNull).count()`` job per column; here it is a single-pass
aggregate (one job regardless of column count). Duplicate detection via
``distinct().count()`` is a full shuffle of every column; here it is one
counter, ``operators.dedup.duplicate_stats``, over a 64-bit row hash
(``plans.executor.row_hash_duplicate_stats``), so the shuffle carries
8-byte keys. ``side_actions`` runs the duplicate check and the
quarantine write alongside the caller's sink write instead of before it.
"""

from __future__ import annotations

import json
import uuid
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

from etl_spark_gradle_spark.operators.base import TransformationError, _BaseTransformer
from etl_spark_gradle_spark.plans.config import QualityConfig, ValidationResult


def null_check_condition(columns: list[str]):
    """Conjunction of ``col IS NOT NULL`` (parity:
    ``quality/DataQualityChecker.scala:139-146``)."""
    cond = F.lit(True)
    for c in columns:
        cond = cond & F.col(c).isNotNull()
    return cond


def split_valid_invalid(
    df: DataFrame,
    null_checks: list[str],
    custom_rules: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Return (valid, invalid) by the conjunction of null checks AND
    custom SQL boolean rules (parity:
    ``quality/DataQualityChecker.scala:139-153``; custom rules are this
    engine's working version of the reference's dead ``customRules``
    knob). Both frames are lazy filters over the same plan — one
    combined predicate, one scan per action, rules pushed down with the
    rest of the plan. A rule evaluating to NULL (e.g. over a NULL
    column) counts as a violation, like SQL WHERE."""
    rules = list(custom_rules or [])
    if not null_checks and not rules:
        return df, df.limit(0)
    cond = null_check_condition(null_checks)
    for rule in rules:
        cond = cond & F.coalesce(F.expr(rule), F.lit(False))
    return df.filter(cond), df.filter(~cond)


def null_metrics(df: DataFrame, columns: list[str]) -> dict[str, int]:
    """Per-column null counts in ONE aggregate job (the reference runs a
    job per column, ``quality/DataQualityChecker.scala:61-82``)."""
    if not columns:
        return {}
    aggs = [
        F.sum(F.col(c).isNull().cast("long")).alias(c) for c in columns
    ] + [F.count(F.lit(1)).alias("__total")]
    row = df.agg(*aggs).collect()[0]
    out = {c: int(row[c] or 0) for c in columns}
    out["__total"] = int(row["__total"])
    return out


def null_metrics_df(df: DataFrame, columns: list[str]) -> DataFrame:
    """Single-row DataFrame with per-column null counts + total, same
    one-job single-pass aggregate as :func:`null_metrics` but lazy (for
    oracle-checked pipelines and composition into larger plans)."""
    aggs = [
        F.sum(F.col(c).isNull().cast("long")).cast("long").alias(f"nulls_{c}")
        for c in columns
    ] + [F.count(F.lit(1)).cast("long").alias("total_rows")]
    return df.agg(*aggs)


_NUMERIC_EXACT = frozenset(
    {"tinyint", "smallint", "int", "bigint", "float", "double"}
)


def _is_numeric_dtype(t: str) -> bool:
    """Exact-name numeric check. A prefix match on "int" would also
    catch interval dtypes ("interval day to second", …) and drive an
    invalid interval→double cast; only decimal keeps a prefix test
    because its rendering carries precision/scale ("decimal(18,2)")."""
    return t in _NUMERIC_EXACT or t.startswith("decimal(") or t == "decimal"


def profile_columns(
    df: DataFrame,
    columns: list[str] | None = None,
    distinct: str = "exact",
) -> DataFrame:
    """One-pass column profiler: per column, row/null/distinct counts
    plus typed extrema — the ``DESCRIBE``-style table-health summary a
    warehouse runs before trusting a feed (beyond-reference; the
    reference's quality checks stop at nulls/dups).

    Output rows (one per profiled column, stable schema):
    ``column, n_rows, n_nulls, n_distinct, min_num, max_num`` (numeric
    columns as double — decimals routed through a string cast, the
    engine-portable conversion; timestamps as epoch MICROseconds,
    integer-exact in a double up to year 2255; NULL for strings) and
    ``min_len, max_len, avg_len`` (string columns only; ``avg_len`` is
    one double division, same operand order on every engine).

    Everything is ONE aggregation job — columns add expressions, not
    passes. Caveat the plan makes visible: ``distinct="exact"`` uses
    multiple ``count(DISTINCT)``s, which Catalyst plans via Expand
    (input replicated once per distinct aggregate). Exact is the
    oracle-checkable default; at 100 TB pass ``distinct="approx"``
    (HLL ``approx_count_distinct``, single non-expanded pass, ±2.3%).
    """
    if distinct not in ("exact", "approx"):
        raise ValueError(f"distinct must be exact|approx, got '{distinct}'")
    cols = list(columns) if columns else list(df.columns)
    dtypes = dict(df.dtypes)
    for c in cols:
        if c not in dtypes:
            raise ValueError(f"profile column not in input schema: {c}")
    distinct_fn = F.countDistinct if distinct == "exact" else F.approx_count_distinct

    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for c in cols:
        t = dtypes[c]
        aggs.append(F.sum(F.col(c).isNull().cast("long")).cast("long").alias(f"__nulls_{c}"))
        aggs.append(distinct_fn(F.col(c)).cast("long").alias(f"__dist_{c}"))
        if t.startswith("decimal"):
            # decimal -> double via string round-trip: exact decimal
            # rendering + correctly-rounded parse on every engine
            # (DuckDB's direct cast measured one ulp off — stats.py)
            num = F.col(c).cast("string").cast("double")
        elif t == "timestamp" or t == "timestamp_ntz":
            num = F.unix_micros(F.col(c).cast("timestamp")).cast("double")
        elif _is_numeric_dtype(t):
            num = F.col(c).cast("double")
        else:
            num = None
        if num is not None:
            aggs.append(F.min(num).alias(f"__min_{c}"))
            aggs.append(F.max(num).alias(f"__max_{c}"))
        if t == "string":
            aggs.append(F.min(F.length(F.col(c))).cast("long").alias(f"__minlen_{c}"))
            aggs.append(F.max(F.length(F.col(c))).cast("long").alias(f"__maxlen_{c}"))
            aggs.append(F.sum(F.length(F.col(c))).cast("long").alias(f"__sumlen_{c}"))

    row = df.agg(*aggs)
    null_d = F.lit(None).cast("double")
    null_l = F.lit(None).cast("long")
    structs = []
    for c in cols:
        t = dtypes[c]
        has_num = (
            _is_numeric_dtype(t) or t in ("timestamp", "timestamp_ntz")
        )
        nonnull = F.col("__n") - F.col(f"__nulls_{c}")
        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.lit(t).alias("dtype"),
                F.col("__n").alias("n_rows"),
                F.col(f"__nulls_{c}").alias("n_nulls"),
                F.col(f"__dist_{c}").alias("n_distinct"),
                (F.col(f"__min_{c}") if has_num else null_d).alias("min_num"),
                (F.col(f"__max_{c}") if has_num else null_d).alias("max_num"),
                (F.col(f"__minlen_{c}") if t == "string" else null_l).alias("min_len"),
                (F.col(f"__maxlen_{c}") if t == "string" else null_l).alias("max_len"),
                (
                    F.col(f"__sumlen_{c}").cast("double") / nonnull.cast("double")
                    if t == "string"
                    else null_d
                ).alias("avg_len"),
            )
        )
    return row.select(F.inline(F.array(*structs)))


class ProfileTransformer(_BaseTransformer):
    """Registry adapter (``type: profile``). Options: ``columns`` (csv,
    default all), ``distinct`` exact|approx (default exact)."""

    def validate(self, df, config):
        from etl_spark_gradle_spark.operators.relational import _split_csv

        errors = []
        opts = config.options
        if opts.get("distinct", "exact") not in ("exact", "approx"):
            errors.append("profile distinct must be exact|approx")
        for c in _split_csv(opts.get("columns")):
            if c not in df.columns:
                errors.append(f"profile column not in input schema: {c}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        from etl_spark_gradle_spark.operators.relational import _split_csv

        opts = config.options
        return profile_columns(
            df,
            columns=_split_csv(opts.get("columns")) or None,
            distinct=opts.get("distinct", "exact"),
        )


def _types_compatible(actual: DataType, expected: DataType) -> bool:
    """Recursive type match for struct/array/map (parity:
    ``quality/SchemaValidator.scala:78-97``)."""
    if isinstance(expected, StructType) and isinstance(actual, StructType):
        expected_fields = {f.name: f for f in expected.fields}
        for f in actual.fields:
            if f.name not in expected_fields:
                return False
            if not _types_compatible(f.dataType, expected_fields[f.name].dataType):
                return False
        return len(actual.fields) == len(expected.fields)
    if isinstance(expected, ArrayType) and isinstance(actual, ArrayType):
        return _types_compatible(actual.elementType, expected.elementType)
    if isinstance(expected, MapType) and isinstance(actual, MapType):
        return _types_compatible(actual.keyType, expected.keyType) and _types_compatible(
            actual.valueType, expected.valueType
        )
    return actual.simpleString() == expected.simpleString()


def validate_schema(actual: StructType, expected: StructType) -> ValidationResult:
    """Compare actual vs expected StructType: missing columns, extra
    columns, type mismatches, nullability violations (parity:
    ``quality/SchemaValidator.scala:34-71``). Pure metadata — no job."""
    errors = []
    actual_by_name = {f.name: f for f in actual.fields}
    expected_by_name = {f.name: f for f in expected.fields}
    for name in expected_by_name:
        if name not in actual_by_name:
            errors.append(f"missing column: {name}")
    for name in actual_by_name:
        if name not in expected_by_name:
            errors.append(f"unexpected column: {name}")
    for name, exp in expected_by_name.items():
        act = actual_by_name.get(name)
        if act is None:
            continue
        if not _types_compatible(act.dataType, exp.dataType):
            errors.append(
                f"type mismatch for {name}: expected {exp.dataType.simpleString()}, "
                f"got {act.dataType.simpleString()}"
            )
        if act.nullable and not exp.nullable:
            errors.append(f"nullability violation for {name}: expected non-nullable")
    return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)


def schema_align(
    df: DataFrame,
    target: StructType,
    mode: str = "safe",
) -> DataFrame:
    """Conform a batch to a target schema before appending into an
    existing dataset — the schema-drift gate every long-lived table
    needs (a drifted append silently poisons the table for every later
    reader; parquet won't even merge incompatible types).

    Output has EXACTLY the target's columns, in target order:
    - missing nullable columns are added as typed NULLs,
    - matching columns are cast to the target type,
    - extra columns are dropped (``mode="safe"``) or rejected
      (``mode="strict"``, which also rejects missing columns and any
      cast between incompatible families per ``validate_schema``'s
      compatibility rules).

    Pure projection — zero shuffle, prunes like any select. Casts are
    Spark semantics (out-of-range/unparseable → NULL under the engine's
    non-ANSI default): align BEFORE quality gates so those NULLs hit
    the null checks.
    """
    if mode not in ("safe", "strict"):
        raise ValueError("schema_align mode must be 'safe' or 'strict'")
    actual = {f.name: f for f in df.schema.fields}
    if mode == "strict":
        result = validate_schema(df.schema, target)
        if not result.is_valid:
            raise ValueError(
                "schema_align strict: batch does not conform: "
                + "; ".join(result.errors)
            )
    cols = []
    for f in target.fields:
        if f.name in actual:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        elif f.nullable:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        else:
            raise ValueError(
                f"schema_align: target column '{f.name}' is non-nullable and "
                "absent from the batch — cannot fill with NULL"
            )
    return df.select(*cols)


def quarantine(
    df: DataFrame, path: str, pipeline_id: str, run_id: str
) -> int:
    """Stamp quarantine metadata and append as Parquet (parity:
    ``quality/QuarantineWriter.scala:26-43``). Returns rows quarantined
    (observed on the write action — no second job)."""
    obs = Observation()
    stamped = (
        df.withColumn("quarantine_timestamp", F.current_timestamp())
        .withColumn("pipeline_id", F.lit(pipeline_id))
        .withColumn("run_id", F.lit(run_id))
        .observe(obs, F.count(F.lit(1)).alias("n"))
    )
    stamped.write.mode("append").parquet(path)
    return int(obs.get["n"])


def read_quarantine(
    spark, path: str, pipeline_id: str | None = None, run_id: str | None = None
) -> DataFrame:
    """Read back quarantined rows with optional filters (parity:
    ``quality/QuarantineWriter.scala:79-96``)."""
    df = spark.read.parquet(path)
    if pipeline_id:
        df = df.filter(F.col("pipeline_id") == pipeline_id)
    if run_id:
        df = df.filter(F.col("run_id") == run_id)
    return df


@dataclass
class QualityReport:
    """Aggregated quality outcome for one run."""

    null_violations: int = 0
    duplicates: int = 0
    schema_errors: tuple[str, ...] = field(default_factory=tuple)
    quarantined: int = 0
    # per-check violation counts keyed "null:<col>" / "rule:<expr>" —
    # observed on the same action as the quarantine write, zero extra jobs
    violations_by_check: dict[str, int] = field(default_factory=dict)


def quality_gate(
    extracted: DataFrame,
    config: QualityConfig,
    pipeline_id: str,
    run_id: str,
    schema_path: str | None = None,
) -> tuple[DataFrame, dict[str, Callable[[], object]]]:
    """The quality gate of a quality-gated run (parity:
    ``pipeline/PipelineExecutor.scala:90-165``): schema validation,
    duplicate check, null-check and custom-rule split, quarantine.

    Returns ``(valid, actions)``: the valid branch, and the side actions
    for ``side_actions`` — the duplicate check (report-only: nothing
    reads it before the load) and the quarantine write. Schema
    validation (against the StructType JSON at ``schema_path``) runs
    here and raises before any job; nothing else runs. With quality off
    it returns ``extracted`` and no actions.
    """
    if config.schema_validation and schema_path:
        with open(schema_path, encoding="utf-8") as f:
            expected = StructType.fromJson(json.load(f))
        result = validate_schema(extracted.schema, expected)
        if not result.is_valid:
            raise ValueError("schema validation failed: " + "; ".join(result.errors))

    # looked up when the action runs, not at import: the benchmark's
    # tracer patches both module attributes
    from etl_spark_gradle_spark.plans import executor

    actions: dict[str, Callable[[], object]] = {}
    if config.duplicate_check:
        actions["duplicates"] = lambda: executor.row_hash_duplicate_stats(extracted)

    valid = extracted
    null_checks, rules = list(config.null_checks), list(config.custom_rules)
    if null_checks or rules:
        # per-check violation counters ride the quarantine write, zero
        # extra jobs; only that plan carries them, so the concurrent sink
        # write cannot resolve the Observation first
        check_obs = Observation(f"quality_{uuid.uuid4().hex[:8]}")
        observed = extracted.observe(
            check_obs,
            *[F.sum(F.col(c).isNull().cast("long")).alias(f"null:{c}") for c in null_checks],
            *[
                F.sum((~F.coalesce(F.expr(r), F.lit(False))).cast("long")).alias(f"rule:{r}")
                for r in rules
            ],
        )
        valid, _ = split_valid_invalid(extracted, null_checks, rules)
        _, invalid = split_valid_invalid(observed, null_checks, rules)
        path = config.quarantine_path or f"/tmp/quarantine/{pipeline_id}"
        actions["quarantined"] = lambda: (
            quarantine(invalid, path, pipeline_id, run_id), check_obs.get
        )
    return valid, actions


@contextmanager
def side_actions(spark, actions: dict[str, Callable[[], object]]) -> Iterator[QualityReport]:
    """Run the block alongside ``quality_gate``'s side actions, submitted
    to a 2-worker pool, each under the job group, job description and
    session tags the calling thread has now.

    On exit, on every path, the actions are joined; the first error in
    the reference's order (duplicate check, then quarantine write)
    replaces one the block raised, and the yielded report is filled.
    """
    report = QualityReport()
    pool = ThreadPoolExecutor(max_workers=2, thread_name_prefix="quality-gate")
    futures = {
        name: pool.submit(inheritable_thread_target(spark)(action))
        for name, action in actions.items()
    }
    try:
        yield report
    finally:
        pool.shutdown(wait=True)
        if "duplicates" in futures:
            report.duplicates = futures["duplicates"].result()["duplicates"]
        if "quarantined" in futures:
            quarantined, checks = futures["quarantined"].result()
            report.quarantined = report.null_violations = quarantined
            report.violations_by_check = {k: int(v or 0) for k, v in checks.items()}


class SchemaAlignTransformer(_BaseTransformer):
    """Registry adapter (``type: schema_align``). Options:
    ``targetSchema`` (DDL string, e.g. ``"id long, name string"``),
    ``mode`` safe|strict."""

    def validate(self, df: DataFrame, config) -> ValidationResult:
        errors = []
        ddl = (config.options.get("targetSchema") or "").strip()
        if not ddl:
            errors.append("schema_align requires 'targetSchema' (DDL string)")
        else:
            try:
                self._parse(ddl)
            except Exception as e:  # noqa: BLE001 — surfaced as config error
                errors.append(f"cannot parse targetSchema: {e}")
        if config.options.get("mode", "safe") not in ("safe", "strict"):
            errors.append("mode must be safe|strict")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    @staticmethod
    def _parse(ddl: str) -> StructType:
        from pyspark.sql.types import _parse_datatype_string

        parsed = _parse_datatype_string(ddl)
        if not isinstance(parsed, StructType):
            raise ValueError(f"targetSchema must describe columns, got {parsed}")
        return parsed

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        return schema_align(
            df,
            self._parse(config.options["targetSchema"]),
            mode=config.options.get("mode", "safe"),
        )


# ---------------------------------------------------------------------------
# Declarative expectations (Deequ-style, single-pass)
# ---------------------------------------------------------------------------

_EXPECTATION_TYPES = (
    "not_null", "unique", "range", "in_set", "pattern", "custom", "ref"
)


def _check_violation_expr(check: dict):
    """Violation indicator (1/0) for one non-referential check."""
    ctype = check["type"]
    col = check.get("column")
    if ctype == "not_null":
        return F.col(col).isNull().cast("long")
    if ctype == "range":
        c = F.col(col)
        cond = F.lit(False)
        if check.get("lo") is not None:
            cond = cond | (c < F.lit(check["lo"]))
        if check.get("hi") is not None:
            cond = cond | (c > F.lit(check["hi"]))
        return (c.isNotNull() & cond).cast("long")
    if ctype == "in_set":
        c = F.col(col)
        return (c.isNotNull() & ~c.isin(list(check["values"]))).cast("long")
    if ctype == "pattern":
        c = F.col(col).cast("string")
        return (c.isNotNull() & ~c.rlike(check["pattern"])).cast("long")
    if ctype == "custom":
        return (~F.coalesce(F.expr(check["expr"]), F.lit(False))).cast("long")
    raise TransformationError(f"unsupported expectation type: {ctype}")


def _normalize_checks(checks: list[dict]) -> list[dict]:
    out = []
    for i, c in enumerate(checks):
        c = dict(c)
        ctype = c.get("type")
        if ctype not in _EXPECTATION_TYPES:
            raise TransformationError(
                f"expectation type must be one of {_EXPECTATION_TYPES}, got '{ctype}'"
            )
        if ctype in ("not_null", "unique", "range", "in_set", "pattern", "ref") and not c.get("column"):
            raise TransformationError(f"expectation #{i} ({ctype}) requires 'column'")
        if ctype == "custom" and not c.get("expr"):
            raise TransformationError("custom expectation requires 'expr'")
        if ctype == "in_set" and not c.get("values"):
            raise TransformationError("in_set expectation requires 'values'")
        if ctype == "pattern" and not c.get("pattern"):
            raise TransformationError("pattern expectation requires 'pattern'")
        if ctype == "range" and c.get("lo") is None and c.get("hi") is None:
            raise TransformationError("range expectation requires 'lo' and/or 'hi'")
        if ctype == "ref" and c.get("ref_df") is None:
            raise TransformationError("ref expectation requires 'ref_df'")
        c.setdefault(
            "name",
            f"{ctype}:{c.get('column') or c.get('expr')}",
        )
        out.append(c)
    return out


def expectations_report(df: DataFrame, checks: list[dict]) -> DataFrame:
    """Declarative data-expectations engine: evaluate every check and
    return one report row per check — ``(check_name, check_type,
    violations, total, passed)``, all exact integers.

    Check specs (dicts):
    - ``{"type": "not_null", "column": c}``
    - ``{"type": "unique", "column": c}`` — duplicate rows beyond the
      first per value (nulls ignored)
    - ``{"type": "range", "column": c, "lo": x, "hi": y}`` (either bound
      optional; nulls pass — combine with not_null to forbid)
    - ``{"type": "in_set", "column": c, "values": [...]}``
    - ``{"type": "pattern", "column": c, "pattern": regex}``
    - ``{"type": "custom", "expr": sql_bool}`` — violation when the
      expression is false OR null
    - ``{"type": "ref", "column": fk, "ref_df": dim, "ref_column": pk}``
      — referential integrity: fk values (non-null) absent from the
      dimension's key set

    Scale design: every row-local check compiles to a conditional sum
    in ONE aggregation job over a single scan — adding checks adds
    expressions, not passes (the reference runs a job per metric,
    ``quality/DataQualityChecker.scala:61-114``). ``unique`` adds
    count_distinct state to the same job. Each ``ref`` check is one
    left-anti-join count against the dimension keys (broadcast when
    small) — the only per-check extra job, unavoidable without
    co-partitioned inputs.
    """
    checks = _normalize_checks(checks)
    local = [c for c in checks if c["type"] not in ("unique", "ref")]
    uniques = [c for c in checks if c["type"] == "unique"]
    refs = [c for c in checks if c["type"] == "ref"]

    aggs = [F.count("*").alias("__total")]
    for i, c in enumerate(local):
        aggs.append(F.sum(_check_violation_expr(c)).alias(f"__v{i}"))
    for j, c in enumerate(uniques):
        col = c["column"]
        aggs.append(
            (
                F.count(F.col(col)) - F.count_distinct(F.col(col))
            ).alias(f"__u{j}")
        )
    row = df.agg(*aggs).collect()[0]
    total = row["__total"]

    report = [
        (c["name"], c["type"], int(row[f"__v{i}"]), total)
        for i, c in enumerate(local)
    ] + [
        (c["name"], c["type"], int(row[f"__u{j}"]), total)
        for j, c in enumerate(uniques)
    ]
    for c in refs:
        ref_keys = c["ref_df"].select(
            F.col(c.get("ref_column", c["column"])).alias("__k")
        )
        orphans = (
            df.select(F.col(c["column"]).alias("__k"))
            .where(F.col("__k").isNotNull())
            .join(ref_keys, "__k", "left_anti")
            .count()
        )
        report.append((c["name"], "ref", int(orphans), total))

    spark = df.sparkSession
    out = spark.createDataFrame(
        report, "check_name string, check_type string, violations long, total long"
    )
    return out.withColumn("passed", F.col("violations") == 0)


def enforce_expectations(df: DataFrame, checks: list[dict]) -> DataFrame:
    """Gate mode: evaluate, raise on any violation (message lists every
    failing check with its count), else return ``df`` unchanged. The
    report evaluation is eager (one agg job + one job per ref check) —
    the price of a gate; use :func:`expectations_report` to stay lazy."""
    failing = [
        (r.check_name, r.violations)
        for r in expectations_report(df, checks).collect()
        if not r.passed
    ]
    if failing:
        raise TransformationError(
            "expectations failed: "
            + "; ".join(f"{n} ({v} violations)" for n, v in failing)
        )
    return df


def _parse_check_spec(spec: str) -> dict:
    """Compact YAML form, ``;``-separated specs of ``:``-separated
    fields: ``not_null:col`` | ``unique:col`` | ``range:col:lo:hi``
    (empty bound = open) | ``in_set:col:a|b|c`` | ``pattern:col:regex``
    (regex may contain ':') | ``custom:name:expr`` (expr may contain
    ':') | ``ref:fk:view:pk``."""
    parts = spec.strip().split(":")
    ctype = parts[0].strip()
    if ctype == "not_null" and len(parts) == 2:
        return {"type": "not_null", "column": parts[1].strip()}
    if ctype == "unique" and len(parts) == 2:
        return {"type": "unique", "column": parts[1].strip()}
    if ctype == "range" and len(parts) == 4:
        lo = float(parts[2]) if parts[2].strip() else None
        hi = float(parts[3]) if parts[3].strip() else None
        return {"type": "range", "column": parts[1].strip(), "lo": lo, "hi": hi}
    if ctype == "in_set" and len(parts) == 3:
        return {
            "type": "in_set",
            "column": parts[1].strip(),
            "values": [v for v in parts[2].split("|") if v != ""],
        }
    if ctype == "pattern" and len(parts) >= 3:
        return {
            "type": "pattern",
            "column": parts[1].strip(),
            "pattern": ":".join(parts[2:]),
        }
    if ctype == "custom" and len(parts) >= 3:
        return {
            "type": "custom",
            "name": f"custom:{parts[1].strip()}",
            "expr": ":".join(parts[2:]),
        }
    if ctype == "ref" and len(parts) == 4:
        return {
            "type": "ref",
            "column": parts[1].strip(),
            "ref_table": parts[2].strip(),
            "ref_column": parts[3].strip(),
        }
    raise TransformationError(f"unparseable expectation spec: '{spec}'")


class ExpectTransformer(_BaseTransformer):
    """Registry adapter (``type: expect``). Options: ``checks``
    (``;``-separated compact specs — see :func:`_parse_check_spec`),
    ``action`` ``report`` (output = the report table) | ``gate``
    (raise on any violation, else pass the input through unchanged).
    ``ref`` checks resolve their dimension from a registered view."""

    def validate(self, df: DataFrame, config) -> ValidationResult:
        errors = []
        raw = (config.options.get("checks") or "").strip()
        if not raw:
            errors.append("expect requires 'checks'")
        else:
            try:
                specs = [
                    _parse_check_spec(s) for s in raw.split(";") if s.strip()
                ]
                for c in specs:
                    col = c.get("column")
                    if col and col not in df.columns:
                        errors.append(f"check column not in input schema: {col}")
            except TransformationError as exc:
                errors.append(str(exc))
        if config.options.get("action", "report") not in ("report", "gate"):
            errors.append("expect action must be 'report' or 'gate'")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        checks = [
            _parse_check_spec(s)
            for s in config.options["checks"].split(";")
            if s.strip()
        ]
        for c in checks:
            if c["type"] == "ref":
                try:
                    c["ref_df"] = ctx.spark.table(c.pop("ref_table"))
                except Exception as exc:
                    raise TransformationError(
                        f"expect: ref view not found for check on "
                        f"'{c['column']}': {exc}"
                    ) from exc
        if config.options.get("action", "report") == "gate":
            return enforce_expectations(df, checks)
        return expectations_report(df, checks)
