"""PII detection and redaction for training-data curation.

Beyond-reference surface (the reference has no PII tooling; its scalar
expression layer `transformer/MapTransformer.scala:58` is the substrate):
corpus pipelines must strip emails / IPs / phone numbers before training,
and must do it at full-corpus scale.

The patterns here are deliberately regex-engine-portable (no lookaround,
no backreferences): they compile identically under Java `j.u.regex`
(Spark) and RE2 (DuckDB oracle), so detection counts and redacted output
are bit-identical across engines. A production deployment would swap in
model-based NER behind the same column contract — these regexes are the
JVM-side fast path.

100-TB design notes
-------------------
Detection (`regexp_count`) and redaction (`regexp_replace`) are narrow
per-row projections inside whole-stage codegen: no shuffle, no UDF, no
Python. Scanning a corpus for PII is exactly one pass over the text
column with column pruning — the cheapest possible shape. `mode: filter`
composes the counts with a Catalyst predicate so pushdown still applies
to everything else in the plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_spark_gradle_spark.operators.relational import TransformationError, _BaseTransformer

# Ordered dict: redaction applies in this order, so e.g. the digits of an
# already-redacted email can't later match the phone pattern.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "phone": r"\+?[0-9][0-9()\- ]{6,}[0-9]",
}


def pii_count(text: Column | str, kind: str) -> Column:
    """Match count for one PII kind (JVM-side ``regexp_count``)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(PII_PATTERNS[kind]))


def with_pii_counts(
    df: DataFrame,
    text_col: str = "text",
    kinds: list[str] | None = None,
    prefix: str = "pii_",
) -> DataFrame:
    """Add one ``{prefix}{kind}`` count column per PII kind plus a
    ``{prefix}total``. Pure projection — free rider on the scan."""
    kinds = list(PII_PATTERNS) if kinds is None else kinds
    total: Column | None = None
    for kind in kinds:
        cnt = pii_count(text_col, kind).cast("long")
        df = df.withColumn(prefix + kind, cnt)
        total = cnt if total is None else total + cnt
    return df.withColumn(
        prefix + "total", (total if total is not None else F.lit(0)).cast("long")
    )


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    kinds: list[str] | None = None,
    token_format: str = "<{kind}>",
) -> DataFrame:
    """Replace each PII match with a placeholder token (``<EMAIL>`` ...),
    applying kinds in ``PII_PATTERNS`` order so earlier redactions can't
    re-match later patterns. In-place when ``out_col`` is None."""
    kinds = list(PII_PATTERNS) if kinds is None else kinds
    c: Column = F.col(text_col)
    for kind in kinds:
        c = F.regexp_replace(
            c, F.lit(PII_PATTERNS[kind]), F.lit(token_format.format(kind=kind.upper()))
        )
    return df.withColumn(out_col or text_col, c)


class PiiTransformer(_BaseTransformer):
    """Registry adapter (``type: pii``). Options: ``textColumn``
    (default ``text``), ``kinds`` (csv subset of ``email,ipv4,phone``,
    default all), ``mode``:

    - ``annotate`` (default): add per-kind + total count columns
    - ``redact``: replace matches with ``<EMAIL>``/``<IPV4>``/``<PHONE>``
      (``outputColumn`` to keep the original)
    - ``filter``: drop rows containing any PII (the strict-curation gate)
    """

    def validate(self, df: DataFrame, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        tc = config.options.get("textColumn", "text")
        if tc not in df.columns:
            errors.append(f"textColumn not in input schema: {tc}")
        mode = config.options.get("mode", "annotate")
        if mode not in ("annotate", "redact", "filter"):
            errors.append(f"mode must be annotate|redact|filter: {mode}")
        for kind in self._kinds(config):
            if kind not in PII_PATTERNS:
                errors.append(
                    f"unknown PII kind: {kind} (known: {', '.join(PII_PATTERNS)})"
                )
        return (
            ValidationResult.fail(*errors) if errors else ValidationResult.ok()
        )

    @staticmethod
    def _kinds(config) -> list[str]:
        raw = config.options.get("kinds", "")
        return [k.strip() for k in raw.split(",") if k.strip()] or list(PII_PATTERNS)

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        opts = config.options
        tc = opts.get("textColumn", "text")
        kinds = self._kinds(config)
        mode = opts.get("mode", "annotate")
        if mode == "annotate":
            return with_pii_counts(df, tc, kinds)
        if mode == "redact":
            return redact_pii(df, tc, opts.get("outputColumn"), kinds)
        total: Column = F.lit(0)
        for kind in kinds:
            total = total + pii_count(tc, kind)
        return df.filter(total == 0)


def k_anonymity(
    df: DataFrame,
    quasi_identifiers: list[str],
    k: int = 5,
    output: str = "violations",
) -> DataFrame:
    """k-anonymity audit over quasi-identifier columns — the standard
    re-identification risk check before a dataset with demographic-ish
    attributes ships: a (QI…) combination shared by fewer than ``k``
    rows singles its members out even with direct identifiers removed
    (regex PII scrubbing above can't see this — it is a JOINT-
    distribution property, not a per-cell one).

    - ``output='violations'``: one row per violating combination —
      ``(qi…, n)`` with ``n < k`` (NULL QI values are legitimate
      combinations and are audited too, matching the grouping
      semantics of every SQL engine).
    - ``output='summary'``: a 1-row risk report — total rows, rows in
      violating groups, violating/total group counts, and
      ``at_risk_share`` (one exact-integer division).
    - ``output='annotate'``: the input plus ``qi_group_n`` and a
      ``k_anonymous`` flag per row (group sizes broadcast back; the
      frame itself is never re-shuffled).

    Plan at 100 TB: ONE map-side-combined groupBy on the QI columns;
    ``summary`` adds a second aggregation over the (bounded,
    combination-count-sized) group table; ``annotate`` joins the group
    table back null-safely. No windows, no self-joins.
    """
    if k < 2:
        raise TransformationError("k_anonymity requires k >= 2")
    if not quasi_identifiers:
        raise TransformationError(
            "k_anonymity requires at least one quasi-identifier column"
        )
    for c in quasi_identifiers:
        if c not in df.columns:
            raise TransformationError(
                f"quasi-identifier not in input schema: {c}"
            )
    if output not in ("violations", "summary", "annotate"):
        raise TransformationError(
            f"k_anonymity output must be violations|summary|annotate, "
            f"got '{output}'"
        )
    groups = df.groupBy(*quasi_identifiers).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    if output == "violations":
        return groups.where(F.col("n") < k)
    if output == "summary":
        viol = F.col("n") < k
        return groups.agg(
            F.sum("n").cast("long").alias("total_rows"),
            F.sum(F.when(viol, F.col("n")).otherwise(F.lit(0)))
            .cast("long")
            .alias("at_risk_rows"),
            F.count(F.lit(1)).cast("long").alias("total_groups"),
            F.sum(F.when(viol, F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias("violating_groups"),
            F.min("n").cast("long").alias("min_group_size"),
        ).select(
            "total_rows",
            "at_risk_rows",
            "total_groups",
            "violating_groups",
            "min_group_size",
            (
                F.col("at_risk_rows").cast("double")
                / F.col("total_rows").cast("double")
            ).alias("at_risk_share"),
        )
    from etl_spark_gradle_spark.operators.relational import (
        broadcast_group_join,
    )

    joined = broadcast_group_join(
        df, groups.withColumnRenamed("n", "qi_group_n"), quasi_identifiers
    )
    return joined.withColumn("k_anonymous", F.col("qi_group_n") >= k)


def l_diversity(
    df: DataFrame,
    quasi_identifiers: list[str],
    sensitive_col: str,
    l: int = 2,  # noqa: E741 - the statistic's canonical name
    output: str = "violations",
) -> DataFrame:
    """Distinct l-diversity audit — the companion check
    :func:`k_anonymity` cannot make: a QI combination can be large
    enough to be k-anonymous yet still leak the SENSITIVE attribute
    because every member shares one value (the classic homogeneity
    attack, Machanavajjhala et al. 2007). A group is l-diverse when
    its members carry at least ``l`` DISTINCT non-null sensitive
    values.

    - ``output='violations'``: one row per violating combination —
      ``(qi…, n, distinct_sensitive)`` with ``distinct_sensitive < l``
      (NULL sensitive values do not count toward diversity; a group
      whose sensitive column is entirely NULL audits as 0-diverse).
    - ``output='summary'``: 1-row report — total rows, rows in
      violating groups, violating/total group counts,
      ``min_diversity``, and ``at_risk_share`` (one exact division).

    Plan at 100 TB: ONE groupBy on the QI columns with
    ``count_distinct(sensitive)`` (Spark's Expand-based rewrite
    spreads the distinct state map-side — the same native plan the
    skew probes pinned for count_distinct); ``summary`` re-aggregates
    the bounded group table. No windows, no self-joins.
    """
    if l < 2:
        raise TransformationError("l_diversity requires l >= 2")
    if not quasi_identifiers:
        raise TransformationError(
            "l_diversity requires at least one quasi-identifier column"
        )
    for c in [*quasi_identifiers, sensitive_col]:
        if c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")
    if output not in ("violations", "summary"):
        raise TransformationError(
            f"l_diversity output must be violations|summary, got '{output}'"
        )
    groups = df.groupBy(*quasi_identifiers).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_distinct(F.col(sensitive_col))
        .cast("long")
        .alias("distinct_sensitive"),
    )
    if output == "violations":
        return groups.where(F.col("distinct_sensitive") < l)
    viol = F.col("distinct_sensitive") < l
    return groups.agg(
        F.sum("n").cast("long").alias("total_rows"),
        F.sum(F.when(viol, F.col("n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("at_risk_rows"),
        F.count(F.lit(1)).cast("long").alias("total_groups"),
        F.sum(F.when(viol, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("violating_groups"),
        F.min("distinct_sensitive").cast("long").alias("min_diversity"),
    ).select(
        "total_rows",
        "at_risk_rows",
        "total_groups",
        "violating_groups",
        "min_diversity",
        (
            F.col("at_risk_rows").cast("double")
            / F.col("total_rows").cast("double")
        ).alias("at_risk_share"),
    )


def t_closeness(
    df: DataFrame,
    quasi_identifiers: list[str],
    sensitive_col: str,
    t: float = 0.2,
    distance: str = "emd",
    output: str = "violations",
) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007) —
    the third rung of the privacy ladder after :func:`k_anonymity`
    (group size) and :func:`l_diversity` (distinct sensitive values):
    a QI group can be large AND diverse yet still leak because its
    sensitive-value DISTRIBUTION differs from the corpus (skewness
    attack — "this zip code is mostly high-salary"). A group is
    t-close when the distance between its sensitive distribution and
    the global distribution is <= t.

    ``distance='emd'`` (ordered attributes — the paper's numeric
    form): Earth Mover's Distance with the ordered ground metric,
    ``EMD = (1/(m-1)) * Σ_i |Σ_{j<=i} (p_j - q_j)|`` over the m
    globally-observed values in sort order. ``distance='tv'``
    (categorical): total-variation ``½ Σ |p_j - q_j|``.

    Exactness: both collapse to integer arithmetic via the common
    denominator n_g·N — per-value numerators ``c_gj·N − C_j·n_g``
    accumulate as decimal(38,0) (products bounded by n_g·N < 10^38
    at any conceivable corpus), and the statistic closes in ONE
    division: ``Σ|cum| / (n_g·N·(m−1))`` resp. ``Σ|…| / (2·n_g·N)``.
    Hash-gateable cross-engine by construction. m = 1 (single global
    value) defines distance 0.

    Plan at 100 TB: ONE map-side-combined groupBy on (QI, value);
    the global distribution derives FROM that cell table (no second
    raw scan); each group joins the broadcast m-row value spine so
    values ABSENT from the group still move mass (they must — that is
    the attack); the EMD cumulative window partitions on the QI
    group (parallel across groups, m rows each). The sensitive
    domain must therefore be LOW-CARDINALITY — bin/band numeric
    attributes first, exactly as the paper assumes. Rows with NULL
    sensitive values are excluded from both distributions.

    ``output='violations'``: (qi…, n, distance) rows with distance
    > t, highest first. ``output='summary'``: 1-row report — total/
    at-risk rows, group counts, ``max_distance``, ``at_risk_share``.
    """
    if not 0.0 <= float(t) <= 1.0:
        raise TransformationError("t_closeness requires 0 <= t <= 1")
    if not quasi_identifiers:
        raise TransformationError(
            "t_closeness requires at least one quasi-identifier column"
        )
    for c in [*quasi_identifiers, sensitive_col]:
        if c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")
    if distance not in ("emd", "tv"):
        raise TransformationError(
            f"t_closeness distance must be emd|tv, got '{distance}'"
        )
    if output not in ("violations", "summary"):
        raise TransformationError(
            f"t_closeness output must be violations|summary, got '{output}'"
        )
    from pyspark.sql import Window

    qi = list(quasi_identifiers)
    cells = (
        df.where(F.col(sensitive_col).isNotNull())
        .groupBy(*qi, F.col(sensitive_col).alias("_v"))
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        # the cell table feeds the global spine, the group totals and
        # the per-group expansion — pin it once (bounded: |groups|·m)
        .localCheckpoint(eager=False)
    )
    spine = (
        cells.groupBy("_v")
        .agg(F.sum("_c").cast("long").alias("_gc"))
        .localCheckpoint(eager=False)
    )
    totals = spine.agg(
        F.sum("_gc").cast("long").alias("_N"),
        F.count(F.lit(1)).cast("long").alias("_m"),
    )
    groups = cells.groupBy(*qi).agg(F.sum("_c").cast("long").alias("n"))
    # every (group, global value) pair: absent values carry c = 0
    expanded = (
        groups.crossJoin(F.broadcast(spine.crossJoin(F.broadcast(totals))))
        .join(cells, [*qi, "_v"], "left")
        .na.fill(0, ["_c"])
    )
    dec = "decimal(38,0)"
    num = F.col("_c").cast(dec) * F.col("_N").cast(dec) - F.col(
        "_gc"
    ).cast(dec) * F.col("n").cast(dec)
    if distance == "emd":
        w = (
            Window.partitionBy(*qi)
            .orderBy(F.col("_v").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        contrib = F.abs(F.sum(num).over(w))
        denom_extra = (F.col("_m") - 1).cast("double")
    else:
        contrib = F.abs(num)
        denom_extra = F.lit(2.0)
    per_group = (
        expanded.withColumn("_contrib", contrib)
        .groupBy(*qi, "n", "_N", "_m")
        .agg(F.sum("_contrib").alias("_sum"))
    )
    dist = F.when(F.col("_m") <= 1, F.lit(0.0)).otherwise(
        F.col("_sum").cast("string").cast("double")
        / (
            F.col("n").cast("double")
            * F.col("_N").cast("double")
            * denom_extra
        )
    )
    scored = per_group.select(*qi, "n", dist.alias("distance"))
    if output == "violations":
        return scored.where(F.col("distance") > float(t))
    viol = F.col("distance") > float(t)
    return scored.agg(
        F.sum("n").cast("long").alias("total_rows"),
        F.sum(F.when(viol, F.col("n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("at_risk_rows"),
        F.count(F.lit(1)).cast("long").alias("total_groups"),
        F.sum(F.when(viol, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("violating_groups"),
        F.max("distance").alias("max_distance"),
    ).select(
        "total_rows",
        "at_risk_rows",
        "total_groups",
        "violating_groups",
        "max_distance",
        (
            F.col("at_risk_rows").cast("double")
            / F.col("total_rows").cast("double")
        ).alias("at_risk_share"),
    )


class KAnonymityTransformer(_BaseTransformer):
    """Registry adapter (``type: k_anonymity``). Options:
    ``quasiIdentifiers`` csv (required), ``k`` (default 5),
    ``output`` violations|summary|annotate (default violations)."""

    def validate(self, df: DataFrame, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        from etl_spark_gradle_spark.operators.relational import _split_csv

        qis = _split_csv(opts.get("quasiIdentifiers"))
        if not qis:
            errors.append("k_anonymity requires 'quasiIdentifiers'")
        for c in qis:
            if c not in df.columns:
                errors.append(f"quasi-identifier not in input schema: {c}")
        try:
            if int(opts.get("k", 5)) < 2:
                errors.append("k must be >= 2")
        except (TypeError, ValueError):
            errors.append(f"k is not an int: {opts['k']}")
        if opts.get("output", "violations") not in (
            "violations", "summary", "annotate",
        ):
            errors.append(
                f"output must be violations|summary|annotate, got "
                f"'{opts['output']}'"
            )
        return (
            ValidationResult.ok()
            if not errors
            else ValidationResult.fail(*errors)
        )

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        from etl_spark_gradle_spark.operators.relational import _split_csv

        opts = config.options
        return k_anonymity(
            df,
            quasi_identifiers=_split_csv(opts["quasiIdentifiers"]),
            k=int(opts.get("k", 5)),
            output=opts.get("output", "violations"),
        )


class LDiversityTransformer(_BaseTransformer):
    """Registry adapter (``type: l_diversity``). Options:
    ``quasiIdentifiers`` csv (required), ``sensitiveColumn``
    (required), ``l`` (default 2), ``output`` violations|summary
    (default violations)."""

    def validate(self, df: DataFrame, config):
        from etl_spark_gradle_spark.operators.relational import _split_csv
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        qis = _split_csv(opts.get("quasiIdentifiers"))
        if not qis:
            errors.append("l_diversity requires 'quasiIdentifiers'")
        if not opts.get("sensitiveColumn"):
            errors.append("l_diversity requires 'sensitiveColumn'")
        for c in qis + (
            [opts["sensitiveColumn"]] if opts.get("sensitiveColumn") else []
        ):
            if c not in df.columns:
                errors.append(f"column not in input schema: {c}")
        try:
            if int(opts.get("l", 2)) < 2:
                errors.append("l must be >= 2")
        except (TypeError, ValueError):
            errors.append(f"l is not an int: {opts['l']}")
        if opts.get("output", "violations") not in ("violations", "summary"):
            errors.append(
                f"output must be violations|summary, got '{opts['output']}'"
            )
        return (
            ValidationResult.ok()
            if not errors
            else ValidationResult.fail(*errors)
        )

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        from etl_spark_gradle_spark.operators.relational import _split_csv

        opts = config.options
        return l_diversity(
            df,
            quasi_identifiers=_split_csv(opts["quasiIdentifiers"]),
            sensitive_col=opts["sensitiveColumn"],
            l=int(opts.get("l", 2)),
            output=opts.get("output", "violations"),
        )


class TClosenessTransformer(_BaseTransformer):
    """Registry adapter (``type: t_closeness``). Options:
    ``quasiIdentifiers`` csv (required), ``sensitiveColumn``
    (required), ``t`` (default 0.2), ``distance`` emd|tv (default
    emd), ``output`` violations|summary (default violations)."""

    def validate(self, df: DataFrame, config):
        from etl_spark_gradle_spark.operators.relational import _split_csv
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        qis = _split_csv(opts.get("quasiIdentifiers"))
        if not qis:
            errors.append("t_closeness requires 'quasiIdentifiers'")
        if not opts.get("sensitiveColumn"):
            errors.append("t_closeness requires 'sensitiveColumn'")
        for c in qis + (
            [opts["sensitiveColumn"]] if opts.get("sensitiveColumn") else []
        ):
            if c not in df.columns:
                errors.append(f"column not in input schema: {c}")
        try:
            if not 0.0 <= float(opts.get("t", 0.2)) <= 1.0:
                errors.append("t must be in [0, 1]")
        except (TypeError, ValueError):
            errors.append(f"t is not a float: {opts['t']}")
        if opts.get("distance", "emd") not in ("emd", "tv"):
            errors.append(
                f"distance must be emd|tv, got '{opts['distance']}'"
            )
        if opts.get("output", "violations") not in ("violations", "summary"):
            errors.append(
                f"output must be violations|summary, got '{opts['output']}'"
            )
        return (
            ValidationResult.ok()
            if not errors
            else ValidationResult.fail(*errors)
        )

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        from etl_spark_gradle_spark.operators.relational import _split_csv

        opts = config.options
        return t_closeness(
            df,
            quasi_identifiers=_split_csv(opts["quasiIdentifiers"]),
            sensitive_col=opts["sensitiveColumn"],
            t=float(opts.get("t", 0.2)),
            distance=opts.get("distance", "emd"),
            output=opts.get("output", "violations"),
        )
