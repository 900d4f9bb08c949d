"""Relational transformers: filter, map, aggregation, join, windowing,
ranking (SURVEY.md §2.3, §2.6).

Every operator builds a *lazy* DataFrame plan — no actions, no driver
materialization — so a pipeline of N transformations is one Catalyst plan
and Catalyst/AQE choose the physical strategy (broadcast vs sort-merge
join, partial aggregation, skew splitting). That is the whole scale
story: these operators are declarative descriptions, not executors.

Parity anchors into the reference (cited per operator):
- filter:      transformer/FilterTransformer.scala:22-54
- map:         transformer/MapTransformer.scala:24-73
- aggregation: transformer/AggregationTransformer.scala:28-82
- join:        transformer/JoinTransformer.scala:31-95
- windowing:   transformer/WindowingTransformer.scala:28-99
- ranking:     benchmark/QueryPlanAnalysisSpec.scala:314-339
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_spark_gradle_spark.operators.base import (
    TransformationError,
    _BaseTransformer,
)
from etl_spark_gradle_spark.plans.config import (
    AggregateExpr,
    TransformationConfig,
    ValidationResult,
)


# ---------------------------------------------------------------------------
# Aggregate function surface
# ---------------------------------------------------------------------------

# Whitelist mirrors transformer/AggregationTransformer.scala:116 (9 fns),
# extended with distinct/approximate aggregates (SURVEY §2.7 extensions —
# stock Spark, free to expose, and essential at 100 TB where exact
# count-distinct shuffles every value).
_AGG_FUNCTIONS = {
    "sum": F.sum,
    "avg": F.avg,
    "count": F.count,
    "min": F.min,
    "max": F.max,
    "first": F.first,
    "last": F.last,
    "collect_list": F.collect_list,
    "collect_set": F.collect_set,
    # extensions
    "count_distinct": lambda c: F.countDistinct(c),
    "approx_count_distinct": lambda c: F.approx_count_distinct(c),
    "stddev": F.stddev,
    "variance": F.variance,
    "median": F.median,
    # Order-independent exact variants: float sum/avg over doubles is
    # partition-order dependent (caught by the sf1 oracle sweep — same
    # values, different partitioning, one-ulp drift). These accumulate
    # in DECIMAL(18,6) (exact for <= 6-fractional-digit inputs; map a
    # scaled column first for finer precision), then convert via the
    # string round-trip (decimal->string exact, string->double
    # correctly rounded on every engine) so the result is identical
    # for ANY partitioning and any engine. avg_exact = one double
    # division of the exact sum by the non-null count. Aggregation
    # contexts only (the avg_exact expression is a ratio of two
    # aggregates, so it cannot be used `.over(window)`).
    "sum_exact": lambda c: F.sum(_to_dec6(c)).cast("string").cast("double"),
    "avg_exact": lambda c: (
        F.sum(_to_dec6(c)).cast("string").cast("double") / F.count(_as_col(c))
    ),
}


def _as_col(c):
    return F.col(c) if isinstance(c, str) else c


# size ceiling for the localCheckpoint pin device (VERDICT r12 ask #5):
# under it, a reused relation is pinned with localCheckpoint — fast
# executor-local blocks, but lineage is TRUNCATED, so losing an
# executor after the pin fails the job instead of recomputing. Above
# it, fall back to persist(MEMORY_AND_DISK), which keeps lineage
# (partitions recompute on executor loss) and still collapses the
# repeated subtree to one InMemoryRelation in every referencing plan.
PIN_MAX_BYTES = 256 * 1024 * 1024


def estimated_bytes(df: DataFrame) -> int | None:
    """The optimizer's ``sizeInBytes`` estimate of ``df`` (no job runs;
    parquet-derived plans carry file-size stats), or None when the
    estimate fails."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # estimation failure must never break the plan
        return None


def pin_bounded(df: DataFrame, max_bytes: int | None = None) -> DataFrame:
    """Materialize a REUSED relation once, fault-tolerance-aware.

    The pin device (localCheckpoint) exists because Catalyst re-plans
    a DataFrame's whole upstream once per reference — a relation used
    N times plans N copies of its subtree (r12 audit: triangle_count
    compounded to 90 scans un-pinned). localCheckpoint collapses the
    subtree to one LogicalRDD, but its blocks are executor-local and
    non-replicated with the lineage cut: fine for genuinely bounded
    relations (vocabularies, cell tables, 1-row totals), a real
    availability trade for O(rows) relations at cluster scale.

    This helper keys the choice on the optimizer's size ESTIMATE (no
    job is launched — parquet-derived plans carry file-size stats):
    <= ``max_bytes`` (default :data:`PIN_MAX_BYTES`) pins with a lazy
    localCheckpoint; above it persists MEMORY_AND_DISK, keeping
    lineage so executor loss recomputes instead of failing, at the
    cost of cache-memory pressure (blocks are LRU-evicted and freed
    when the plan is GC'd — constructors cannot unpersist what their
    callers still reference). A relation whose estimate fails is of
    unknown size, so it persists too: cutting the lineage of a
    relation that may be huge is the riskier trade."""
    limit = PIN_MAX_BYTES if max_bytes is None else int(max_bytes)
    est = estimated_bytes(df)
    if est is not None and est <= limit:
        return df.localCheckpoint(eager=False)
    from pyspark import StorageLevel

    return df.persist(StorageLevel.MEMORY_AND_DISK)


def _to_dec6(c):
    return _as_col(c).cast("decimal(18,6)")


def _agg_column(spec: AggregateExpr):
    """Build one aggregate Column from an AggregateExpr
    (fn dispatch parity: ``transformer/AggregationTransformer.scala:47-64``,
    incl. ``count("*")`` support)."""
    fn = _AGG_FUNCTIONS.get(spec.function.lower())
    if fn is None:
        raise TransformationError(
            f"unsupported aggregate function '{spec.function}' "
            f"(supported: {sorted(_AGG_FUNCTIONS)})"
        )
    # plain identifiers (and "*") pass through as column names; anything
    # else is a SQL expression (the reference's inline YAML form allows
    # e.g. sum(price * quantity) — quickstart-1-sales-aggregation.yaml:19)
    if spec.column == "*" or re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", spec.column):
        return fn(spec.column).alias(spec.alias)
    return fn(F.expr(spec.column)).alias(spec.alias)


def _agg_expr(spec: AggregateExpr):
    """Unaliased variant of :func:`_agg_column` for window (`.over`)
    contexts, where the alias must wrap the windowed expression."""
    fn = _AGG_FUNCTIONS.get(spec.function.lower())
    if fn is None:
        raise TransformationError(
            f"unsupported aggregate function '{spec.function}' "
            f"(supported: {sorted(_AGG_FUNCTIONS)})"
        )
    if spec.column == "*" or re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", spec.column):
        return fn(spec.column)
    return fn(F.expr(spec.column))


# ---------------------------------------------------------------------------
# Pure operator functions (programmatic API — SURVEY §3.3 level (c))
# ---------------------------------------------------------------------------


def filter_rows(df: DataFrame, condition: str) -> DataFrame:
    """Row filter by arbitrary Spark SQL boolean expression
    (parity: ``transformer/FilterTransformer.scala:40``).

    Because the predicate stays a Catalyst expression, it is pushed down
    to the scan (visible as ``PushedFilters`` on Parquet/JDBC) — never a
    Python callback.
    """
    if not condition or not condition.strip():
        raise TransformationError("filter requires a non-empty 'condition'")
    return df.filter(F.expr(condition))


def map_columns(df: DataFrame, expressions: list[tuple[str, str]]) -> DataFrame:
    """Sequential ``withColumn(alias, expr)`` — rename / cast / computed
    columns / JSON extraction (parity: ``transformer/MapTransformer.scala:56-59``;
    later expressions see earlier aliases, order matters).
    """
    if not expressions:
        raise TransformationError("map requires at least one alias:expression pair")
    out = df
    for alias, expression in expressions:
        out = out.withColumn(alias, F.expr(expression))
    return out


def split_top_level(spec: str) -> list[str]:
    """Split a comma-separated config string on top-level commas only —
    commas inside parens/brackets/quotes belong to the segment (e.g.
    ``coalesce(a, b) DESC`` stays one entry). Shared by map expressions,
    ranking orderBy/partitionBy, and join selectColumns."""
    depth = 0
    quote: str | None = None
    current: list[str] = []
    parts: list[str] = []
    for ch in spec:
        if quote:
            if ch == quote:
                quote = None
        elif ch in ("'", '"'):
            quote = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(current))
            current = []
            continue
        current.append(ch)
    if current:
        parts.append("".join(current))
    return parts


def parse_map_expressions(spec: str) -> list[tuple[str, str]]:
    """Parse ``"alias:expr,alias2:expr2"`` config strings
    (parity: ``transformer/MapTransformer.scala:42-53``). Splits on
    top-level commas only (commas inside parens/quotes belong to the
    expression, e.g. ``concat(a, ' ', b)``)."""
    pairs: list[tuple[str, str]] = []
    for part in split_top_level(spec):
        if not part.strip():
            continue
        alias, sep, expression = part.partition(":")
        if not sep or not alias.strip() or not expression.strip():
            raise TransformationError(f"malformed map expression segment: {part!r}")
        pairs.append((alias.strip(), expression.strip()))
    if not pairs:
        raise TransformationError("map requires at least one alias:expression pair")
    return pairs


_GROUPING_MODES = {"groupby", "rollup", "cube", "grouping_sets"}


def aggregate(
    df: DataFrame,
    group_by: list[str],
    aggregations: list[AggregateExpr],
    grouping_mode: str = "groupby",
    grouping_sets: list[list[str]] | None = None,
) -> DataFrame:
    """Hash aggregation: ``groupBy(cols).agg(...)`` (parity:
    ``transformer/AggregationTransformer.scala:67-68``).

    Spark plans this as partial (map-side) + final aggregation
    automatically, so the shuffle carries pre-combined state, not raw
    rows — the property that keeps a 100 TB groupBy tractable.
    Empty ``group_by`` = global aggregation.

    ``grouping_mode`` extends the surface with ``rollup`` / ``cube``
    multi-level aggregates (SURVEY §2.7 extension — stock Spark; one
    Expand + one shuffle, subtotal rows carry NULL group keys exactly
    like ANSI SQL ``GROUP BY ROLLUP/CUBE``), and
    ``grouping_mode="grouping_sets"`` takes the explicit set list via
    ``grouping_sets`` (ANSI ``GROUP BY GROUPING SETS``) — the
    cheaper-than-cube path when a report needs only SOME of the 2^n
    cube combinations: Expand replicates each row once per LISTED set,
    not once per subset, so the shuffle is |sets|/2^n of the cube's.
    """
    if not aggregations:
        raise TransformationError("aggregation requires at least one AggregateExpr")
    mode = grouping_mode.lower()
    if mode not in _GROUPING_MODES:
        raise TransformationError(
            f"unsupported groupingMode '{grouping_mode}' (supported: {sorted(_GROUPING_MODES)})"
        )
    aggs = [_agg_column(a) for a in aggregations]
    keys = [F.col(c) for c in group_by]
    if mode == "grouping_sets":
        if not grouping_sets:
            raise TransformationError(
                "groupingMode 'grouping_sets' requires a non-empty groupingSets list"
            )
        for gset in grouping_sets:
            for c in gset:
                if c not in group_by:
                    raise TransformationError(
                        f"grouping set column '{c}' must appear in groupBy"
                    )
        grouped = df.groupingSets(
            [[F.col(c) for c in gset] for gset in grouping_sets], *keys
        )
    elif mode == "rollup":
        grouped = df.rollup(*keys)
    elif mode == "cube":
        grouped = df.cube(*keys)
    else:
        grouped = df.groupBy(*keys)
    return grouped.agg(*aggs)


# semi/anti are SURVEY §2.7 extensions (absent from the reference surface,
# free from Spark): semi = "keep left rows with a match", anti = "keep
# left rows WITHOUT a match" — the corpus-subtraction primitive of every
# dedup pipeline ("drop documents already seen").
_JOIN_TYPES = {"inner", "left", "right", "full", "semi", "anti"}


def join_view(
    df: DataFrame,
    spark: SparkSession,
    right_table: str,
    left_key: str,
    right_key: str,
    join_type: str = "inner",
    select_columns: list[str] | None = None,
    broadcast_right: bool = False,
    strategy: str | None = None,
    null_safe: bool = False,
) -> DataFrame:
    """Equi-join the input (left) against a named temp view (parity:
    ``transformer/JoinTransformer.scala:54-81``).

    Column-dedup rule preserved exactly: on name collision keep the left
    DataFrame's column, drop the right's
    (``transformer/JoinTransformer.scala:69-81``). ``select_columns``
    honors the documented-but-unimplemented projection of the reference
    (``docs/CONFIGURATION.md:212-216``). ``broadcast_right`` adds an
    explicit broadcast hint for known-small dimensions; otherwise the
    strategy is left to Catalyst/AQE (broadcast vs sort-merge vs
    shuffled-hash), which at scale also handles skew splitting.

    ``strategy`` pins the physical join when the caller knows better
    than the statistics: ``"shuffle_hash"`` (build a hash table per
    partition — beats sort-merge when one side is much smaller but too
    big to broadcast, skips BOTH sorts), ``"merge"`` (force sort-merge
    — the safe choice when both sides are huge and spill matters), or
    ``"broadcast"`` (same as ``broadcast_right``). Hints attach to the
    RIGHT side, matching the broadcast knob's orientation.
    """
    jt = join_type.lower()
    if jt not in _JOIN_TYPES:
        raise TransformationError(
            f"unsupported joinType '{join_type}' (supported: {sorted(_JOIN_TYPES)})"
        )
    if strategy is not None and strategy not in ("broadcast", "shuffle_hash", "merge"):
        raise TransformationError(
            f"unsupported join strategy '{strategy}' "
            "(supported: broadcast, shuffle_hash, merge)"
        )
    right = spark.table(right_table)
    if strategy == "shuffle_hash":
        right = right.hint("shuffle_hash")
    elif strategy == "merge":
        right = right.hint("merge")
    if broadcast_right or strategy == "broadcast":
        right = F.broadcast(right)
    spark_join_type = {
        "left": "left_outer",
        "right": "right_outer",
        "full": "full_outer",
        "semi": "left_semi",
        "anti": "left_anti",
    }.get(jt, jt)
    # null_safe: SQL <=> semantics — NULL keys match each other instead
    # of silently dropping (needed when the key domain legitimately
    # contains NULL "unknown" buckets). Costs nothing at plan level:
    # still an equi-join on both engines.
    lk, rk = F.col(f"l.{left_key}"), F.col(f"r.{right_key}")
    joined = df.alias("l").join(
        right.alias("r"),
        lk.eqNullSafe(rk) if null_safe else lk == rk,
        spark_join_type,
    )
    if jt in ("semi", "anti"):
        # existence joins produce left columns only — nothing to dedup
        out = joined
    else:
        # dedup: keep every left column; add right columns whose names
        # don't collide with a left column
        left_cols = [F.col(f"l.{c}") for c in df.columns]
        left_names = set(df.columns)
        right_cols = [F.col(f"r.{c}") for c in right.columns if c not in left_names]
        out = joined.select(*left_cols, *right_cols)
    if select_columns:
        out = out.select(*select_columns)
    return out


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_time: str,
    right_time: str,
    right_values: list[str],
    direction: str = "backward",
    tolerance_seconds: float | None = None,
    salt_buckets: int | None = None,
) -> DataFrame:
    """As-of join: for each left row, attach the single right row with
    the same key and the nearest ``right_time`` at-or-before
    (``backward``) / at-or-after (``forward``) / closest in either
    direction (``nearest``, ties to backward — pandas ``merge_asof``
    conventions) relative to the left row's time. Left rows without a
    qualifying match keep NULL right values (ASOF LEFT JOIN semantics).

    Spark has no asof primitive, so this is the idiomatic union-merge
    plan (the distributed counterpart of ``pandas.merge_asof``):
    tag + union both sides, ONE shuffle on the key, per-partition sort
    on (time, tag), and a running ``last(..., ignorenulls=True)`` window
    carries the most recent right payload onto each left row. No range
    explosion, no per-key driver loop; cost is the same sort-merge
    shuffle a plain equi-join would pay. At equal timestamps the right
    row sorts before the left row, so exact-time matches are included.

    100-TB note: a pathologically hot key serializes in one task's sort
    (AQE cannot split a window partition). ``salt_buckets=B`` splits it:
    left rows scatter to B random salts, right rows replicate to ALL B
    salts of their key, and the window partitions on (key, salt) — every
    left row still sees its key's full right timeline, so results are
    IDENTICAL to unsalted; the hot key's sort now runs as B parallel
    tasks. Cost: right side ×B — use when the left side dominates (the
    "billions of events vs a reference timeline" shape). Leave None when
    keys are well-distributed.

    ``right_values`` are the right columns to attach (must not collide
    with left column names). ``tolerance_seconds`` nulls out matches
    further than the tolerance from the left time.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise TransformationError(
            "asof direction must be 'backward', 'forward', or 'nearest'"
        )
    collisions = set(right_values) & set(left.columns)
    if collisions:
        raise TransformationError(
            f"asof right_values collide with left columns: {sorted(collisions)}"
        )
    pay_fields = [F.col(c) for c in right_values] + [
        F.col(right_time).cast("timestamp").alias("__asof_t")
    ]
    r = right.select(
        F.col(right_key).alias("__k"),
        F.col(right_time).cast("timestamp").alias("__t"),
        F.struct(*pay_fields).alias("__pay"),
        F.lit(0).alias("__tag"),
    )
    l = (
        left.withColumn("__k", F.col(left_key))
        .withColumn("__t", F.col(left_time).cast("timestamp"))
        .withColumn("__tag", F.lit(1))
    )
    part_cols = ["__k"]
    if salt_buckets and int(salt_buckets) > 1:
        buckets = int(salt_buckets)
        l = l.withColumn(
            "__salt",
            F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(buckets)).cast("int"),
        )
        r = r.select(
            "*", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1))).alias("__salt")
        ).withColumn("__salt", F.col("__salt").cast("int"))
        part_cols.append("__salt")
    u = l.unionByName(r, allowMissingColumns=True)
    w_back = (
        Window.partitionBy(*part_cols)
        .orderBy(F.col("__t").asc(), F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(*part_cols)
        .orderBy(F.col("__t").desc(), F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if direction == "nearest":
        # both directions over the SAME key partitioning: one Exchange,
        # two in-partition sorts — no extra shuffle vs backward alone.
        # Tie at equal distance keeps the backward match (pandas
        # merge_asof convention). Epoch-double arithmetic keeps
        # sub-second precision (unix_timestamp truncates to seconds).
        matched = (
            u.withColumn("__mb", F.last("__pay", ignorenulls=True).over(w_back))
            .withColumn("__mf", F.last("__pay", ignorenulls=True).over(w_fwd))
            .filter(F.col("__tag") == 1)
        )
        t_d = F.col("__t").cast("double")
        gap_b = t_d - F.col("__mb.__asof_t").cast("double")
        gap_f = F.col("__mf.__asof_t").cast("double") - t_d
        matched = matched.withColumn(
            "__match",
            F.when(F.col("__mb").isNull(), F.col("__mf"))
            .when(F.col("__mf").isNull(), F.col("__mb"))
            .when(gap_f < gap_b, F.col("__mf"))
            .otherwise(F.col("__mb")),
        )
    else:
        w = w_fwd if direction == "forward" else w_back
        matched = u.withColumn(
            "__match", F.last("__pay", ignorenulls=True).over(w)
        ).filter(F.col("__tag") == 1)
    if tolerance_seconds is not None:
        gap = F.abs(
            F.col("__t").cast("double") - F.col("__match.__asof_t").cast("double")
        )
        matched = matched.withColumn(
            "__match", F.when(gap <= tolerance_seconds, F.col("__match"))
        )
    out_cols = [F.col(c) for c in left.columns] + [
        F.col(f"__match.{c}").alias(c) for c in right_values
    ]
    return matched.select(*out_cols)


def range_join_points(
    left: DataFrame,
    right: DataFrame,
    point_col: str,
    lower_col: str,
    upper_col: str,
    bin_size: float,
    broadcast_right: bool = False,
) -> DataFrame:
    """Range (interval-containment) join: every (left, right) pair with
    ``lower <= point <= upper`` — BETWEEN semantics, matching the SQL
    oracle. Output = left columns + non-colliding right columns
    (left-wins dedup, same rule as :func:`join_view`).

    A naive non-equi join plans as BroadcastNestedLoopJoin (O(n·m) on
    one node's worth of comparisons). This instead *bins* the number
    line: each point belongs to exactly one ``bin_size`` bucket, each
    interval explodes to the buckets it covers, and the join becomes an
    EQUI-join on bucket id plus a residual BETWEEN filter. One hash
    shuffle on bin id; explode factor ≈ interval_width / bin_size + 1 —
    pick ``bin_size`` near the typical interval width so intervals
    explode to ~2 bins. Spark applies the residual predicate inside the
    join, so no oversized intermediate materializes.
    """
    if bin_size <= 0:
        raise TransformationError("range join bin_size must be positive")
    lb = left.withColumn(
        "__bin", F.floor(F.col(point_col) / F.lit(bin_size)).cast("long")
    )
    rb = right.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lower_col) / F.lit(bin_size)).cast("long"),
                F.floor(F.col(upper_col) / F.lit(bin_size)).cast("long"),
            )
        ),
    )
    if broadcast_right:
        rb = F.broadcast(rb)
    cond = (
        (F.col(f"l.{point_col}") >= F.col(f"r.{lower_col}"))
        & (F.col(f"l.{point_col}") <= F.col(f"r.{upper_col}"))
    )
    joined = lb.alias("l").join(
        rb.alias("r"), (F.col("l.__bin") == F.col("r.__bin")) & cond, "inner"
    )
    left_names = set(left.columns)
    out_cols = [F.col(f"l.{c}") for c in left.columns] + [
        F.col(f"r.{c}") for c in right.columns if c not in left_names
    ]
    return joined.select(*out_cols)


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_lower: str,
    left_upper: str,
    right_lower: str,
    right_upper: str,
    bin_size: float,
    keys: list[str] | None = None,
    min_overlap: float = 0.0,
    broadcast_right: bool = False,
) -> DataFrame:
    """Interval-OVERLAP join: every (left, right) pair whose closed
    intervals intersect — ``l_lower <= r_upper AND r_lower <= l_upper``
    — optionally restricted to equal ``keys`` columns and to overlaps
    of at least ``min_overlap`` (column units). The set-vs-set
    companion of :func:`range_join_points` (point vs interval):
    sessions x outages, shifts x incidents, shipping windows x
    promotion windows.

    Scale design: a naive non-equi join is a nested loop. Both sides
    explode onto the fixed ``bin_size`` grid they cover and the join
    becomes an EQUI-join on (keys..., bin) with the residual overlap
    predicate applied inside it. An overlapping pair shares EVERY bin
    their intersection covers — deduplication is built into the join
    condition instead of a distinct shuffle: a pair is emitted ONLY in
    the canonical bin holding ``greatest(l_lower, r_lower)`` (the
    overlap start, which by definition lies in both intervals), so
    each pair appears exactly once. Explode factor per side ≈
    width/bin_size + 1 — pick ``bin_size`` near the typical interval
    width. DATE columns bin by day index, TIMESTAMP by epoch seconds
    (``bin_size`` is then days / seconds respectively); the residual
    predicate always compares the ORIGINAL columns.

    Output = left columns + right columns, name collisions on the
    right suffixed ``_right`` (both sides legitimately carry interval
    columns — the left-wins drop rule of equi-joins would silently
    lose the right interval)."""
    from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

    if bin_size <= 0:
        raise TransformationError("interval join bin_size must be positive")
    if min_overlap < 0:
        raise TransformationError("interval join min_overlap must be >= 0")
    keys = keys or []
    for c, df_, side in (
        (left_lower, left, "left"),
        (left_upper, left, "left"),
        (right_lower, right, "right"),
        (right_upper, right, "right"),
        *[(k, left, "left") for k in keys],
        *[(k, right, "right") for k in keys],
    ):
        if c not in df_.columns:
            raise TransformationError(
                f"interval join: column '{c}' not in {side} schema"
            )
    for df_, side in ((left, "left"), (right, "right")):
        if "__bin" in df_.columns:
            raise TransformationError(
                f"column name '__bin' is reserved by interval_overlap_join "
                f"({side} side) — rename it first"
            )

    def _unit(df_, c):
        t = df_.schema[c].dataType
        if isinstance(t, DateType):
            return "days"
        if isinstance(t, (TimestampType, TimestampNTZType)):
            return "seconds"
        return "numeric"

    units = {
        _unit(left, left_lower), _unit(left, left_upper),
        _unit(right, right_lower), _unit(right, right_upper),
    }
    if len(units) > 1:
        raise TransformationError(
            "interval join: interval columns mix incompatible units "
            f"({sorted(units)}) — DATE bins by day index, TIMESTAMP by "
            "epoch seconds, so mixed grids would never line up (a "
            "silently-empty join); cast both sides to one type first"
        )

    def _num(df_, c):
        t = df_.schema[c].dataType
        if isinstance(t, DateType):
            return F.unix_date(F.col(c)).cast("double")
        if isinstance(t, (TimestampType, TimestampNTZType)):
            return F.col(c).cast("timestamp").cast("double")
        return F.col(c).cast("double")

    # suffix-rename colliding right columns so the joined schema is flat
    left_names = set(left.columns)
    renames = {c: f"{c}_right" for c in right.columns
               if c in left_names and c not in keys}
    r = right
    for old, new in renames.items():
        r = r.withColumnRenamed(old, new)
    r_lower = renames.get(right_lower, right_lower)
    r_upper = renames.get(right_upper, right_upper)

    def _bins(df_, lo_c, hi_c):
        # inverted (lower > upper) or null-bounded intervals emit NO
        # bins: F.sequence(a, b) with a > b yields a DESCENDING
        # sequence, so without the guard a dirty inverted interval
        # would still land on bins and pair unpredictably downstream
        lo_n, hi_n = _num(df_, lo_c), _num(df_, hi_c)
        return F.explode(
            F.when(
                lo_n <= hi_n,
                F.sequence(
                    F.floor(lo_n / F.lit(bin_size)).cast("long"),
                    F.floor(hi_n / F.lit(bin_size)).cast("long"),
                ),
            )
        )

    lb = left.withColumn("__bin", _bins(left, left_lower, left_upper))
    rb = r.withColumn("__bin", _bins(r, r_lower, r_upper))
    if broadcast_right:
        rb = F.broadcast(rb)
    ll, lu = F.col(f"l.{left_lower}"), F.col(f"l.{left_upper}")
    rl, ru = F.col(f"r.{r_lower}"), F.col(f"r.{r_upper}")
    cond = (F.col("l.__bin") == F.col("r.__bin")) & (ll <= ru) & (rl <= lu)
    for k in keys:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
    # canonical-bin dedup: emit only where the bin holds the overlap start
    lo_num_l = F.floor(
        F.greatest(
            _num_aliased(left, left_lower, "l"), _num_aliased(r, r_lower, "r")
        )
        / F.lit(bin_size)
    ).cast("long")
    cond = cond & (F.col("l.__bin") == lo_num_l)
    if min_overlap > 0:
        overlap = F.least(
            _num_aliased(left, left_upper, "l"), _num_aliased(r, r_upper, "r")
        ) - F.greatest(
            _num_aliased(left, left_lower, "l"), _num_aliased(r, r_lower, "r")
        )
        cond = cond & (overlap >= F.lit(float(min_overlap)))
    joined = lb.alias("l").join(rb.alias("r"), cond, "inner")
    out_cols = [F.col(f"l.{c}") for c in left.columns] + [
        F.col(f"r.{c}") for c in r.columns if c not in keys
    ]
    return joined.select(*out_cols)


def _num_aliased(df_, c: str, alias: str):
    """Numeric view of an aliased column (same mapping as the binner:
    DATE -> day index, TIMESTAMP -> epoch seconds, else double)."""
    from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

    t = df_.schema[c].dataType
    col = F.col(f"{alias}.{c}")
    if isinstance(t, DateType):
        return F.unix_date(col).cast("double")
    if isinstance(t, (TimestampType, TimestampNTZType)):
        return col.cast("timestamp").cast("double")
    return col.cast("double")


_WINDOW_TYPES = {"tumbling", "sliding", "session"}


def window_aggregate(
    df: DataFrame,
    time_column: str,
    window_duration: str,
    aggregations: list[AggregateExpr],
    window_type: str = "tumbling",
    slide_duration: str | None = None,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Time-window aggregation (parity:
    ``transformer/WindowingTransformer.scala:49-85``).

    Implements the *documented* semantics — extra ``group_by`` columns
    alongside the window — rather than the reference implementation's
    window-only grouping, which SURVEY §2.3 establishes as a bug
    (``docs/CONFIGURATION.md:225-237`` + the quickstart-2 expected output
    vs ``transformer/WindowingTransformer.scala:84``). ``session``
    windows (gap-based) are the spec-promised extension
    (``specs/001-build-an-application/spec.md:125-126``) via
    ``F.session_window``.

    The window struct is exposed as it is in the reference
    (``window.start`` / ``window.end`` accessible downstream).
    """
    wt = window_type.lower()
    if wt not in _WINDOW_TYPES:
        raise TransformationError(
            f"unsupported windowType '{window_type}' (supported: {sorted(_WINDOW_TYPES)})"
        )
    if not aggregations:
        raise TransformationError("windowing requires at least one AggregateExpr")
    if wt == "sliding":
        if not slide_duration:
            raise TransformationError("sliding window requires slideDuration")
        win = F.window(F.col(time_column), window_duration, slide_duration)
    elif wt == "session":
        win = F.session_window(F.col(time_column), window_duration)
    else:
        win = F.window(F.col(time_column), window_duration)
    keys = [win.alias("window")] + [F.col(c) for c in (group_by or [])]
    aggs = [_agg_column(a) for a in aggregations]
    return df.groupBy(*keys).agg(*aggs)


def rank_rows(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[str],
    rank_function: str = "row_number",
    top_k: int | None = None,
    rank_alias: str = "rank",
) -> DataFrame:
    """Analytic ranking over ``Window.partitionBy(...).orderBy(...)`` with
    optional top-k filter (parity:
    ``benchmark/QueryPlanAnalysisSpec.scala:314-339``).

    ``order_by`` entries accept SQL expressions incl. ``DESC``. With
    ``top_k``, Spark ≥3.5 rewrites the plan into a WindowGroupLimit
    (top-k per partition pushed below the shuffle) — no full sort of the
    100 TB input, each partition keeps k rows before exchanging.
    """
    rank_fns = {"row_number": F.row_number, "rank": F.rank, "dense_rank": F.dense_rank}
    fn = rank_fns.get(rank_function.lower())
    if fn is None:
        raise TransformationError(
            f"unsupported rank function '{rank_function}' (supported: {sorted(rank_fns)})"
        )
    def order_col(entry: str):
        expr, _, direction = entry.strip().rpartition(" ")
        if direction.upper() == "DESC" and expr:
            return F.expr(expr).desc()
        if direction.upper() == "ASC" and expr:
            return F.expr(expr).asc()
        return F.expr(entry.strip())

    spec = Window.partitionBy(*[F.col(c) for c in partition_by]).orderBy(
        *[order_col(e) for e in order_by]
    )
    out = df.withColumn(rank_alias, fn().over(spec))
    if top_k is not None:
        out = out.filter(F.col(rank_alias) <= top_k)
    return out


_SET_OPS = {"union", "intersect", "except"}


def set_op(
    df: DataFrame,
    spark: SparkSession,
    right_table: str,
    op: str = "union",
    distinct: bool = True,
) -> DataFrame:
    """Set operators over a named temp view (SURVEY §2.7 extension —
    absent from the reference surface, free from Spark).

    ``union`` resolves by column NAME (``unionByName``) so reordered
    schemas don't silently mis-zip; ``distinct=False`` gives UNION ALL
    semantics (no dedup shuffle — prefer it at scale when inputs are
    disjoint by construction).
    """
    o = op.lower()
    if o not in _SET_OPS:
        raise TransformationError(f"unsupported set op '{op}' (supported: {sorted(_SET_OPS)})")
    right = spark.table(right_table)
    if o == "union":
        out = df.unionByName(right)
        return out.distinct() if distinct else out
    if o == "intersect":
        return df.intersect(right)
    return df.exceptAll(right) if not distinct else df.subtract(right)


def sort_limit(
    df: DataFrame,
    order_by: list[str],
    limit: int | None = None,
) -> DataFrame:
    """Global sort with optional limit (SURVEY §2.7 extension). With a
    limit, Spark plans TakeOrderedAndProject — per-partition top-k and a
    driver merge of k rows, never a full global sort of the input."""
    if not order_by:
        raise TransformationError("sort requires at least one orderBy entry")

    def order_col(entry: str):
        expr, _, direction = entry.strip().rpartition(" ")
        if direction.upper() == "DESC" and expr:
            return F.expr(expr).desc()
        if direction.upper() == "ASC" and expr:
            return F.expr(expr).asc()
        return F.expr(entry.strip())

    out = df.orderBy(*[order_col(e) for e in order_by])
    return out.limit(limit) if limit is not None else out


def distinct_rows(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """DISTINCT projection (optionally over a column subset). The
    shuffle carries only the selected columns."""
    return (df.select(*columns) if columns else df).distinct()


def sample_rows(df: DataFrame, fraction: float, seed: int = 42) -> DataFrame:
    """Bernoulli sample — partition-local, no shuffle; seeded for
    reproducibility within Spark (cross-engine reproducibility is not a
    goal; the driver records a rows-only check)."""
    if not (0.0 < fraction <= 1.0):
        raise TransformationError("sample fraction must be in (0, 1]")
    return df.sample(fraction=fraction, seed=seed)


def stratified_sample(
    df: DataFrame,
    strata_column: str,
    fractions: dict[str, float],
    default_fraction: float | None = None,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum Bernoulli sample (``sampleBy``) — the corpus-mixing
    primitive ("keep 100% of books, 5% of crawl"). Partition-local, no
    shuffle; strata not listed keep ``default_fraction`` (or drop when
    None). ``fractions`` values are validated in [0, 1].
    """
    for k, v in fractions.items():
        if not (0.0 <= v <= 1.0):
            raise TransformationError(f"fraction for stratum '{k}' must be in [0, 1]")
    if default_fraction is not None and not (0.0 <= default_fraction <= 1.0):
        raise TransformationError("defaultFraction must be in [0, 1]")
    col = F.col(strata_column)
    if default_fraction is None:
        return df.sampleBy(col, fractions, seed=seed)
    # sampleBy drops unlisted strata; route them through the default by
    # materializing the full fraction map per distinct stratum is a scan —
    # instead do it closed-form: rand() < fraction chosen by stratum
    frac_expr = F.lit(default_fraction)
    for k, v in fractions.items():
        frac_expr = F.when(col == k, F.lit(v)).otherwise(frac_expr)
    return df.filter(F.rand(seed) < frac_expr)


def hash_split(
    df: DataFrame,
    key_column: str,
    splits: list[tuple[str, float]],
    out_col: str = "split",
    salt: str = "",
    keep: str | None = None,
) -> DataFrame:
    """Deterministic train/val/test assignment by content hash — the
    reproducible alternative to ``rand()`` splits: the same key lands in
    the same split on every run, on any engine, at any scale, and new
    rows never move existing rows between splits.

    Mechanics: the first 8 hex chars of ``md5('split:' || key || salt)``
    are compared against cumulative-weight thresholds expressed as
    8-char hex strings (lexicographic compare == numeric compare at
    fixed width), so the assignment is a pure Catalyst CASE chain — no
    UDF, no shuffle, and bit-identical in any engine with a standard md5
    (the DuckDB oracle runs the same expression). ``salt`` reshuffles
    assignments without touching the data; ``keep`` filters to one split
    (the common "materialize the training corpus" shape, still one
    scan). The ``split:`` domain tag keeps this hash independent of
    ``hash_sample``/``cap_per_group`` over the same key — shared raw
    ``md5(key)`` across stages correlates their selections (a sampled
    or capped corpus would feed only low-md5 keys in, emptying the
    later splits).

    Weights are normalized; the last split takes the residue so the
    thresholds always cover [0, 1).
    """
    if not splits:
        raise TransformationError("hash_split requires at least one split")
    total = sum(w for _, w in splits)
    if total <= 0 or any(w < 0 for _, w in splits):
        raise TransformationError("split weights must be >= 0 with a positive sum")
    names = [n for n, _ in splits]
    if keep is not None and keep not in names:
        raise TransformationError(f"keep must be one of the split names: {keep}")
    bucket = F.substring(
        F.md5(F.concat(F.lit("split:"), F.col(key_column).cast("string"), F.lit(salt))), 1, 8
    )
    expr: Column | None = None
    cum = 0.0
    for name, weight in splits[:-1]:
        cum += weight / total
        threshold = format(min(int(cum * 16**8), 16**8 - 1), "08x")
        cond = bucket < F.lit(threshold)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    assigned = last if expr is None else expr.otherwise(last)
    out = df.withColumn(out_col, assigned)
    return out.filter(F.col(out_col) == keep) if keep is not None else out


def broadcast_group_join(df, small, group_by, how: str = "left"):
    """Null-safe broadcast join of a #groups-row table back onto the
    frame. A plain ``on=group_by`` equi-join silently DROPS rows whose
    group key is NULL — but a NULL group (the unmatched side of an
    upstream left join, an "unknown" bucket) is a legitimate group
    that the aggregation produced a row for; ``<=>`` keeps those rows
    attached. EqualNullSafe is a hashable join key, so the plan is
    still a BroadcastHashJoin."""
    if not group_by:
        return df.crossJoin(F.broadcast(small))
    renamed = small
    for c in group_by:
        renamed = renamed.withColumnRenamed(c, f"__bg_{c}")
    cond = None
    for c in group_by:
        e = F.col(c).eqNullSafe(F.col(f"__bg_{c}"))
        cond = e if cond is None else cond & e
    return df.join(F.broadcast(renamed), cond, how).drop(
        *[f"__bg_{c}" for c in group_by]
    )


_SALTABLE = {"sum", "count", "min", "max"}


def salted_aggregate(
    df: DataFrame,
    group_by: list[str],
    aggregations: list[AggregateExpr],
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-tolerant two-phase aggregation: groupBy(keys + salt) partial
    → groupBy(keys) merge.

    A pathological hot key (one group holding 10% of 100 TB) overflows
    the single reducer that owns it under plain hash aggregation; the
    salt splits that group across ``salt_buckets`` reducers, and the
    second phase merges ``salt_buckets`` pre-aggregated rows per key —
    results identical to the unsalted plan for algebraic functions
    (sum/count/min/max; avg decomposes to sum+count here). AQE's skew
    handling covers joins; this is the aggregation-side counterpart.
    """
    for spec in aggregations:
        if spec.function.lower() not in _SALTABLE | {"avg"}:
            raise TransformationError(
                f"salted_aggregate supports {sorted(_SALTABLE | {'avg'})}, "
                f"got '{spec.function}'"
            )
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))
    salted = df.withColumn("__salt", salt)

    phase1: list = []
    phase2: list = []
    for i, spec in enumerate(aggregations):
        fn = spec.function.lower()
        col = F.lit(1) if spec.column == "*" else F.col(spec.column)
        if fn == "count":
            phase1.append(F.count(col).alias(f"__p{i}"))
            phase2.append(F.sum(f"__p{i}").cast("long").alias(spec.alias))
        elif fn == "sum":
            phase1.append(F.sum(col).alias(f"__p{i}"))
            phase2.append(F.sum(f"__p{i}").alias(spec.alias))
        elif fn == "min":
            phase1.append(F.min(col).alias(f"__p{i}"))
            phase2.append(F.min(f"__p{i}").alias(spec.alias))
        elif fn == "max":
            phase1.append(F.max(col).alias(f"__p{i}"))
            phase2.append(F.max(f"__p{i}").alias(spec.alias))
        else:  # avg = sum / count, merged exactly
            phase1.append(F.sum(col).alias(f"__p{i}s"))
            phase1.append(F.count(col).alias(f"__p{i}c"))
            phase2.append(
                (F.sum(f"__p{i}s") / F.sum(f"__p{i}c")).alias(spec.alias)
            )
    keys = [F.col(c) for c in group_by]
    return (
        salted.groupBy(*keys, F.col("__salt"))
        .agg(*phase1)
        .groupBy(*[F.col(c) for c in group_by])
        .agg(*phase2)
    )


def _order_col(entry: str):
    """Parse one orderBy entry — a SQL expression with an optional
    trailing ASC/DESC direction."""
    expr, _, direction = entry.strip().rpartition(" ")
    if direction.upper() == "DESC" and expr:
        return F.expr(expr).desc()
    if direction.upper() == "ASC" and expr:
        return F.expr(expr).asc()
    return F.expr(entry.strip())


_RUNNING_FNS = {
    "running_sum": F.sum,
    "running_avg": F.avg,
    "running_min": F.min,
    "running_max": F.max,
    "running_count": F.count,
}


def analytic_columns(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[str],
    specs: list[tuple[str, str, list[str]]],
) -> DataFrame:
    """Ordered analytic window functions (SURVEY §2.6 extension beyond
    ranking): lag / lead / running aggregates / first_value / last_value /
    cume_dist / percent_rank / ntile.

    ``specs`` entries are ``(alias, function, args)``; running aggregates
    use a ``ROWS UNBOUNDED PRECEDING .. CURRENT ROW`` frame. All
    functions share ONE window spec, so the plan is a single sort within
    one ``hashpartitioning(partition_by)`` exchange — N analytic columns
    cost the same shuffle as one. At 100 TB the partition key must be
    present (an empty ``partition_by`` moves the whole input through a
    single task — same caveat Spark itself warns about); ``order_by``
    should be a total order per partition for deterministic lag/lead.
    """
    if not order_by:
        raise TransformationError("analytics requires 'orderBy'")
    if not specs:
        raise TransformationError("analytics requires at least one expression")
    spec = Window.partitionBy(*[F.col(c) for c in partition_by]).orderBy(
        *[_order_col(e) for e in order_by]
    )
    running = spec.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = df
    for alias, fn_name, args in specs:
        f = fn_name.lower()
        if f in ("lag", "lead"):
            if not args:
                raise TransformationError(f"{f} requires a column argument")
            offset = int(args[1]) if len(args) > 1 else 1
            fn = F.lag if f == "lag" else F.lead
            col = fn(F.expr(args[0]), offset).over(spec)
        elif f in _RUNNING_FNS:
            if not args:
                raise TransformationError(f"{f} requires a column argument")
            col = _RUNNING_FNS[f](F.expr(args[0])).over(running)
        elif f == "first_value":
            col = F.first(F.expr(args[0]), ignorenulls=False).over(running)
        elif f == "last_value":
            col = F.last(F.expr(args[0]), ignorenulls=False).over(running)
        elif f == "cume_dist":
            col = F.cume_dist().over(spec)
        elif f == "percent_rank":
            col = F.percent_rank().over(spec)
        elif f == "ntile":
            if not args:
                raise TransformationError("ntile requires a bucket-count argument")
            col = F.ntile(int(args[0])).over(spec)
        else:
            supported = sorted(
                {"lag", "lead", "first_value", "last_value", "cume_dist",
                 "percent_rank", "ntile"} | set(_RUNNING_FNS)
            )
            raise TransformationError(
                f"unsupported analytic function '{fn_name}' (supported: {supported})"
            )
        out = out.withColumn(alias, col)
    return out


def rolling_time_aggregate(
    df: DataFrame,
    partition_by: list[str],
    time_column: str,
    window_seconds: int,
    aggregations: list[AggregateExpr],
) -> DataFrame:
    """Per-row trailing time-window aggregates (SURVEY §2.7 extension):
    for every row, aggregate over the SAME key's rows whose event time
    falls within the last ``window_seconds`` (inclusive) — "sum of this
    user's value over the trailing 10 minutes", the time-series shape
    neither bucketed windows (``window_aggregate``: one row per bucket)
    nor row-offset analytics (``analytic_columns``: row counts, not
    durations) express.

    Implementation: ``RANGE BETWEEN -window_seconds PRECEDING AND
    CURRENT ROW`` over epoch seconds. All aggregates share ONE window
    spec — a single sort inside a single ``hashpartitioning``
    exchange, same cost as one. RANGE frames key on the ORDER BY value
    itself, so rows with equal timestamps see each other symmetrically —
    the result is deterministic without any tiebreaker.

    100-TB note: state per task is the trailing window's rows for one
    key at a time (sort-based WindowExec) — bounded by key × window
    density, not corpus size; hot keys salt upstream like any window.
    """
    if not aggregations:
        raise TransformationError("rolling aggregate requires aggregations")
    if window_seconds <= 0:
        raise TransformationError("rolling aggregate requires window_seconds > 0")
    # exact integer microseconds — float epoch seconds would make the
    # frame boundary depend on double rounding for sub-second timestamps
    epoch = F.unix_micros(F.col(time_column).cast("timestamp"))
    spec = (
        Window.partitionBy(*[F.col(c) for c in partition_by])
        .orderBy(epoch)
        .rangeBetween(-int(window_seconds) * 1_000_000, 0)
    )
    out = df
    for a in aggregations:
        out = out.withColumn(a.alias, _agg_expr(a).over(spec))
    return out


def pivot_table(
    df: DataFrame,
    group_by: list[str],
    pivot_column: str,
    pivot_values: list[str],
    aggregations: list[AggregateExpr],
) -> DataFrame:
    """Pivot (long → wide) as conditional aggregation —
    ``agg(fn(when(pivot_col = v, x)) AS v, ...)`` per (value ×
    aggregation) cell (SURVEY §2.7 extension — absent from the reference
    surface).

    ``pivot_values`` is REQUIRED: explicit values mean no
    distinct-collect pre-pass over the pivot column and a static output
    schema — at 100 TB an inferred pivot is both an extra full scan and
    an unbounded-width schema hazard.

    Deliberately NOT ``RelationalGroupedDataset.pivot``: Spark plans
    that as TWO aggregations with TWO shuffles (groupBy(keys + pivot)
    then ``pivotfirst`` re-agg). Conditional aggregation is one
    partial+final hash aggregation with ONE shuffle on ``group_by`` —
    the shuffle carries |keys| × |values×aggs| pre-combined cells, and
    the plan is identical in shape to a plain groupBy.

    Column naming matches Spark's pivot convention: one aggregation →
    columns named by pivot value; N>1 → ``{value}_{alias}``.
    """
    if not group_by:
        raise TransformationError("pivot requires 'groupBy'")
    if not pivot_column:
        raise TransformationError("pivot requires 'pivotColumn'")
    if not pivot_values:
        raise TransformationError(
            "pivot requires explicit 'pivotValues' (inferred pivot values "
            "cost an extra full scan and an unbounded schema — declare them)"
        )
    if not aggregations:
        raise TransformationError("pivot requires at least one aggregation")
    pc = F.col(pivot_column).cast("string")
    multi = len(aggregations) > 1
    cells = []
    for value in pivot_values:
        cond = pc == F.lit(str(value))
        for spec in aggregations:
            fn_name = spec.function.lower()
            fn = _AGG_FUNCTIONS.get(fn_name)
            if fn is None:
                raise TransformationError(
                    f"unsupported aggregate function '{spec.function}' "
                    f"(supported: {sorted(_AGG_FUNCTIONS)})"
                )
            source = F.lit(1) if spec.column == "*" else F.col(spec.column)
            cell_in = F.when(cond, source)  # NULL outside the cell
            if fn_name in ("first", "last"):
                # default first/last would pick positional rows whose
                # cell value is NULL (non-matching) — skip those
                col = (F.first if fn_name == "first" else F.last)(
                    cell_in, ignorenulls=True
                )
            else:
                col = fn(cell_in)
            cells.append(col.alias(f"{value}_{spec.alias}" if multi else str(value)))
    return df.groupBy(*[F.col(c) for c in group_by]).agg(*cells)


# ---------------------------------------------------------------------------
# Transformer adapters (registry API — SURVEY §3.3 level (b))
# ---------------------------------------------------------------------------


def flatten_structs(
    df: DataFrame, separator: str = "_", max_depth: int = 10
) -> DataFrame:
    """Recursively lift nested struct fields to top-level columns named
    ``parent<sep>child`` — the standard normalization after reading
    nested JSON/avro so downstream SQL, joins, and sinks (JDBC has no
    structs) see a flat relation. Arrays and maps are left intact
    (explode them explicitly with the ``explode`` step — flattening
    must never multiply rows). Pure projection: zero shuffles, column
    pruning still reaches the scan for any subset of the flattened
    output. Name collisions get a numeric suffix rather than silently
    shadowing."""
    from pyspark.sql.types import StructType as _St

    if max_depth < 1:
        raise TransformationError("flatten max_depth must be >= 1")
    cols: list[Column] = []
    names: set[str] = set()

    def unique(name: str) -> str:
        if name not in names:
            names.add(name)
            return name
        i = 2
        while f"{name}{separator}{i}" in names:
            i += 1
        names.add(f"{name}{separator}{i}")
        return f"{name}{separator}{i}"

    def walk(prefix: str, qualified: str, dtype, depth: int) -> None:
        if isinstance(dtype, _St) and depth < max_depth:
            for f in dtype.fields:
                walk(f"{prefix}{separator}{f.name}", f"{qualified}.`{f.name}`",
                     f.dataType, depth + 1)
        else:
            cols.append(F.col(qualified).alias(unique(prefix)))

    for field in df.schema.fields:
        walk(field.name, f"`{field.name}`", field.dataType, 0)
    return df.select(*cols)


class FlattenTransformer(_BaseTransformer):
    """Registry adapter (``type: flatten``). Options: ``separator``
    (default ``_``), ``maxDepth``."""

    def validate(self, df: DataFrame, config) -> ValidationResult:
        try:
            if int(config.options.get("maxDepth", "10")) < 1:
                return ValidationResult.fail("maxDepth must be >= 1")
        except ValueError:
            return ValidationResult.fail("maxDepth must be an integer")
        return ValidationResult.ok()

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        return flatten_structs(
            df,
            separator=config.options.get("separator", "_"),
            max_depth=int(config.options.get("maxDepth", "10")),
        )


def quantile_filter(
    df: DataFrame,
    col: str,
    lower_q: float = 0.0,
    upper_q: float = 1.0,
    keep_nulls: bool = False,
) -> DataFrame:
    """Keep rows whose ``col`` lies inside the [lower_q, upper_q]
    quantile band — the standard percentile quality gate ("drop the
    bottom 10% by LM score, clip the top 1% by length"). Thresholds
    come from EXACT interpolated percentiles (``percentile``, the
    sort-based definition DuckDB's ``quantile_cont`` shares bit-for-
    bit — unlike ``approx_percentile``, whose sketch differs per
    engine), computed in ONE aggregation job (two scalars to the
    driver); the gate itself is a scan predicate, no shuffle of the
    data. At 100 TB prefer sampling or a histogram sketch for the
    threshold estimate if the exact global sort-aggregate is too heavy
    — then feed the thresholds to a plain ``filter``.
    """
    if not 0.0 <= lower_q <= upper_q <= 1.0:
        raise TransformationError(
            f"need 0 <= lower_q <= upper_q <= 1, got ({lower_q}, {upper_q})"
        )
    if col not in df.columns:
        raise TransformationError(f"quantile_filter column not in schema: {col}")
    row = df.agg(
        F.expr(f"percentile({col}, {lower_q!r})").alias("lo"),
        F.expr(f"percentile({col}, {upper_q!r})").alias("hi"),
    ).collect()[0]
    if row.lo is None:
        # all-null column: nothing is inside any band
        return df if keep_nulls else df.filter(F.col(col).isNotNull())
    cond = (F.col(col) >= F.lit(row.lo)) & (F.col(col) <= F.lit(row.hi))
    if keep_nulls:
        cond = cond | F.col(col).isNull()
    return df.filter(cond)


class QuantileFilterTransformer(_BaseTransformer):
    """Registry adapter (``type: quantile_filter``). Options:
    ``column``, ``lowerQuantile``, ``upperQuantile``, ``keepNulls``."""

    def validate(self, df: DataFrame, config) -> ValidationResult:
        errors = []
        opts = config.options
        if opts.get("column", "") not in df.columns:
            errors.append(f"column not in input schema: {opts.get('column')!r}")
        try:
            lo = float(opts.get("lowerQuantile", "0"))
            hi = float(opts.get("upperQuantile", "1"))
            if not 0.0 <= lo <= hi <= 1.0:
                errors.append("need 0 <= lowerQuantile <= upperQuantile <= 1")
        except ValueError:
            errors.append("lowerQuantile/upperQuantile must be numeric")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        opts = config.options
        return quantile_filter(
            df,
            opts["column"],
            lower_q=float(opts.get("lowerQuantile", "0")),
            upper_q=float(opts.get("upperQuantile", "1")),
            keep_nulls=opts.get("keepNulls", "").lower() in ("true", "1", "yes"),
        )


def sql_transform(
    df: DataFrame,
    spark: SparkSession,
    statement: str,
    input_view: str = "input",
) -> DataFrame:
    """Arbitrary Spark SQL over the pipeline's current frame: the input
    is registered under ``input_view`` (default ``input``) and the
    statement runs against it plus any ``views:``-registered tables —
    the escape hatch for shapes the typed transformers don't cover
    (CTEs, lateral views, grouping sets, window frames). Still fully
    declarative: the statement becomes part of the SAME Catalyst plan
    as the rest of the pipeline (pushdown/pruning/AQE all apply), so
    this is an expressiveness extension, not a perf trapdoor.

    The view registration is name-scoped to the session like any temp
    view; pick a distinctive ``inputView`` if a pipeline nests multiple
    SQL steps.
    """
    if not statement or not statement.strip():
        raise TransformationError("sql transform requires a non-empty 'statement'")
    df.createOrReplaceTempView(input_view)
    try:
        return spark.sql(statement)
    except Exception as exc:
        raise TransformationError(f"sql transform failed: {exc}") from exc


def _split_csv(value: str | None) -> list[str]:
    """Top-level-comma split so SQL expressions with function calls
    survive in orderBy/partitionBy/selectColumns (e.g.
    ``coalesce(a, b) DESC``)."""
    return [c.strip() for c in split_top_level(value or "") if c.strip()]


class FilterTransformer(_BaseTransformer):
    """Parity: ``transformer/FilterTransformer.scala:22-54``."""

    streamable = True

    def validate(self, df: DataFrame, config: TransformationConfig) -> ValidationResult:
        if not config.options.get("condition", "").strip():
            return ValidationResult.fail("filter requires 'condition'")
        return ValidationResult.ok()

    def _apply(self, df, config, ctx):
        return filter_rows(df, config.options["condition"])


class SqlTransformer(_BaseTransformer):
    """Registry adapter (``type: sql``). Options: ``statement``
    (required; reference the input as ``input`` or set ``inputView``)."""

    def validate(self, df: DataFrame, config: TransformationConfig) -> ValidationResult:
        if not config.options.get("statement", "").strip():
            return ValidationResult.fail("sql requires 'statement'")
        return ValidationResult.ok()

    def _apply(self, df, config, ctx):
        return sql_transform(
            df,
            ctx.spark,
            config.options["statement"],
            input_view=config.options.get("inputView", "input"),
        )


class MapTransformer(_BaseTransformer):
    """Parity: ``transformer/MapTransformer.scala:24-73``."""

    streamable = True

    def validate(self, df: DataFrame, config: TransformationConfig) -> ValidationResult:
        spec = config.options.get("expressions", "")
        if not spec.strip():
            return ValidationResult.fail("map requires 'expressions'")
        try:
            parse_map_expressions(spec)
        except TransformationError as e:
            return ValidationResult.fail(str(e))
        return ValidationResult.ok()

    def _apply(self, df, config, ctx):
        return map_columns(df, parse_map_expressions(config.options["expressions"]))


class AggregationTransformer(_BaseTransformer):
    """Parity: ``transformer/AggregationTransformer.scala:28-82``.

    Config validation against the input schema (referenced columns must
    exist, functions whitelisted) mirrors
    ``transformer/AggregationTransformer.scala:84-128``.
    """

    def validate(self, df: DataFrame, config: TransformationConfig) -> ValidationResult:
        errors = []
        if not config.aggregations:
            errors.append("aggregation requires 'aggregations'")
        cols = set(df.columns)
        for group_col in _split_csv(config.options.get("groupBy")):
            if group_col not in cols:
                errors.append(f"groupBy column not in input schema: {group_col}")
        for spec in config.aggregations:
            if spec.function.lower() not in _AGG_FUNCTIONS:
                errors.append(f"unsupported aggregate function: {spec.function}")
            # plain column names must exist; SQL expressions (the inline
            # YAML form allows e.g. sum(price * quantity)) are validated
            # by Catalyst at plan time
            if (
                spec.column != "*"
                and re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", spec.column)
                and spec.column not in cols
            ):
                errors.append(f"aggregate column not in input schema: {spec.column}")
        if config.options.get("groupingMode", "groupby").lower() not in _GROUPING_MODES:
            errors.append(f"unsupported groupingMode: {config.options['groupingMode']}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        # groupingSets YAML form: semicolon-separated csv lists, e.g.
        # "a,b; a; " (a trailing/empty segment = the grand-total set)
        gsets_raw = config.options.get("groupingSets")
        gsets = (
            [_split_csv(seg) for seg in gsets_raw.split(";")]
            if gsets_raw is not None
            else None
        )
        return aggregate(
            df,
            _split_csv(config.options.get("groupBy")),
            list(config.aggregations),
            grouping_mode=config.options.get("groupingMode", "groupby"),
            grouping_sets=gsets,
        )


class JoinTransformer(_BaseTransformer):
    """Parity: ``transformer/JoinTransformer.scala:31-95``; right side is
    a named temp view (default ``right_table``), plus the documented
    ``selectColumns`` projection and an explicit ``broadcast`` hint knob.

    Accepts the reference quickstart-YAML aliases too
    (``pipelines/quickstart-3-multi-source-join.yaml:24-27``):
    ``rightDataset`` for ``rightTable`` and ``joinKeys`` (same-named
    equi-key on both sides) for ``leftKey``/``rightKey``."""

    @staticmethod
    def _keys(opts: dict) -> tuple[str | None, str | None]:
        shared = (opts.get("joinKeys") or "").strip()
        return (
            opts.get("leftKey") or shared or None,
            opts.get("rightKey") or shared or None,
        )

    def validate(self, df: DataFrame, config: TransformationConfig) -> ValidationResult:
        errors = []
        opts = config.options
        left_key, right_key = self._keys(opts)
        if not left_key:
            errors.append("join requires 'leftKey' (or 'joinKeys')")
        if not right_key:
            errors.append("join requires 'rightKey' (or 'joinKeys')")
        jt = opts.get("joinType", "inner").lower()
        if jt not in _JOIN_TYPES:
            errors.append(f"unsupported joinType: {jt}")
        if left_key and left_key not in df.columns:
            errors.append(f"leftKey not in input schema: {left_key}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        left_key, right_key = self._keys(opts)
        return join_view(
            df,
            ctx.spark,
            right_table=opts.get("rightTable")
            or opts.get("rightDataset")
            or "right_table",
            left_key=left_key,
            right_key=right_key,
            join_type=opts.get("joinType", "inner"),
            select_columns=_split_csv(opts.get("selectColumns")) or None,
            broadcast_right=opts.get("broadcast", "").lower() in ("true", "1", "yes"),
            strategy=opts.get("strategy") or None,
            null_safe=opts.get("nullSafeEquality", "").lower() in ("true", "1", "yes"),
        )


class AsofJoinTransformer(_BaseTransformer):
    """Extension (``type: asof_join``): nearest-time join against a named
    temp view (see :func:`asof_join`). Options: ``rightTable``,
    ``leftKey``/``rightKey``, ``leftTime``/``rightTime``,
    ``rightValues`` (comma list), ``direction``
    (backward|forward|nearest), ``toleranceSeconds``."""

    def validate(self, df: DataFrame, config: TransformationConfig) -> ValidationResult:
        errors = []
        opts = config.options
        for req in ("rightTable", "leftKey", "rightKey", "leftTime", "rightTime"):
            if not opts.get(req):
                errors.append(f"asof_join requires '{req}'")
        if not _split_csv(opts.get("rightValues")):
            errors.append("asof_join requires 'rightValues'")
        if opts.get("direction", "backward") not in ("backward", "forward", "nearest"):
            errors.append(f"unsupported direction: {opts['direction']}")
        for col_opt in ("leftKey", "leftTime"):
            if opts.get(col_opt) and opts[col_opt] not in df.columns:
                errors.append(f"{col_opt} not in input schema: {opts[col_opt]}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        tol = opts.get("toleranceSeconds")
        salt = opts.get("saltBuckets")
        return asof_join(
            df,
            ctx.spark.table(opts["rightTable"]),
            left_key=opts["leftKey"],
            right_key=opts["rightKey"],
            left_time=opts["leftTime"],
            right_time=opts["rightTime"],
            right_values=_split_csv(opts.get("rightValues")),
            direction=opts.get("direction", "backward"),
            tolerance_seconds=float(tol) if tol else None,
            salt_buckets=int(salt) if salt else None,
        )


class RangeJoinTransformer(_BaseTransformer):
    """Extension (``type: range_join``): binned interval-containment join
    against a named temp view (see :func:`range_join_points`). Options:
    ``rightTable``, ``pointColumn``, ``lowerColumn``, ``upperColumn``,
    ``binSize``, ``broadcast``."""

    def validate(self, df: DataFrame, config: TransformationConfig) -> ValidationResult:
        errors = []
        opts = config.options
        for req in ("rightTable", "pointColumn", "lowerColumn", "upperColumn"):
            if not opts.get(req):
                errors.append(f"range_join requires '{req}'")
        try:
            if float(opts.get("binSize", "0")) <= 0:
                errors.append("range_join requires positive numeric 'binSize'")
        except ValueError:
            errors.append("range_join requires positive numeric 'binSize'")
        if opts.get("pointColumn") and opts["pointColumn"] not in df.columns:
            errors.append(f"pointColumn not in input schema: {opts['pointColumn']}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        return range_join_points(
            df,
            ctx.spark.table(opts["rightTable"]),
            point_col=opts["pointColumn"],
            lower_col=opts["lowerColumn"],
            upper_col=opts["upperColumn"],
            bin_size=float(opts["binSize"]),
            broadcast_right=opts.get("broadcast", "").lower() in ("true", "1", "yes"),
        )


class IntervalJoinTransformer(_BaseTransformer):
    """Extension (``type: interval_join``): binned interval-OVERLAP join
    against a named temp view (see :func:`interval_overlap_join`).
    Options: ``rightTable``, ``leftLower``/``leftUpper``,
    ``rightLower``/``rightUpper``, ``binSize``, ``keys`` (csv),
    ``minOverlap``, ``broadcast``."""

    def validate(self, df: DataFrame, config: TransformationConfig) -> ValidationResult:
        errors = []
        opts = config.options
        for req in ("rightTable", "leftLower", "leftUpper",
                    "rightLower", "rightUpper"):
            if not opts.get(req):
                errors.append(f"interval_join requires '{req}'")
        try:
            if float(opts.get("binSize", "0")) <= 0:
                errors.append("interval_join requires positive numeric 'binSize'")
        except ValueError:
            errors.append("interval_join requires positive numeric 'binSize'")
        try:
            if float(opts.get("minOverlap", 0.0)) < 0:
                errors.append("interval_join 'minOverlap' must be >= 0")
        except (TypeError, ValueError):
            errors.append("interval_join 'minOverlap' must be numeric")
        for key in ("leftLower", "leftUpper"):
            c = opts.get(key)
            if c and c not in df.columns:
                errors.append(f"{key} not in input schema: {c}")
        for k in _split_csv(opts.get("keys")):
            if k not in df.columns:
                errors.append(f"key not in input schema: {k}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        return interval_overlap_join(
            df,
            ctx.spark.table(opts["rightTable"]),
            left_lower=opts["leftLower"],
            left_upper=opts["leftUpper"],
            right_lower=opts["rightLower"],
            right_upper=opts["rightUpper"],
            bin_size=float(opts["binSize"]),
            keys=_split_csv(opts.get("keys")) or None,
            min_overlap=float(opts.get("minOverlap", 0.0)),
            broadcast_right=opts.get("broadcast", "").lower() in ("true", "1", "yes"),
        )


class WindowingTransformer(_BaseTransformer):
    """Parity: ``transformer/WindowingTransformer.scala:28-99``; accepts
    both ``timeColumn`` (code) and ``timestampColumn`` (shipped YAML)
    spellings (SURVEY §2.3). A stream is windowed behind a
    ``watermarkDelay`` watermark (default 10 minutes)."""

    streamable = True

    def validate(self, df: DataFrame, config: TransformationConfig) -> ValidationResult:
        errors = []
        opts = config.options
        wt = opts.get("windowType", "tumbling").lower()
        if wt not in _WINDOW_TYPES:
            errors.append(f"unsupported windowType: {wt}")
        tc = opts.get("timeColumn") or opts.get("timestampColumn")
        if not tc:
            errors.append("windowing requires 'timeColumn'")
        elif tc not in df.columns:
            errors.append(f"timeColumn not in input schema: {tc}")
        if not opts.get("windowDuration"):
            errors.append("windowing requires 'windowDuration'")
        if wt == "sliding" and not opts.get("slideDuration"):
            errors.append("sliding window requires 'slideDuration'")
        if wt == "tumbling" and opts.get("slideDuration"):
            errors.append(
                "a tumbling window does not slide: drop 'slideDuration' or write "
                "'windowType: sliding'"
            )
        if not config.aggregations:
            errors.append("windowing requires 'aggregations'")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        args = dict(
            time_column=opts.get("timeColumn") or opts["timestampColumn"],
            window_duration=opts["windowDuration"],
            aggregations=list(config.aggregations),
            window_type=opts.get("windowType", "tumbling"),
            slide_duration=opts.get("slideDuration"),
            group_by=_split_csv(opts.get("groupBy")) or None,
        )
        if not df.isStreaming:
            return window_aggregate(df, **args)
        from etl_spark_gradle_spark import streaming

        agg = streaming.windowed_stream_agg(
            df, watermark_delay=opts.get("watermarkDelay", "10 minutes"), **args
        )
        return streaming._flatten_window(agg)


class SetOpTransformer(_BaseTransformer):
    """Extension (``type: setop``): union/intersect/except against a
    named temp view; ``distinct: false`` = ALL semantics."""

    def validate(self, df: DataFrame, config: TransformationConfig) -> ValidationResult:
        errors = []
        if config.options.get("op", "union").lower() not in _SET_OPS:
            errors.append(f"unsupported set op: {config.options.get('op')}")
        if not config.options.get("rightTable"):
            errors.append("setop requires 'rightTable'")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        return set_op(
            df,
            ctx.spark,
            right_table=opts["rightTable"],
            op=opts.get("op", "union"),
            distinct=opts.get("distinct", "true").lower() not in ("false", "0", "no"),
        )


class SortTransformer(_BaseTransformer):
    """Extension (``type: sort``): global orderBy + optional limit
    (TakeOrderedAndProject when limited)."""

    def validate(self, df: DataFrame, config: TransformationConfig) -> ValidationResult:
        if not _split_csv(config.options.get("orderBy")):
            return ValidationResult.fail("sort requires 'orderBy'")
        return ValidationResult.ok()

    def _apply(self, df, config, ctx):
        opts = config.options
        limit = opts.get("limit")
        return sort_limit(
            df, _split_csv(opts.get("orderBy")), int(limit) if limit else None
        )


class DistinctTransformer(_BaseTransformer):
    """Extension (``type: distinct``): DISTINCT over all or selected
    columns."""

    def validate(self, df: DataFrame, config: TransformationConfig) -> ValidationResult:
        cols = _split_csv(config.options.get("columns"))
        missing = [c for c in cols if c not in df.columns]
        if missing:
            return ValidationResult.fail(*[f"column not in input schema: {c}" for c in missing])
        return ValidationResult.ok()

    def _apply(self, df, config, ctx):
        return distinct_rows(df, _split_csv(config.options.get("columns")) or None)


class SampleTransformer(_BaseTransformer):
    """Extension (``type: sample``): seeded Bernoulli sample; with
    ``strataColumn`` + ``fractions: "books:1.0,crawl:0.05"`` a
    per-stratum (corpus-mixing) sample, optional ``defaultFraction``
    for unlisted strata."""

    def validate(self, df: DataFrame, config: TransformationConfig) -> ValidationResult:
        opts = config.options
        if opts.get("strataColumn"):
            if opts["strataColumn"] not in df.columns:
                return ValidationResult.fail(
                    f"strataColumn not in input schema: {opts['strataColumn']}"
                )
            try:
                fr = dict(
                    (p.partition(":")[0].strip(), float(p.partition(":")[2]))
                    for p in split_top_level(opts.get("fractions", ""))
                    if p.strip()
                )
            except ValueError:
                return ValidationResult.fail("fractions must be 'stratum:float' pairs")
            if not fr:
                return ValidationResult.fail(
                    "stratified sample requires 'fractions' pairs"
                )
            return ValidationResult.ok()
        try:
            fraction = float(opts.get("fraction", ""))
        except ValueError:
            return ValidationResult.fail("sample requires numeric 'fraction'")
        if not (0.0 < fraction <= 1.0):
            return ValidationResult.fail("sample fraction must be in (0, 1]")
        return ValidationResult.ok()

    def _apply(self, df, config, ctx):
        opts = config.options
        if opts.get("strataColumn"):
            fractions = {
                p.partition(":")[0].strip(): float(p.partition(":")[2])
                for p in split_top_level(opts.get("fractions", ""))
                if p.strip()
            }
            default = opts.get("defaultFraction")
            return stratified_sample(
                df,
                strata_column=opts["strataColumn"],
                fractions=fractions,
                default_fraction=float(default) if default is not None else None,
                seed=int(opts.get("seed", "42")),
            )
        return sample_rows(
            df,
            float(opts["fraction"]),
            int(opts.get("seed", "42")),
        )


class SplitTransformer(_BaseTransformer):
    """Extension (``type: split``): deterministic hash-based
    train/val/test assignment (see :func:`hash_split`). Options:
    ``keyColumn``, ``splits: "train:0.8,val:0.1,test:0.1"``, optional
    ``outputColumn`` (default ``split``), ``salt``, and ``keep: train``
    to filter to one split."""

    @staticmethod
    def _parse_splits(spec: str) -> list[tuple[str, float]]:
        out = []
        for part in split_top_level(spec):
            if not part.strip():
                continue
            name, _, weight = part.partition(":")
            out.append((name.strip(), float(weight)))
        return out

    def validate(self, df: DataFrame, config: TransformationConfig) -> ValidationResult:
        opts = config.options
        key = opts.get("keyColumn", "")
        if key not in df.columns:
            return ValidationResult.fail(f"keyColumn not in input schema: {key!r}")
        try:
            splits = self._parse_splits(opts.get("splits", ""))
        except ValueError:
            return ValidationResult.fail("splits must be 'name:weight' pairs")
        if not splits:
            return ValidationResult.fail("split requires 'splits' pairs")
        if sum(w for _, w in splits) <= 0 or any(w < 0 for _, w in splits):
            return ValidationResult.fail(
                "split weights must be >= 0 with a positive sum"
            )
        keep = opts.get("keep")
        if keep is not None and keep not in [n for n, _ in splits]:
            return ValidationResult.fail(f"keep must be a split name: {keep}")
        return ValidationResult.ok()

    def _apply(self, df, config, ctx):
        opts = config.options
        return hash_split(
            df,
            key_column=opts["keyColumn"],
            splits=self._parse_splits(opts["splits"]),
            out_col=opts.get("outputColumn", "split"),
            salt=opts.get("salt", ""),
            keep=opts.get("keep"),
        )


class SaltedAggregationTransformer(_BaseTransformer):
    """Extension (``type: salted_aggregation``): skew-tolerant two-phase
    aggregation (see :func:`salted_aggregate`)."""

    def validate(self, df: DataFrame, config: TransformationConfig) -> ValidationResult:
        errors = []
        if not config.aggregations:
            errors.append("salted_aggregation requires 'aggregations'")
        for spec in config.aggregations:
            if spec.function.lower() not in _SALTABLE | {"avg"}:
                errors.append(f"unsupported salted aggregate function: {spec.function}")
        for group_col in _split_csv(config.options.get("groupBy")):
            if group_col not in df.columns:
                errors.append(f"groupBy column not in input schema: {group_col}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        return salted_aggregate(
            df,
            _split_csv(config.options.get("groupBy")),
            list(config.aggregations),
            salt_buckets=int(config.options.get("saltBuckets", "16")),
        )


class RankingTransformer(_BaseTransformer):
    """Extension operator (capability demonstrated in
    ``benchmark/QueryPlanAnalysisSpec.scala:314-339``)."""

    def validate(self, df: DataFrame, config: TransformationConfig) -> ValidationResult:
        errors = []
        if not _split_csv(config.options.get("orderBy")):
            errors.append("ranking requires 'orderBy'")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        top_k = opts.get("topK")
        return rank_rows(
            df,
            partition_by=_split_csv(opts.get("partitionBy")),
            order_by=_split_csv(opts.get("orderBy")),
            rank_function=opts.get("rankFunction", "row_number"),
            top_k=int(top_k) if top_k else None,
            rank_alias=opts.get("alias", "rank"),
        )


def parse_analytic_specs(spec: str) -> list[tuple[str, str, list[str]]]:
    """Parse ``"alias:fn(arg1,arg2),alias2:fn2(...)"`` into
    ``(alias, function, args)`` triples; zero-arg functions may omit the
    parens (``pct:cume_dist``)."""
    triples: list[tuple[str, str, list[str]]] = []
    for part in split_top_level(spec or ""):
        if not part.strip():
            continue
        alias, sep, call = part.partition(":")
        if not sep or not alias.strip() or not call.strip():
            raise TransformationError(f"malformed analytics segment: {part!r}")
        call = call.strip()
        if "(" in call:
            fn, _, rest = call.partition("(")
            if not rest.rstrip().endswith(")"):
                raise TransformationError(f"malformed analytics call: {call!r}")
            args = [a.strip() for a in split_top_level(rest.rstrip()[:-1]) if a.strip()]
        else:
            fn, args = call, []
        triples.append((alias.strip(), fn.strip(), args))
    return triples


class AnalyticsTransformer(_BaseTransformer):
    """Ordered analytic window functions (extension; see
    ``analytic_columns``). Options: ``partitionBy``, ``orderBy``,
    ``expressions: "prev:lag(amount,1),run_total:running_sum(amount)"``."""

    def validate(self, df: DataFrame, config: TransformationConfig) -> ValidationResult:
        errors = []
        if not _split_csv(config.options.get("orderBy")):
            errors.append("analytics requires 'orderBy'")
        try:
            if not parse_analytic_specs(config.options.get("expressions", "")):
                errors.append("analytics requires 'expressions'")
        except TransformationError as exc:
            errors.append(str(exc))
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        return analytic_columns(
            df,
            partition_by=_split_csv(opts.get("partitionBy")),
            order_by=_split_csv(opts.get("orderBy")),
            specs=parse_analytic_specs(opts["expressions"]),
        )


class RollingTimeTransformer(_BaseTransformer):
    """Extension (``type: rolling_time``): trailing time-window
    aggregates (see :func:`rolling_time_aggregate`). Options:
    ``partitionBy``, ``timeColumn`` (or ``timestampColumn``),
    ``windowSeconds``, plus the shared ``aggregations`` list."""

    def validate(self, df: DataFrame, config: TransformationConfig) -> ValidationResult:
        errors = []
        opts = config.options
        tc = opts.get("timeColumn") or opts.get("timestampColumn")
        if not tc:
            errors.append("rolling_time requires 'timeColumn'")
        elif tc not in df.columns:
            errors.append(f"timeColumn not in input schema: {tc}")
        try:
            if int(opts.get("windowSeconds", "0")) <= 0:
                errors.append("rolling_time requires integer 'windowSeconds' > 0")
        except ValueError:
            errors.append("rolling_time requires integer 'windowSeconds' > 0")
        if not config.aggregations:
            errors.append("rolling_time requires 'aggregations'")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        return rolling_time_aggregate(
            df,
            partition_by=_split_csv(opts.get("partitionBy")),
            time_column=opts.get("timeColumn") or opts["timestampColumn"],
            window_seconds=int(opts["windowSeconds"]),
            aggregations=list(config.aggregations),
        )


class PivotTransformer(_BaseTransformer):
    """Pivot long → wide (extension; see ``pivot_table``). Options:
    ``groupBy``, ``pivotColumn``, ``pivotValues`` (explicit, required),
    plus the shared ``aggregations`` list."""

    def validate(self, df: DataFrame, config: TransformationConfig) -> ValidationResult:
        errors = []
        if not _split_csv(config.options.get("groupBy")):
            errors.append("pivot requires 'groupBy'")
        if not config.options.get("pivotColumn", "").strip():
            errors.append("pivot requires 'pivotColumn'")
        if not _split_csv(config.options.get("pivotValues")):
            errors.append("pivot requires explicit 'pivotValues'")
        if not config.aggregations:
            errors.append("pivot requires at least one aggregation")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        return pivot_table(
            df,
            group_by=_split_csv(opts.get("groupBy")),
            pivot_column=opts["pivotColumn"].strip(),
            pivot_values=_split_csv(opts.get("pivotValues")),
            aggregations=list(config.aggregations),
        )


def unpivot_columns(
    df: DataFrame,
    id_cols: list[str],
    value_cols: list[str],
    var_col: str = "variable",
    val_col: str = "value",
) -> DataFrame:
    """Wide→long reshape (melt): one output row per (input row ×
    value column), the inverse of :func:`pivot_table`. Wraps
    ``DataFrame.unpivot`` — a pure narrow Expand (rows × |value_cols|)
    with NO shuffle; at 100 TB the cost is the row multiplication
    itself, so project ``value_cols`` down to what the long format
    actually needs. Value columns must share a common type (Spark
    coerces or errors — same rule as SQL UNPIVOT)."""
    if not value_cols:
        raise TransformationError("unpivot requires value columns")
    for c in (*id_cols, *value_cols):
        if c not in df.columns:
            raise TransformationError(f"unpivot column not in input schema: {c}")
    return df.unpivot(
        [F.col(c) for c in id_cols],
        [F.col(c) for c in value_cols],
        var_col,
        val_col,
    )


class UnpivotTransformer(_BaseTransformer):
    """Extension (``type: unpivot``): wide→long melt. Options:
    ``idColumns`` (csv), ``valueColumns`` (csv, required),
    ``variableColumn``/``valueColumn`` output names."""

    def validate(self, df: DataFrame, config: TransformationConfig) -> ValidationResult:
        errors = []
        vals = _split_csv(config.options.get("valueColumns"))
        if not vals:
            errors.append("unpivot requires 'valueColumns'")
        for c in (*_split_csv(config.options.get("idColumns")), *vals):
            if c not in df.columns:
                errors.append(f"column not in input schema: {c}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        return unpivot_columns(
            df,
            _split_csv(opts.get("idColumns")),
            _split_csv(opts.get("valueColumns")),
            var_col=opts.get("variableColumn", "variable"),
            val_col=opts.get("valueColumn", "value"),
        )


def explode_column(
    df: DataFrame,
    expression: str,
    alias: str = "item",
    outer: bool = False,
    with_position: bool = False,
) -> DataFrame:
    """Flatten an array expression to one row per element (SURVEY §2.7
    extension; the row-explosion primitive of token/shingle/frame
    pipelines). ``outer`` keeps rows whose array is empty/NULL (element
    NULL); ``with_position`` adds a 0-based ``{alias}_pos`` column.

    Narrow (no shuffle): a Generate node inside the same stage. At
    100 TB explosion multiplies rows, not bytes-per-row — follow with a
    projection that drops the source array so downstream shuffles carry
    elements, not arrays.
    """
    if not expression or not expression.strip():
        raise TransformationError("explode requires an array 'expression'")
    if with_position:
        gen = F.posexplode_outer(F.expr(expression)) if outer else F.posexplode(
            F.expr(expression)
        )
        return df.select("*", gen.alias(f"{alias}_pos", alias))
    gen = F.explode_outer(F.expr(expression)) if outer else F.explode(F.expr(expression))
    return df.select("*", gen.alias(alias))


class ExplodeTransformer(_BaseTransformer):
    """Registry adapter for ``type: explode``. Options: ``expression``
    (array SQL expr), ``alias`` (default "item"), ``outer``,
    ``withPosition``."""

    def validate(self, df: DataFrame, config: TransformationConfig) -> ValidationResult:
        if not config.options.get("expression", "").strip():
            return ValidationResult.fail("explode requires 'expression'")
        return ValidationResult.ok()

    def _apply(self, df, config, ctx):
        opts = config.options
        return explode_column(
            df,
            expression=opts["expression"],
            alias=opts.get("alias", "item"),
            outer=str(opts.get("outer", "false")).lower() == "true",
            with_position=str(opts.get("withPosition", "false")).lower() == "true",
        )
