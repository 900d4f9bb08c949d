"""Time-series regularization: resample to a fixed grid + gap fill.

Beyond-reference analytics (the reference's windowing stops at
tumbling/sliding aggregation over OBSERVED rows —
``transformer/WindowingTransformer.scala:40-77``): monitoring,
forecasting-feature and sensor workloads need the COMPLETE grid — a row
for every (series, bucket) between the series' first and last
observation, with the empty buckets made explicit and then imputed
(zero / forward-fill / linear interpolation). Pandas calls this
``resample().asfreq()`` + ``ffill``/``interpolate``; SQL engines call
it a date spine. This module re-expresses it Spark-first:

1. **Bucket + aggregate** the raw table once —
   ``groupBy(keys, bucket)`` with map-side partial aggregation, the
   only pass over full-scale data.
2. **Spine without a driver loop**: per-series bounds (min/max bucket,
   a series-count-sized aggregate) → ``sequence(mn, mx, step)`` +
   ``explode`` — the grid is GENERATED distributed, never enumerated
   on the driver and never read from a calendar table.
3. **Left-join observed onto the spine** (grid-sized ⋈ bucket-sized —
   both keyed the same way; AQE picks broadcast when the grid is
   small).
4. **Fill** with window functions over grid-sized data: ``ffill`` =
   ``last(v, ignorenulls)`` over an unbounded-preceding row frame;
   ``linear`` finds the bracketing observations with the same
   last/first ignore-nulls trick in both directions and interpolates
   ``prev + (next - prev) * ((t - prev_t) / (next_t - prev_t))``
   (edge gaps — before the first or after the last observation —
   stay NULL, since there is nothing to bracket them; use ``ffill``
   when trailing imputation is wanted).

At 100 TB the raw table is touched exactly once (step 1); every later
stage is grid-sized (|series| × buckets-per-series), so the window
shuffles and the spine join are orders of magnitude below the scan.
The grid itself can still be large — a 1-second step over a year is
31.5M buckets *per series* — so ``step_seconds`` is the knob that
bounds output size, and the operator refuses non-positive steps.
Empty ``group_by`` produces ONE global series; the fill windows then
run in a single partition (documented, same caveat as global
``analytics``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_spark_gradle_spark.options import parse_bool
from etl_spark_gradle_spark.plans.config import AggregateExpr
from etl_spark_gradle_spark.operators.relational import (
    TransformationError,
    _BaseTransformer,
    _agg_column,
    _split_csv,
    broadcast_group_join,
)

__all__ = [
    "resample",
    "time_rollup",
    "TimeRollupTransformer",
    "merge_intervals",
    "cusum_changepoints",
    "acf",
    "ohlc_bars",
    "twap",
    "lag_features",
    "LagFeaturesTransformer",
    "rolling_zscore",
    "RollingZscoreTransformer",
    "ewma",
    "EwmaTransformer",
    "kaplan_meier",
    "aalen_johansen",
    "nelson_aalen",
    "KaplanMeierTransformer",
    "logrank_test",
    "cox_ph",
    "rmst",
    "AcfTransformer",
    "ResampleTransformer",
    "IntervalsTransformer",
    "CusumTransformer",
    "OhlcTransformer",
    "TwapTransformer",
]

_FILLS = {"null", "zero", "ffill", "linear"}


def _bucket_expr(time_col: str, step: int, origin: int) -> Column:
    # unix_timestamp truncates fractional seconds toward zero (epochs
    # here are positive, so truncate == floor — matching the oracle's
    # floor(epoch(ts))). The grid itself needs true FLOOR division:
    # `pmod` is non-negative for any sign of (sec - origin), so
    # `delta - pmod(delta, step)` is an exact integer floor-to-multiple
    # with no float boundary wobble at any epoch magnitude — an event
    # BEFORE `origin` (or pre-1970 data) still buckets to the grid cell
    # that starts at-or-before it, matching DuckDB's `//` floor division.
    sec = F.unix_timestamp(F.col(time_col))
    delta = (sec - F.lit(origin)).cast("long")
    return delta - F.pmod(delta, F.lit(step)) + F.lit(origin)


def resample(
    df: DataFrame,
    time_col: str,
    step_seconds: int,
    aggregations: list[AggregateExpr],
    group_by: list[str] | None = None,
    fill: str = "null",
    origin: int = 0,
) -> DataFrame:
    """Regularize a time series onto a fixed ``step_seconds`` grid.

    Returns one row per (``group_by``…, ``bucket_ts``) for EVERY bucket
    between each series' first and last observation. ``bucket_ts`` is
    epoch seconds (bigint — engine-portable, no timezone rendering).
    ``n_obs`` counts contributing raw rows (0 marks an imputed gap).
    Aggregate columns are filled per ``fill``:

    - ``null``: gaps stay NULL (``asfreq`` semantics),
    - ``zero``: gaps become 0 (count-like series),
    - ``ffill``: last observed value carries forward (leading gaps
      stay NULL),
    - ``linear``: linear interpolation between the bracketing
      observations, values cast to double (edge gaps stay NULL).
    """
    if step_seconds <= 0:
        raise TransformationError("resample requires step_seconds > 0")
    if fill not in _FILLS:
        raise TransformationError(
            f"unsupported fill '{fill}' (supported: {sorted(_FILLS)})"
        )
    if not aggregations:
        raise TransformationError("resample requires at least one AggregateExpr")
    if time_col not in df.columns:
        raise TransformationError(f"time column not in input schema: {time_col}")
    group_by = group_by or []
    for c in group_by:
        if c not in df.columns:
            raise TransformationError(f"group column not in input schema: {c}")
    value_cols = [a.alias for a in aggregations]
    step = int(step_seconds)

    # (1) one pass over the raw table: bucket + partial-agg groupBy
    observed = (
        df.withColumn("bucket_ts", _bucket_expr(time_col, step, int(origin)))
        .groupBy(*group_by, "bucket_ts")
        .agg(
            *[_agg_column(a) for a in aggregations],
            F.count(F.lit(1)).cast("long").alias("n_obs"),
        )
    )
    # (2) series-sized bounds -> distributed spine
    spine = (
        observed.groupBy(*group_by)
        .agg(F.min("bucket_ts").alias("_mn"), F.max("bucket_ts").alias("_mx"))
        .select(
            *group_by,
            F.explode(
                F.sequence(F.col("_mn"), F.col("_mx"), F.lit(step).cast("long"))
            ).alias("bucket_ts"),
        )
    )
    # (3) grid-sized left join; gaps surface as NULL value columns
    grid = spine.join(observed, on=group_by + ["bucket_ts"], how="left").withColumn(
        "n_obs", F.coalesce(F.col("n_obs"), F.lit(0).cast("long"))
    )

    if fill == "null":
        return grid
    if fill == "zero":
        out = grid
        for c, spec in zip(value_cols, aggregations):
            zero = F.lit(0).cast(dict(grid.dtypes)[c])
            out = out.withColumn(c, F.coalesce(F.col(c), zero))
        return out

    w_prev = (
        Window.partitionBy(*group_by)
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if fill == "ffill":
        out = grid
        for c in value_cols:
            out = out.withColumn(c, F.last(F.col(c), ignorenulls=True).over(w_prev))
        return out

    # linear: bracketing observation on each side via ignore-nulls
    # last/first; one shuffle by series keys covers both directions.
    w_next = (
        Window.partitionBy(*group_by)
        .orderBy("bucket_ts")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    t = F.col("bucket_ts").cast("double")
    out = grid
    for c in value_cols:
        v = F.col(c).cast("double")
        marked_t = F.when(F.col(c).isNotNull(), F.col("bucket_ts").cast("double"))
        prev_v = F.last(v, ignorenulls=True).over(w_prev)
        prev_t = F.last(marked_t, ignorenulls=True).over(w_prev)
        next_v = F.first(v, ignorenulls=True).over(w_next)
        next_t = F.first(marked_t, ignorenulls=True).over(w_next)
        # fixed operand order — the DuckDB oracle spells the identical
        # expression, so IEEE-754 results are bit-equal cross-engine
        interp = prev_v + (next_v - prev_v) * ((t - prev_t) / (next_t - prev_t))
        out = out.withColumn(
            c,
            F.when(F.col(c).isNotNull(), v)
            .when(prev_t.isNotNull() & next_t.isNotNull(), interp)
            .otherwise(F.lit(None).cast("double")),
        )
    return out


def rolling_median(
    df: DataFrame,
    partition_by: list[str],
    time_column: str,
    value_col: str,
    window_rows: int,
    out_col: str | None = None,
    tiebreak: list[str] | None = None,
    prob: float | None = None,
) -> DataFrame:
    """Per-row trailing EXACT rolling median (or rolling quantile) over
    the last ``window_rows`` observations of the same key — the robust
    sibling of :func:`~...relational.rolling_time_aggregate`'s
    sum/avg: the standard anomaly/trend baseline for heavy-tailed
    series (latency p50/p95 over the last N requests, spend baselines)
    where one spike poisons a rolling mean for the whole window.
    Spark has no built-in windowed median (``percentile_approx`` is a
    sketch and not cross-engine reproducible); this is the exact,
    hash-gateable form. Beyond-reference per SURVEY §2.7 (the
    reference's windowing is bucketed aggregation only,
    ``transformer/WindowingTransformer.scala:40-77``).

    ``prob=None`` → interpolated median of the two middle order
    statistics; ``prob=p`` → the type-1 lower quantile at ``p``
    (smallest value whose rank reaches ``ceil(p·n)``), e.g. a rolling
    p95.

    Exactness: values quantize to integer micro-units
    (``floor(decimal(27,6) · 1e6)`` — the cusum resolution posture) so
    the windowed order statistics are exact longs; the close is fixed
    IEEE order (``double(lo+hi) · 0.5 · 1e-6``), byte-identical in any
    engine spelling the same ops. NULL values are EXCLUDED from every
    window (the row still gets the median of its surviving
    neighbours); a window with no non-null values yields NULL.

    Ordering: rows windows need a TOTAL order — pass ``tiebreak``
    columns unless (keys, time) is known unique, or equal-timestamp
    rows make the window contents nondeterministic.

    Scale: one hash exchange on ``partition_by`` + sort, state per row
    = ``window_rows`` longs (the sorted array is per-row, bounded by
    the window width, NOT the partition) — safe at any corpus size
    for the window widths this is meant for (tens..thousands). Empty
    ``partition_by`` funnels the table through one task — fine for a
    single series, wrong for a corpus."""
    if window_rows <= 0:
        raise TransformationError("rolling_median requires window_rows > 0")
    if prob is not None and not 0.0 <= float(prob) <= 1.0:
        raise TransformationError(f"rolling_median prob out of [0, 1]: {prob}")
    for c in [time_column, value_col, *(partition_by or []), *(tiebreak or [])]:
        if c not in df.columns:
            raise TransformationError(
                f"rolling_median: column not in schema: {c}"
            )
    out = out_col or (
        f"{value_col}_rolling_median" if prob is None
        else f"{value_col}_rolling_q"
    )
    vq = F.floor(
        F.col(value_col).cast("decimal(27,6)") * F.lit(1_000_000)
    ).cast("long")
    epoch = F.unix_micros(F.col(time_column).cast("timestamp"))
    order = [epoch] + [F.col(c) for c in (tiebreak or [])]
    w = (
        Window.partitionBy(*[F.col(c) for c in (partition_by or [])])
        .orderBy(*order)
        .rowsBetween(-(int(window_rows) - 1), Window.currentRow)
    )
    # materialize the sorted window ONCE: referencing the window
    # expression directly from every order-statistic term makes Spark
    # plan one collect_list BUFFER per reference (measured 5 identical
    # buffers in the projection) — a separate column evaluates it once
    tmp = df.withColumn(
        "__rm_sorted", F.array_sort(F.collect_list(vq).over(w))
    )
    s = F.col("__rm_sorted")
    n = F.size(s)
    if prob is None:
        lo_i = ((n + F.lit(1)) / F.lit(2)).cast("int")
        hi_i = (n / F.lit(2)).cast("int") + F.lit(1)
        med = (
            (F.try_element_at(s, lo_i) + F.try_element_at(s, hi_i))
            .cast("double")
            * F.lit(0.5)
            * F.lit(1e-6)
        )
    else:
        rank = F.greatest(
            F.lit(1),
            F.ceil(F.lit(float(prob)) * n.cast("double")).cast("int"),
        )
        med = F.try_element_at(s, rank).cast("double") * F.lit(1e-6)
    return tmp.withColumn(out, F.when(n > 0, med)).drop("__rm_sorted")


def merge_intervals(
    df: DataFrame,
    start_col: str,
    end_col: str,
    group_by: list[str] | None = None,
    min_gap: int = 0,
) -> DataFrame:
    """Interval union (gaps-and-islands): merge overlapping or
    touching intervals per series into maximal covered "islands" — the
    batch complement of ``detect_gaps_stream`` (that operator finds
    the silences; this one finds the coverage). Sessions-with-
    duration, maintenance windows, sensor uptime, CDN busy periods:
    "how much wall-clock was covered, in how many contiguous runs?"

    Classic relational formulation, one shuffle: window per series
    ordered by (start, end); a row OPENS a new island when its start
    exceeds the running max of all previous ends (by more than
    ``min_gap``); island ids are the running sum of those open flags;
    one grid-sized groupBy closes each island. Intervals that merely
    TOUCH (``start == prev_end``, with ``min_gap`` 0) merge — [1,2]
    and [2,3] cover [1,3] with no hole.

    ``start_col``/``end_col`` may be numeric (``min_gap`` in the same
    unit) or timestamps (``min_gap`` in seconds). Output: group
    columns + ``island_start, island_end, n_intervals``. NULL starts
    or ends are dropped (an unbounded interval has no union
    semantics); rows with ``end < start`` are clamped to zero-length
    points at ``start`` — a pre-flight count to reject them would cost
    a full extra job at scale, so malformed rows degrade to the least
    surprising shape instead of extending an island backwards.

    At 100 TB: one hash shuffle on the series keys, window + groupBy
    reuse the same partitioning. Empty ``group_by`` = ONE global
    timeline in a single partition (documented, same caveat as the
    global ``resample``)."""
    for c in (start_col, end_col):
        if c not in df.columns:
            raise TransformationError(f"interval column not in input schema: {c}")
    group_by = group_by or []
    for c in group_by:
        if c not in df.columns:
            raise TransformationError(f"group column not in input schema: {c}")
    if int(min_gap) < 0:
        raise TransformationError("merge_intervals requires min_gap >= 0")

    s, e = F.col(start_col), F.col(end_col)
    is_ts = dict(df.dtypes)[start_col].startswith("timestamp")
    base = df.where(s.isNotNull() & e.isNotNull())
    # degenerate end<start rows: clamp so they never extend an island
    eff_end = F.when(e < s, s).otherwise(e)

    w_prev = (
        Window.partitionBy(*group_by)
        .orderBy(start_col, end_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max = F.max(eff_end).over(w_prev)
    if is_ts:
        threshold = prev_max + F.make_interval(secs=F.lit(int(min_gap)))
    else:
        threshold = prev_max + F.lit(int(min_gap))
    opens = F.when(prev_max.isNull() | (s > threshold), 1).otherwise(0)
    w_run = (
        Window.partitionBy(*group_by)
        .orderBy(start_col, end_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = base.withColumn("_island", F.sum(opens).over(w_run))
    return (
        marked.groupBy(*group_by, "_island")
        .agg(
            F.min(s).alias("island_start"),
            F.max(eff_end).alias("island_end"),
            F.count(F.lit(1)).cast("long").alias("n_intervals"),
        )
        .drop("_island")
    )


class IntervalsTransformer(_BaseTransformer):
    """Registry adapter (``type: intervals``). Options:
    ``startColumn``, ``endColumn`` (required), ``groupBy`` (csv,
    optional), ``minGap`` (int ≥ 0, default 0 — column units, or
    seconds for timestamps)."""

    def validate(self, df, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        for key in ("startColumn", "endColumn"):
            if not opts.get(key):
                errors.append(f"intervals requires '{key}'")
            elif opts[key] not in df.columns:
                errors.append(f"interval column not in input schema: {opts[key]}")
        try:
            if int(opts.get("minGap", 0)) < 0:
                errors.append("intervals requires integer 'minGap' >= 0")
        except (TypeError, ValueError):
            errors.append("intervals requires integer 'minGap' >= 0")
        for c in _split_csv(opts.get("groupBy")):
            if c not in df.columns:
                errors.append(f"group column not in input schema: {c}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        return merge_intervals(
            df,
            start_col=opts["startColumn"],
            end_col=opts["endColumn"],
            group_by=_split_csv(opts.get("groupBy")) or None,
            min_gap=int(opts.get("minGap", 0)),
        )


class ResampleTransformer(_BaseTransformer):
    """Registry adapter (``type: resample``). Options: ``timeColumn``,
    ``stepSeconds``, ``groupBy`` (csv, optional), ``fill``
    null|zero|ffill|linear (default null), ``origin`` (epoch seconds,
    default 0); plus the standard ``aggregations`` list."""

    def validate(self, df, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        if not opts.get("timeColumn"):
            errors.append("resample requires 'timeColumn'")
        elif opts["timeColumn"] not in df.columns:
            errors.append(f"time column not in input schema: {opts['timeColumn']}")
        try:
            if int(opts.get("stepSeconds", 0)) <= 0:
                errors.append("resample requires integer 'stepSeconds' > 0")
        except (TypeError, ValueError):
            errors.append("resample requires integer 'stepSeconds' > 0")
        if opts.get("fill", "null") not in _FILLS:
            errors.append(
                f"fill must be one of {sorted(_FILLS)}, got '{opts.get('fill')}'"
            )
        if not config.aggregations:
            errors.append("resample requires 'aggregations'")
        for c in _split_csv(opts.get("groupBy")):
            if c not in df.columns:
                errors.append(f"group column not in input schema: {c}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        return resample(
            df,
            time_col=opts["timeColumn"],
            step_seconds=int(opts["stepSeconds"]),
            aggregations=list(config.aggregations),
            group_by=_split_csv(opts.get("groupBy")) or None,
            fill=opts.get("fill", "null"),
            origin=int(opts.get("origin", 0)),
        )


class RollingMedianTransformer(_BaseTransformer):
    """Registry adapter (``type: rolling_median``). Options:
    ``timeColumn``, ``valueColumn``, ``windowRows`` (required),
    ``partitionBy`` (csv), ``tiebreak`` (csv), ``prob`` (float —
    type-1 rolling quantile instead of the interpolated median),
    ``outputColumn``."""

    def validate(self, df, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        for key in ("timeColumn", "valueColumn"):
            if not opts.get(key):
                errors.append(f"rolling_median requires '{key}'")
            elif opts[key] not in df.columns:
                errors.append(f"column not in input schema: {opts[key]}")
        try:
            if int(opts.get("windowRows", 0)) <= 0:
                errors.append("rolling_median requires integer 'windowRows' > 0")
        except (TypeError, ValueError):
            errors.append("rolling_median requires integer 'windowRows' > 0")
        if opts.get("prob") is not None:
            try:
                if not 0.0 <= float(opts["prob"]) <= 1.0:
                    errors.append("rolling_median prob must be in [0, 1]")
            except (TypeError, ValueError):
                errors.append("rolling_median prob must be a float in [0, 1]")
        for c in (
            *_split_csv(opts.get("partitionBy")),
            *_split_csv(opts.get("tiebreak")),
        ):
            if c not in df.columns:
                errors.append(f"column not in input schema: {c}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        return rolling_median(
            df,
            partition_by=_split_csv(opts.get("partitionBy")),
            time_column=opts["timeColumn"],
            value_col=opts["valueColumn"],
            window_rows=int(opts["windowRows"]),
            out_col=opts.get("outputColumn"),
            tiebreak=_split_csv(opts.get("tiebreak")) or None,
            prob=float(opts["prob"]) if opts.get("prob") is not None else None,
        )


def cusum_changepoints(
    df: DataFrame,
    value_col: str,
    time_col: str,
    threshold: float,
    series_by: list[str] | None = None,
    target: float | None = None,
    slack: float = 0.0,
    tiebreak_cols: list[str] | None = None,
    resolution: int = 6,
) -> DataFrame:
    """Tabular CUSUM change-point detection per series (Page 1954): the
    sequential complement to the two-sample drift family
    (``stats.ks_drift`` compares two FINISHED samples; CUSUM watches
    ONE ordered stream for the point where its mean shifts).

    Definition (both one-sided statistics, absolute units):
    ``s+_i = max(0, s+_{i-1} + (x_i - target - slack))`` and
    ``s-_i = max(0, s-_{i-1} + (target - x_i - slack))``; a row alarms
    when either exceeds ``threshold``. The recursion LOOKS inherently
    sequential, but the classic identity turns it into two window
    passes: with ``P_i`` the ordered prefix sum of the increments,
    ``s+_i = P_i - min(0, min_{j<=i} P_j)`` — a running sum and a
    running min over the SAME (series, time) sort, so the whole
    operator is ONE series-keyed shuffle with the sort reused by all
    four window columns. No recursion, no python, no iteration.

    Increments accumulate as EXACT INTEGERS in ``10^-resolution``
    units (``floor(d * 10^resolution)`` — floor of a double is a
    single deterministic IEEE op), the same posture as the integer
    PageRank: a float prefix sum is NOT reproducible even at fixed row
    order, because engines are free to reassociate window sums (DuckDB
    uses a segment tree, Spark accumulates sequentially — measured
    ~1e-12 divergence at 2k rows, which is enough to flip a
    hash-gated comparison or a threshold decision near the line). The
    quantization floor costs at most ``10^-resolution`` per increment
    and is applied identically everywhere; ``threshold`` is floored
    into the same units.

    ``target`` defaults to the per-series mean, computed as an EXACT
    decimal sum + string round-trip (the ``sum_exact`` posture —
    a plain float mean drifts with partition order and would make
    every downstream cusum value irreproducible). ``slack`` (the
    reference value k, typically 0.5σ) absorbs in-control wander;
    ``threshold`` (h, typically 4-5σ) sets the alarm line. Both are
    ABSOLUTE values here — compute σ upstream (``type: stats``) if
    sigma-relative tuning is wanted; keeping the operator free of an
    internal σ estimate is what keeps it bit-reproducible cross-engine.

    Rows with a NULL or NaN value or a NULL time are dropped (they can
    neither shift nor reset the statistic; filtering them beats
    silently poisoning every subsequent prefix — and pandas treats NaN
    as NA, so the streaming twin's parity depends on the batch side
    agreeing). A NULL series key is a legitimate series (the unmatched
    side of an upstream left join) and is monitored like any other.
    Ordering within a series must
    be total for reproducibility: ties on ``time_col`` break on
    ``tiebreak_cols`` (give a unique id column when times can repeat).

    Scale: the per-series window is the usual partitioned-window
    contract (a single giant series degrades to one task — bucket the
    series key upstream if that is the shape); the mean pass is one
    map-side-combined aggregation broadcast back at #series rows.
    """
    series_by = series_by or []
    for c in [value_col, time_col, *series_by, *(tiebreak_cols or [])]:
        if c not in df.columns:
            raise TransformationError(f"cusum: column not in input schema: {c}")
    if threshold is None or float(threshold) <= 0:
        raise TransformationError("cusum requires threshold > 0")
    if float(slack) < 0:
        raise TransformationError("cusum slack must be >= 0")
    if not 0 <= int(resolution) <= 9:
        raise TransformationError("cusum resolution must be in [0, 9]")
    reserved = {"_target", "_p_hi", "_p_lo", "cusum_pos", "cusum_neg", "alarm"}
    clash = reserved & set(df.columns)
    if clash:
        raise TransformationError(
            f"column names reserved by cusum: {sorted(clash)}"
        )

    v = F.col(value_col).cast("double")
    data = df.filter(
        F.col(value_col).isNotNull()
        & ~F.isnan(v)
        & F.col(time_col).isNotNull()
    )

    if target is None:
        mean_exact = (
            F.sum(v.cast("decimal(27,6)")).cast("string").cast("double")
            / F.count(v)
        ).alias("_target")
        stats = data.groupBy(*[F.col(c) for c in series_by]).agg(mean_exact)
        data = broadcast_group_join(data, stats, series_by)
        tgt = F.col("_target")
    else:
        tgt = F.lit(float(target))

    order = [F.col(time_col)] + [F.col(c) for c in (tiebreak_cols or [])]
    w = (
        Window.partitionBy(*[F.col(c) for c in series_by])
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scale = 10 ** int(resolution)
    d_hi = F.floor((v - tgt - F.lit(float(slack))) * scale).cast("long")
    d_lo = F.floor((tgt - v - F.lit(float(slack))) * scale).cast("long")
    thr_units = int(float(threshold) * scale)
    data = data.withColumn("_p_hi", F.sum(d_hi).over(w)).withColumn(
        "_p_lo", F.sum(d_lo).over(w)
    )
    # same partitioning + sort: the second Window rides the first's
    # exchange and ordering, no extra shuffle; integer state makes the
    # sums reassociation-proof
    s_hi = F.col("_p_hi") - F.least(F.min("_p_hi").over(w), F.lit(0).cast("long"))
    s_lo = F.col("_p_lo") - F.least(F.min("_p_lo").over(w), F.lit(0).cast("long"))
    out = (
        data.withColumn("cusum_pos", (s_hi.cast("double") / scale))
        .withColumn("cusum_neg", (s_lo.cast("double") / scale))
        .withColumn("alarm", (s_hi > thr_units) | (s_lo > thr_units))
        .drop("_p_hi", "_p_lo")
    )
    return out.drop("_target") if target is None else out


def acf(
    df: DataFrame,
    order_col: str,
    value_col: str,
    lags: list[int],
    group_by: list[str] | None = None,
    resolution: int = 6,
) -> DataFrame:
    """Per-series lag-k autocorrelation (ACF) — the seasonality /
    persistence profile of a metric series (does today's volume
    correlate with yesterday's? with the same weekday last week?).

    Semantics: for each lag k, Pearson correlation over the aligned
    overlapping pairs ``(x_t, x_{t-k})`` — pandas'
    ``Series.autocorr(k)``. All requested lags ride ONE series-keyed
    window shuffle (each lag is one more ``lag()`` over the same
    sorted frame, no extra exchange) and close in ONE aggregation
    (per-lag conditional exact-decimal moments; the shuffle carries
    one short row per series). Output long form:
    ``(group..., lag, n_pairs, acf_val)``; lags with < 2 pairs or a
    zero-variance side yield NULL.

    Exactness: values quantize to ``decimal(18,resolution)`` (the
    cusum posture) so Σx/Σx²/Σxy are exact; the close runs in fixed
    IEEE order through the string round-trip — cross-engine
    bit-identical. ``order_col`` must be unique per series (ties make
    ``lag()`` order-dependent; pre-aggregate to a grid first — see
    ``resample``).

    At 100 TB: the window shuffle is the unavoidable sort; everything
    after is per-row expressions plus a series-count-sized aggregate.
    """
    if not lags or any(int(k) < 1 for k in lags):
        raise TransformationError("acf requires lags >= 1")
    lags = [int(k) for k in lags]
    if len(set(lags)) != len(lags):
        raise TransformationError("acf lags must be distinct")
    if not 0 <= int(resolution) <= 9:
        raise TransformationError("acf resolution must be in [0, 9]")
    group_by = group_by or []
    for c in (order_col, value_col, *group_by):
        if c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")

    dec_t = f"decimal(18,{int(resolution)})"
    prod_t = f"decimal(38,{2 * int(resolution)})"
    w = Window.partitionBy(*group_by).orderBy("_o")
    base = df.where(F.col(order_col).isNotNull()).select(
        *group_by,
        F.col(order_col).alias("_o"),
        F.col(value_col).cast(dec_t).alias("_x"),
    )
    for k in lags:
        base = base.withColumn(f"_y{k}", F.lag("_x", k).over(w))

    aggs = []
    for k in lags:
        pair = F.col("_x").isNotNull() & F.col(f"_y{k}").isNotNull()
        x = F.when(pair, F.col("_x"))
        y = F.when(pair, F.col(f"_y{k}"))
        aggs += [
            F.count(F.when(pair, F.lit(1))).cast("long").alias(f"n_{k}"),
            F.sum(x).alias(f"sx_{k}"),
            F.sum(y).alias(f"sy_{k}"),
            F.sum((x * x).cast(prod_t)).alias(f"sxx_{k}"),
            F.sum((y * y).cast(prod_t)).alias(f"syy_{k}"),
            F.sum((x * y).cast(prod_t)).alias(f"sxy_{k}"),
        ]
    grouped = base.groupBy(*group_by) if group_by else base.groupBy()
    m = grouped.agg(*aggs)

    def _sd(c):
        return F.col(c).cast("string").cast("double")

    structs = []
    for k in lags:
        n = F.col(f"n_{k}").cast("double")
        sx, sy = _sd(f"sx_{k}"), _sd(f"sy_{k}")
        sxx, syy, sxy = _sd(f"sxx_{k}"), _sd(f"syy_{k}"), _sd(f"sxy_{k}")
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        cov = n * sxy - sx * sy
        r = F.when(
            (F.col(f"n_{k}") >= 2) & (vx > 0) & (vy > 0),
            cov / F.sqrt(vx * vy),
        )
        structs.append(
            F.struct(
                F.lit(k).cast("int").alias("lag"),
                F.col(f"n_{k}").alias("n_pairs"),
                r.alias("acf_val"),
            )
        )
    return m.select(
        *group_by, F.explode(F.array(*structs)).alias("_s")
    ).select(*group_by, "_s.lag", "_s.n_pairs", "_s.acf_val")


class AcfTransformer(_BaseTransformer):
    """Registry adapter (``type: acf``). Options: ``orderColumn``,
    ``valueColumn``, ``lags`` (csv of ints, required); ``groupBy``
    (csv), ``resolution`` (default 6)."""

    def validate(self, df, config):
        from etl_spark_gradle_spark.operators.relational import _split_csv
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        cols_needed = list(_split_csv(opts.get("groupBy")))
        for key in ("orderColumn", "valueColumn"):
            if not opts.get(key):
                errors.append(f"acf requires '{key}'")
            else:
                cols_needed.append(opts[key])
        try:
            lags = [int(k) for k in _split_csv(opts.get("lags"))]
            if not lags or any(k < 1 for k in lags) or len(set(lags)) != len(lags):
                errors.append("acf requires 'lags' (csv of distinct ints >= 1)")
        except ValueError:
            errors.append("acf requires 'lags' (csv of distinct ints >= 1)")
        try:
            if not 0 <= int(opts.get("resolution", 6)) <= 9:
                errors.append("acf resolution must be in [0, 9]")
        except ValueError:
            errors.append("acf resolution must be an integer")
        for c in cols_needed:
            if c not in df.columns:
                errors.append(f"column not in input schema: {c}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        from etl_spark_gradle_spark.operators.relational import _split_csv

        opts = config.options
        return acf(
            df,
            opts["orderColumn"],
            opts["valueColumn"],
            [int(k) for k in _split_csv(opts["lags"])],
            group_by=_split_csv(opts.get("groupBy")) or None,
            resolution=int(opts.get("resolution", 6)),
        )


class CusumTransformer(_BaseTransformer):
    """Registry adapter (``type: changepoint``). Options:
    ``valueColumn``, ``timeColumn``, ``threshold`` (required),
    ``seriesBy`` csv, ``target`` (default: exact per-series mean),
    ``slack`` (default 0), ``tiebreakColumns`` csv, ``resolution``
    (quantization decimal places, default 6)."""

    def validate(self, df, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        for key in ("valueColumn", "timeColumn"):
            if not opts.get(key):
                errors.append(f"changepoint requires '{key}'")
            elif opts[key] not in df.columns:
                errors.append(f"column not in input schema: {opts[key]}")
        try:
            if float(opts.get("threshold", 0)) <= 0:
                errors.append("changepoint requires threshold > 0")
        except (TypeError, ValueError):
            errors.append("changepoint threshold must be numeric")
        for num_key in ("target", "slack", "resolution"):
            if opts.get(num_key) is not None:
                try:
                    float(opts[num_key])
                except (TypeError, ValueError):
                    errors.append(f"changepoint {num_key} must be numeric")
        for c in _split_csv(opts.get("seriesBy")) + _split_csv(
            opts.get("tiebreakColumns")
        ):
            if c not in df.columns:
                errors.append(f"column not in input schema: {c}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        tgt = opts.get("target")
        return cusum_changepoints(
            df,
            value_col=opts["valueColumn"],
            time_col=opts["timeColumn"],
            threshold=float(opts["threshold"]),
            series_by=_split_csv(opts.get("seriesBy")) or None,
            target=float(tgt) if tgt is not None else None,
            slack=float(opts.get("slack", 0.0)),
            tiebreak_cols=_split_csv(opts.get("tiebreakColumns")) or None,
            resolution=int(opts.get("resolution", 6)),
        )


def time_rollup(
    df: DataFrame,
    time_col: str,
    value_cols: list[str],
    levels: list[int],
    group_by: list[str] | None = None,
    origin: int = 0,
    closed: bool = True,
) -> DataFrame:
    """Hierarchical time-bucket rollup — the hypertable / continuous-
    aggregate pattern (TimescaleDB continuous aggregates, Druid
    rollup): aggregate the raw table ONCE at the finest bucket level,
    then derive every coarser level by RE-AGGREGATING the next-finer
    bucket table, never re-reading the raw data. Exactness holds
    because each statistic kept is MERGEABLE — count and exact-decimal
    sum add, min/max fold — and because each level's step must divide
    the next (coarse buckets are exact unions of fine buckets).

    Output (stacked across levels): ``group_by…, level_seconds,
    bucket_ts`` (epoch-second bucket start, same floor arithmetic as
    :func:`resample`'s grid) and per value column ``<c>_cnt``,
    ``<c>_sum``, ``<c>_min``, ``<c>_max``, ``<c>_avg``. Sums
    accumulate in DECIMAL(38,6) (exact for the ≤6-decimal testdata
    contract) and close to double through the string round-trip;
    ``avg`` closes as ``double(sum)/double(cnt)`` in fixed operand
    order — cross-engine reproducible. Empty buckets don't appear
    (this is a rollup of observed data, not a gap-filled grid — use
    :func:`resample` for the spine).

    At 100 TB: one full scan + one ``groupBy(keys, fine_bucket)``
    shuffle with map-side partials; every coarser level shuffles only
    the previous BUCKET TABLE (a ~|buckets| frame, orders of magnitude
    below the data). The classic alternative — one groupBy per level
    over raw data — scans L times; this scans once.

    ``closed=False`` returns the MERGEABLE representation instead
    (``<c>_cnt`` long, ``<c>_sum`` DECIMAL(38,6), ``<c>_min``,
    ``<c>_max`` — no avg, no double closing): two mergeable frames
    over disjoint data union+re-aggregate to exactly the direct
    build over the union — the store format for
    :func:`~etl_spark_gradle_spark.streaming.stream_time_rollup`'s
    continuous maintenance.
    """
    group_by = group_by or []
    if not value_cols:
        raise TransformationError("time_rollup requires at least one value column")
    if time_col not in df.columns:
        raise TransformationError(f"time column not in input schema: {time_col}")
    for c in (*value_cols, *group_by):
        if c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")
    if not levels:
        raise TransformationError("time_rollup requires at least one level")
    steps = [int(s) for s in levels]
    if any(s <= 0 for s in steps):
        raise TransformationError("time_rollup levels must be positive seconds")
    if sorted(steps) != steps or len(set(steps)) != len(steps):
        raise TransformationError("time_rollup levels must be strictly ascending")
    for a, b in zip(steps, steps[1:]):
        if b % a != 0:
            raise TransformationError(
                f"each level must divide the next (got {a} -> {b}): coarse "
                "buckets must be exact unions of fine buckets for the "
                "rollup to be exact"
            )

    dec = "decimal(38,6)"

    def close(bucketed: DataFrame, step: int) -> DataFrame:
        cols = [F.col(c) for c in group_by]
        cols.append(F.lit(step).cast("long").alias("level_seconds"))
        cols.append(F.col("_rb").alias("bucket_ts"))
        for c in value_cols:
            cnt = F.col(f"_cnt_{c}")
            if not closed:
                cols += [
                    cnt.alias(f"{c}_cnt"),
                    F.col(f"_sum_{c}").alias(f"{c}_sum"),
                    F.col(f"_min_{c}").alias(f"{c}_min"),
                    F.col(f"_max_{c}").alias(f"{c}_max"),
                ]
                continue
            sum_d = F.col(f"_sum_{c}").cast("string").cast("double")
            cols += [
                cnt.alias(f"{c}_cnt"),
                F.when(cnt > 0, sum_d).alias(f"{c}_sum"),
                F.col(f"_min_{c}").alias(f"{c}_min"),
                F.col(f"_max_{c}").alias(f"{c}_max"),
                F.when(cnt > 0, sum_d / cnt.cast("double")).alias(f"{c}_avg"),
            ]
        return bucketed.select(*cols)

    fine = (
        df.groupBy(
            *[F.col(c) for c in group_by],
            _bucket_expr(time_col, steps[0], origin).alias("_rb"),
        )
        .agg(
            *[
                a
                for c in value_cols
                for a in (
                    F.count(F.col(c)).cast("long").alias(f"_cnt_{c}"),
                    F.sum(F.col(c).cast(dec)).cast(dec).alias(f"_sum_{c}"),
                    F.min(F.col(c)).alias(f"_min_{c}"),
                    F.max(F.col(c)).alias(f"_max_{c}"),
                )
            ]
        )
        # each level's bucket table is read by TWO lineages (its own
        # close() branch of the union and the next-coarser groupBy);
        # eager-pinning the (histogram-sized) table makes "raw data
        # scanned once" a plan property instead of an AQE
        # exchange-reuse hope (verified: unpinned, the final adaptive
        # plan still held one raw scan per level)
        .localCheckpoint(eager=False)
    )
    out = close(fine, steps[0])
    cur = fine
    for step in steps[1:]:
        b = F.col("_rb").cast("long")
        rb = (b - F.pmod(b - F.lit(origin), F.lit(step))).alias("_rb")
        cur = cur.groupBy(*[F.col(c) for c in group_by], rb).agg(
            *[
                a
                for c in value_cols
                for a in (
                    F.sum(f"_cnt_{c}").cast("long").alias(f"_cnt_{c}"),
                    F.sum(f"_sum_{c}").cast(dec).alias(f"_sum_{c}"),
                    F.min(f"_min_{c}").alias(f"_min_{c}"),
                    F.max(f"_max_{c}").alias(f"_max_{c}"),
                )
            ]
        ).localCheckpoint(eager=False)
        out = out.unionByName(close(cur, step))
    return out


class TimeRollupTransformer(_BaseTransformer):
    """Registry adapter (``type: time_rollup``). Options:
    ``timeColumn``, ``valueColumns`` (csv), ``levels`` (csv of
    ascending seconds, each dividing the next), ``groupBy`` (csv,
    optional), ``origin`` (epoch seconds, default 0)."""

    def validate(self, df, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        if not opts.get("timeColumn"):
            errors.append("time_rollup requires 'timeColumn'")
        elif opts["timeColumn"] not in df.columns:
            errors.append(f"time column not in input schema: {opts['timeColumn']}")
        vcols = _split_csv(opts.get("valueColumns"))
        if not vcols:
            errors.append("time_rollup requires 'valueColumns'")
        for c in vcols:
            if c not in df.columns:
                errors.append(f"value column not in input schema: {c}")
        try:
            steps = [int(s) for s in _split_csv(opts.get("levels"))]
            if not steps or any(s <= 0 for s in steps):
                errors.append("time_rollup requires positive integer 'levels'")
            elif sorted(steps) != steps or len(set(steps)) != len(steps):
                errors.append("time_rollup levels must be strictly ascending")
            else:
                for a, b in zip(steps, steps[1:]):
                    if b % a != 0:
                        errors.append(f"each level must divide the next ({a} -> {b})")
        except (TypeError, ValueError):
            errors.append("time_rollup requires integer csv 'levels'")
        for c in _split_csv(opts.get("groupBy")):
            if c not in df.columns:
                errors.append(f"group column not in input schema: {c}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        return time_rollup(
            df,
            time_col=opts["timeColumn"],
            value_cols=_split_csv(opts["valueColumns"]),
            levels=[int(s) for s in _split_csv(opts["levels"])],
            group_by=_split_csv(opts.get("groupBy")) or None,
            origin=int(opts.get("origin", 0)),
        )


def ohlc_bars(
    df: DataFrame,
    time_col: str,
    value_col: str,
    bucket_seconds: int,
    tiebreak_col: str,
    group_by: list[str] | None = None,
    origin: int = 0,
) -> DataFrame:
    """OHLC candlestick bars: per (series…, bucket) the Open (first
    value by time), High, Low, Close (last value by time) plus
    ``n_obs`` and an exact-decimal mean — the canonical market-data /
    metrics downsampling shape.

    Open/close come from ONE aggregation via lexicographic struct
    min/max over ``(epoch_micros, tiebreak, value)`` — both Spark and
    DuckDB compare structs field-by-field in declaration order, so the
    oracle replays the selection exactly; ``tiebreak_col`` is REQUIRED
    because simultaneous observations without a total order would make
    open/close nondeterministic. NULL values are excluded entirely
    (they carry no price); NULL timestamps have no bucket and drop.

    Plan at 100 TB: ONE map-side-combined groupBy on (series, bucket)
    — no windows, no joins, no second exchange. The struct min/max
    partials are constant-size per group, so the shuffle carries
    exactly one candle per (task, group)."""
    for c in (time_col, value_col, tiebreak_col):
        if c not in df.columns:
            raise TransformationError(
                f"ohlc column not in input schema: {c}"
            )
    if bucket_seconds <= 0:
        raise TransformationError("ohlc requires bucket_seconds > 0")
    group_by = group_by or []
    for c in group_by:
        if c not in df.columns:
            raise TransformationError(f"group column not in input schema: {c}")
    tn = F.unix_micros(F.col(time_col).cast("timestamp"))
    v = F.col(value_col).cast("double")
    base = df.where(
        F.col(time_col).isNotNull() & v.isNotNull()
    ).select(
        *group_by,
        _bucket_expr(time_col, int(bucket_seconds), int(origin)).alias(
            "bucket_ts"
        ),
        tn.alias("_tn"),
        F.col(tiebreak_col).alias("_tb"),
        v.alias("_v"),
    )
    key = F.struct(
        F.col("_tn").alias("t"), F.col("_tb").alias("b"),
        F.col("_v").alias("v"),
    )
    return base.groupBy(*group_by, "bucket_ts").agg(
        F.min(key)["v"].alias("open"),
        F.max("_v").alias("high"),
        F.min("_v").alias("low"),
        F.max(key)["v"].alias("close"),
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        (
            F.sum(F.col("_v").cast("decimal(18,6)"))
            .cast("string")
            .cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean"),
    )


def twap(
    df: DataFrame,
    time_col: str,
    value_col: str,
    group_by: list[str] | None = None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Time-weighted average (TWAP): per series, integrate the
    left-constant step function through its samples —
    ``Σ value_i · (t_{i+1} − t_i) / (t_N − t_0)`` — the correct mean
    for irregularly-sampled series, where the plain row mean
    over-weights bursts (the classic sensor/price-feed trap).

    Exactness: durations are exact integer epoch MICROS from a lead()
    window; values quantize to decimal(18,6), so every
    ``value·Δt`` product and the running sum are EXACT decimals under
    any partitioning (a float Σ would be partition-order dependent);
    the single closing division is the only float op. The last sample
    of each series bounds the integral (contributes no width —
    standard left-constant integration); series with one sample (zero
    total width) return NULL. NULL values/timestamps are dropped
    before pairing so the step function skips them.

    Plan at 100 TB: one series-keyed window shuffle for ``lead``
    (+ a required tiebreak when (series, time) can tie), then one
    map-side-combined aggregation. Output is series-count-sized."""
    for c in (time_col, value_col):
        if c not in df.columns:
            raise TransformationError(f"twap column not in input schema: {c}")
    group_by = group_by or []
    for c in group_by:
        if c not in df.columns:
            raise TransformationError(f"group column not in input schema: {c}")
    if tiebreak_col is not None and tiebreak_col not in df.columns:
        raise TransformationError(
            f"twap column not in input schema: {tiebreak_col}"
        )
    order = [F.col(time_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(*group_by).orderBy(*order)
    tn = F.unix_micros(F.col(time_col).cast("timestamp"))
    base = (
        df.where(
            F.col(time_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .select(
            *group_by,
            F.col(time_col),
            *( [F.col(tiebreak_col)] if tiebreak_col else [] ),
            tn.alias("_tn"),
            F.col(value_col).cast("decimal(18,6)").alias("_vq"),
        )
        .withColumn("_next", F.lead("_tn").over(w))
    )
    dt = F.col("_next") - F.col("_tn")
    agg = base.groupBy(*group_by).agg(
        F.sum(
            F.when(F.col("_next").isNotNull(), F.col("_vq") * dt)
        ).alias("_wsum"),
        F.sum(F.when(F.col("_next").isNotNull(), dt))
        .cast("long")
        .alias("_wtot"),
        F.count(F.lit(1)).cast("long").alias("n_obs"),
    )
    return agg.select(
        *group_by,
        "n_obs",
        F.col("_wtot").alias("span_micros"),
        F.when(
            F.col("_wtot") > 0,
            F.col("_wsum").cast("string").cast("double")
            / F.col("_wtot").cast("double"),
        ).alias("twap"),
    )


class OhlcTransformer(_BaseTransformer):
    """Registry adapter (``type: ohlc``). Options: ``timeColumn``,
    ``valueColumn``, ``tiebreakColumn`` (required), ``bucketSeconds``
    (required), ``groupBy`` csv, ``origin``."""

    def validate(self, df: DataFrame, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        for opt in ("timeColumn", "valueColumn", "tiebreakColumn"):
            col = config.options.get(opt)
            if not col:
                errors.append(f"ohlc requires '{opt}'")
            elif col not in df.columns:
                errors.append(f"{opt} not in input schema: {col}")
        try:
            if int(config.options.get("bucketSeconds", 0)) <= 0:
                errors.append("bucketSeconds must be a positive int")
        except (TypeError, ValueError):
            errors.append(
                f"bucketSeconds is not an int: {config.options['bucketSeconds']}"
            )
        for c in _split_csv(config.options.get("groupBy")):
            if c not in df.columns:
                errors.append(f"group column not in input schema: {c}")
        return (
            ValidationResult.ok()
            if not errors
            else ValidationResult.fail(*errors)
        )

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        opts = config.options
        return ohlc_bars(
            df,
            time_col=opts["timeColumn"],
            value_col=opts["valueColumn"],
            bucket_seconds=int(opts["bucketSeconds"]),
            tiebreak_col=opts["tiebreakColumn"],
            group_by=_split_csv(opts.get("groupBy")) or None,
            origin=int(opts.get("origin", 0)),
        )


class TwapTransformer(_BaseTransformer):
    """Registry adapter (``type: twap``). Options: ``timeColumn``,
    ``valueColumn`` (required), ``groupBy`` csv, ``tiebreakColumn``."""

    def validate(self, df: DataFrame, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        for opt in ("timeColumn", "valueColumn"):
            col = config.options.get(opt)
            if not col:
                errors.append(f"twap requires '{opt}'")
            elif col not in df.columns:
                errors.append(f"{opt} not in input schema: {col}")
        tb = config.options.get("tiebreakColumn")
        if tb and tb not in df.columns:
            errors.append(f"tiebreakColumn not in input schema: {tb}")
        for c in _split_csv(config.options.get("groupBy")):
            if c not in df.columns:
                errors.append(f"group column not in input schema: {c}")
        return (
            ValidationResult.ok()
            if not errors
            else ValidationResult.fail(*errors)
        )

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        opts = config.options
        return twap(
            df,
            time_col=opts["timeColumn"],
            value_col=opts["valueColumn"],
            group_by=_split_csv(opts.get("groupBy")) or None,
            tiebreak_col=opts.get("tiebreakColumn"),
        )


def lag_features(
    df: DataFrame,
    series_by: list[str],
    time_col: str,
    value_col: str,
    lags: list[int],
    tiebreak: list[str] | None = None,
    deltas: bool = False,
    prefix: str | None = None,
) -> DataFrame:
    """Supervised-learning lag features: for every row, the value
    ``k`` observations earlier in its own series, one column
    ``<value>_lag<k>`` per requested lag — the standard forecasting /
    sequence-model feature block (plus optional ``<value>_delta<k>``
    first differences). Rows near a series' start get NULLs (no
    history), never a cross-series leak: each series is its own
    window partition, so a model trained on the output cannot see a
    neighboring key's values — the silent bug hand-rolled SQL lag
    features are famous for when the PARTITION BY is forgotten.

    ``tiebreak`` columns are required whenever (series, time) can tie
    (same posture as ``rolling_median``): without a total order the
    lag assignment is nondeterministic. NULL times sort engine-
    dependently (Spark ASC is nulls-first, standard SQL nulls-last) —
    keep the ordering columns non-null if cross-engine reproducibility
    matters. Values pass through untyped
    and untouched (lag is pure row plumbing — exactness concerns only
    arise in ``deltas``, which subtracts the ORIGINAL values so
    integer/decimal inputs difference exactly; double inputs
    difference in one IEEE op any engine reproduces).

    Plan at 100 TB: ALL lags ride ONE series-keyed window shuffle —
    each extra lag adds a ``lag()`` expression over the same sorted
    frame, not an exchange. Output is row-for-row the input plus the
    feature columns (no rows dropped: the NULL-history rows are the
    caller's train/serve filter decision, not ours)."""
    if not lags:
        raise TransformationError("lag_features requires at least one lag")
    for k in lags:
        if int(k) < 1:
            raise TransformationError(f"lags must be >= 1, got {k}")
    if len(set(int(k) for k in lags)) != len(lags):
        raise TransformationError("lags must be unique")
    if not series_by:
        raise TransformationError(
            "lag_features requires series_by (a global series would "
            "funnel the table through one window task — repartition "
            "intent must be explicit)"
        )
    tiebreak = tiebreak or []
    for c in (*series_by, time_col, value_col, *tiebreak):
        if c not in df.columns:
            raise TransformationError(
                f"lag_features column not in input schema: {c}"
            )
    base = prefix if prefix is not None else value_col
    for k in lags:
        for stem in ("lag", "delta") if deltas else ("lag",):
            name = f"{base}_{stem}{int(k)}"
            if name in df.columns:
                raise TransformationError(
                    f"lag_features output column already in schema: {name}"
                )
    w = Window.partitionBy(*series_by).orderBy(
        F.col(time_col).asc(), *[F.col(c).asc() for c in tiebreak]
    )
    out = df
    for k in sorted(int(k) for k in lags):
        lagged = F.lag(F.col(value_col), k).over(w)
        out = out.withColumn(f"{base}_lag{k}", lagged)
        if deltas:
            out = out.withColumn(
                f"{base}_delta{k}", F.col(value_col) - lagged
            )
    return out


class LagFeaturesTransformer(_BaseTransformer):
    """Registry adapter (``type: lag_features``). Options:
    ``seriesBy`` csv (required), ``timeColumn``, ``valueColumn``
    (required), ``lags`` csv of ints (default "1"), ``tiebreak`` csv,
    ``deltas`` bool, ``prefix``."""

    def validate(self, df: DataFrame, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        if not _split_csv(opts.get("seriesBy")):
            errors.append("lag_features requires 'seriesBy'")
        for c in _split_csv(opts.get("seriesBy")):
            if c not in df.columns:
                errors.append(f"series column not in input schema: {c}")
        for opt in ("timeColumn", "valueColumn"):
            col = opts.get(opt)
            if not col:
                errors.append(f"lag_features requires '{opt}'")
            elif col not in df.columns:
                errors.append(f"{opt} not in input schema: {col}")
        for c in _split_csv(opts.get("tiebreak")):
            if c not in df.columns:
                errors.append(f"tiebreak column not in input schema: {c}")
        try:
            lags = [int(s) for s in _split_csv(opts.get("lags", "1"))]
            if any(k < 1 for k in lags):
                errors.append("lags must be >= 1")
        except ValueError:
            errors.append(f"lags is not an int csv: {opts['lags']}")
        return (
            ValidationResult.ok()
            if not errors
            else ValidationResult.fail(*errors)
        )

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        opts = config.options
        return lag_features(
            df,
            series_by=_split_csv(opts["seriesBy"]),
            time_col=opts["timeColumn"],
            value_col=opts["valueColumn"],
            lags=[int(s) for s in _split_csv(opts.get("lags", "1"))],
            tiebreak=_split_csv(opts.get("tiebreak")) or None,
            deltas=parse_bool(opts.get("deltas")),
            prefix=opts.get("prefix"),
        )


def rolling_zscore(
    df: DataFrame,
    partition_by: list[str],
    time_column: str,
    value_col: str,
    window_rows: int,
    tiebreak: list[str] | None = None,
    out_col: str | None = None,
    min_obs: int = 2,
    include_current: bool = False,
) -> DataFrame:
    """Trailing-window anomaly score: each row's value standardized
    against the mean/σ of its own key's PREVIOUS ``window_rows``
    observations — "is this point ≥3σ off its recent baseline", the
    control-chart complement of ``rolling_median`` (σ-based, so it
    reacts to spread changes the median ignores) and of the global
    ``zscore`` (windowed, so regime changes age out).

    The baseline EXCLUDES the current row by default
    (``include_current=False``): scoring a point against a window that
    contains it dilutes every spike by 1/n — the classic
    self-contamination bug in hand-rolled monitoring SQL.

    Exactness: window Σv and Σv² accumulate as EXACT decimals (a float
    window sum is engine-dependent — DuckDB's segment tree vs Spark's
    sequential fold); the close is fixed IEEE order
    ``var = (Σv²/n − m²)·(n/(n−1))`` with a correctly-rounded sqrt, so
    the score reproduces bit-for-bit cross-engine. Rows with fewer
    than ``min_obs`` baseline points or zero variance get NULL (a
    documented "no baseline" sentinel, never ±Inf). NULL values never
    enter a window and score NULL themselves.

    Scale: one hash exchange on ``partition_by`` + sort; both running
    sums and the count ride the same frame. Empty ``partition_by``
    funnels the table through one task — single-series only."""
    if window_rows <= 0:
        raise TransformationError("rolling_zscore requires window_rows > 0")
    if min_obs < 2:
        raise TransformationError("rolling_zscore requires min_obs >= 2")
    for c in [time_column, value_col, *(partition_by or []),
              *(tiebreak or [])]:
        if c not in df.columns:
            raise TransformationError(
                f"rolling_zscore: column not in schema: {c}"
            )
    out = out_col or f"{value_col}_rzscore"
    if out in df.columns:
        raise TransformationError(
            f"rolling_zscore output column already in schema: {out}"
        )
    epoch = F.unix_micros(F.col(time_column).cast("timestamp"))
    order = [epoch] + [F.col(c) for c in (tiebreak or [])]
    lo = -(int(window_rows) - 1) if include_current else -int(window_rows)
    hi = Window.currentRow if include_current else -1
    w = (
        Window.partitionBy(*[F.col(c) for c in (partition_by or [])])
        .orderBy(*order)
        .rowsBetween(lo, hi)
    )
    vd = F.col(value_col).cast("decimal(18,6)")
    x = F.col(value_col).cast("double")
    tmp = (
        df.withColumn("__rz_s", F.sum(vd).over(w))
        .withColumn("__rz_ss", F.sum(vd * vd).over(w))
        .withColumn("__rz_n", F.count(vd).over(w))
    )
    n = F.col("__rz_n").cast("double")
    m = F.col("__rz_s").cast("string").cast("double") / n
    msq = F.col("__rz_ss").cast("string").cast("double") / n
    var = (msq - m * m) * (n / (n - F.lit(1.0)))
    z = F.when(
        (F.col("__rz_n") >= F.lit(int(min_obs))) & (var > 0),
        (x - m) / F.sqrt(var),
    )
    return tmp.withColumn(out, z).drop("__rz_s", "__rz_ss", "__rz_n")


class RollingZscoreTransformer(_BaseTransformer):
    """Registry adapter (``type: rolling_zscore``). Options:
    ``partitionBy`` csv, ``timeColumn``, ``valueColumn``,
    ``windowRows`` (required), ``tiebreak`` csv, ``outputColumn``,
    ``minObs`` (default 2), ``includeCurrent`` (default false)."""

    def validate(self, df: DataFrame, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        for opt in ("timeColumn", "valueColumn"):
            col = opts.get(opt)
            if not col:
                errors.append(f"rolling_zscore requires '{opt}'")
            elif col not in df.columns:
                errors.append(f"{opt} not in input schema: {col}")
        try:
            if int(opts.get("windowRows", 0)) <= 0:
                errors.append("windowRows must be a positive int")
        except (TypeError, ValueError):
            errors.append(f"windowRows is not an int: {opts['windowRows']}")
        for key in ("partitionBy", "tiebreak"):
            for c in _split_csv(opts.get(key)):
                if c not in df.columns:
                    errors.append(f"{key} column not in input schema: {c}")
        return (
            ValidationResult.ok()
            if not errors
            else ValidationResult.fail(*errors)
        )

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        opts = config.options
        return rolling_zscore(
            df,
            partition_by=_split_csv(opts.get("partitionBy")),
            time_column=opts["timeColumn"],
            value_col=opts["valueColumn"],
            window_rows=int(opts["windowRows"]),
            tiebreak=_split_csv(opts.get("tiebreak")) or None,
            out_col=opts.get("outputColumn"),
            min_obs=int(opts.get("minObs", 2)),
            include_current=parse_bool(opts.get("includeCurrent")),
        )


def ewma(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    alpha: float,
    output_col: str = "ewma",
) -> DataFrame:
    """Per-key exponentially weighted moving average — the recursive
    smoother behind monitoring dashboards and EWMA control charts::

        y_0 = x_0,    y_t = α·x_t + (1 − α)·y_{t−1}

    (``adjust=False`` semantics — the control-chart recursion, NOT
    pandas' default bias-corrected form). The recursion is inherently
    SEQUENTIAL per key — no associative reformulation reproduces its
    float semantics — so this is an Arrow-batched python operator:
    one exchange repartitions on ``key_cols`` and sorts each
    partition by (keys, order), then ``mapInPandas`` folds each
    batch with ONE tight loop, carrying (key, y) state across batch
    boundaries inside the partition iterator. NOT ``applyInPandas``:
    grouped-map invokes python once per KEY, and with realistic
    small groups (~30 rows) the per-call pandas overhead dominated
    by ~20x (measured 7.6 s → 0.4 s exec on 600k rows / 20k keys at
    sf0.1). Keys parallelize across partitions; per-key series
    length is the scalability contract (a single giant key
    serializes into one partition's stream — resample/bucket first
    if a key's history is unbounded).

    DETERMINISM: rows fold in ``order_col`` order, which must be
    UNIQUE per key (ties would make "the" fold order ambiguous —
    same contract as ``_prefix_sums``); the per-step expression is
    exactly ``α·x + β·y_prev`` with ``β = 1 − α`` computed once, so
    an oracle replaying the same three IEEE ops per row (e.g. a SQL
    recursive CTE) reproduces the output bit-identically. NULL
    values propagate the previous smoothed value unchanged (gap =
    no observation); rows with NULL ``order_col`` are excluded.

    Output: the input columns (key cols, ``order_col``,
    ``value_col``) plus ``output_col`` (double).

    Reference parity: beyond-reference surface (SURVEY.md §2 — the
    reference's windowing is tumbling/sliding aggregation only,
    ``transformer/WindowingTransformer.scala:40-77``)."""
    if not key_cols:
        raise TransformationError("ewma requires at least one key column")
    if not 0.0 < float(alpha) <= 1.0:
        raise TransformationError("ewma requires 0 < alpha <= 1")
    for c in (*key_cols, order_col, value_col):
        if c not in df.columns:
            raise TransformationError(f"ewma: column not in schema: {c}")
    import pandas as pd  # noqa: F401 (worker closure)

    a = float(alpha)
    b = 1.0 - a
    src = df.select(*key_cols, order_col, value_col).where(
        F.col(order_col).isNotNull()
    )
    out_fields = src.schema.fields
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields
    ) + f", `{output_col}` double"
    keys = list(key_cols)

    def fold_partition(batches):
        import pandas as pd

        prev_key: tuple | None = None
        y: float | None = None
        for pdf in batches:
            xs = pdf[value_col].tolist()
            n = len(xs)
            # vectorized key-boundary detection (the per-row tuple
            # build + compare was ~40% of the fold loop at 600k rows /
            # 20k keys): a row starts a new key iff any key column
            # differs from the previous row; row 0 compares against
            # the carried key from the previous batch. The fold itself
            # stays the exact per-row a*x + b*y_prev recursion — same
            # three IEEE ops in the same order, bit-identical output.
            new_key = None
            for k in keys:
                col = pdf[k]
                nk = col.ne(col.shift()).to_numpy(copy=False)
                new_key = nk if new_key is None else (new_key | nk)
            if n:
                first = tuple(pdf[k].iloc[0] for k in keys)
                new_key[0] = first != prev_key
                prev_key = tuple(pdf[k].iloc[n - 1] for k in keys)
            nk_list = new_key.tolist() if n else []
            ys: list[float | None] = [None] * n
            for i in range(n):
                if nk_list[i]:
                    y = None
                x = xs[i]
                if x is not None and x == x:  # None/NaN: carry state
                    y = x if y is None else a * x + b * y
                ys[i] = y
            pdf[output_col] = pd.array(ys, dtype="float64")
            yield pdf

    part = src.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    return (
        src.repartition(int(part), *keys)
        .sortWithinPartitions(*keys, order_col)
        .mapInPandas(fold_partition, schema=schema)
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_by: list[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Kaplan–Meier survival curve — the nonparametric estimator of
    ``S(t) = P(survival > t)`` under right censoring (churn analyses,
    time-to-return, component lifetimes)::

        S(t) = Π_{t_i ≤ t} (1 − d_i / n_i)

    with ``d_i`` events and ``n_i`` at-risk count at each distinct
    event time. ``event_col`` is truthy (1/true = event observed,
    0/false = censored at that duration).

    Exactness/reproducibility: the data reduces to one row per
    (group, duration) carrying exact long ``d``/``c`` counts; at-risk
    counts derive from exact cumulative counts; and the running
    PRODUCT — the one inherently ordered float quantity — rides the
    cusum integer-quantization posture: each factor's log is
    quantized to integer nano-units (``round(ln(1 − d/n)·1e9)``),
    prefix-summed EXACTLY (order-free integer addition), and
    exponentiated + rounded to 9 decimals only at the end. Any
    engine replaying the same quantization reproduces the curve
    bit-identically — no sequential float fold anywhere.

    Plan at 100 TB: one (group, duration) count shuffle reduces the
    data to its time histogram; ungrouped, the cumulative counts ride
    ``_prefix_sums`` (distinct durations never funnel one task);
    grouped, a group-partitioned window (parallel across groups —
    per-group distinct-duration cardinality is the contract, bounded
    by time resolution). Rows with NULL duration or event are
    excluded. ``d = n`` (everyone fails) drives survival to exactly
    0.0 from that time on.

    Output per (group,) distinct duration, ascending: ``t`` (input
    type), ``n_risk``/``n_event``/``n_censored`` (long),
    ``survival`` (double, 9 dp)."""
    from etl_spark_gradle_spark.operators.stats import _prefix_sums

    group_by = group_by or []
    for c in (duration_col, event_col, *group_by):
        if c not in df.columns:
            raise TransformationError(
                f"kaplan_meier: column not in schema: {c}"
            )
    ev = F.col(event_col).cast("boolean").cast("int")
    pts = (
        df.where(
            F.col(duration_col).isNotNull()
            & F.col(event_col).isNotNull()
        )
        .groupBy(*group_by, F.col(duration_col).alias("_t"))
        .agg(
            F.sum(ev).cast("long").alias("_d"),
            F.sum(1 - ev).cast("long").alias("_c"),
        )
    )
    if group_by:
        w = (
            Window.partitionBy(*group_by)
            .orderBy("_t")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        pts = pts.withColumn("_rm", F.col("_d") + F.col("_c"))
        cum = pts.withColumn("_cum_rm", F.sum("_rm").over(w))
        totals = pts.groupBy(*group_by).agg(
            F.sum("_rm").cast("long").alias("_n_tot")
        )
        cum = broadcast_group_join(cum, totals, group_by, how="inner")
    else:
        from etl_spark_gradle_spark.operators.stats import _pin_with_bounds

        pts = pts.withColumn("_rm", F.col("_d") + F.col("_c"))
        # Fused pin: checkpoint + range-bucket bounds + the _rm grand
        # total in ONE job (was three: checkpoint, approxQuantile,
        # totals subtree + broadcast). Both prefix passes below order
        # by the same _t domain, so the bounds are shared; bounds
        # reuse is correctness-neutral — any fixed boundary list
        # yields a monotone bucket id.
        pts, bounds, got = _pin_with_bounds(
            pts, "_t", num_partitions,
            metrics=[F.sum("_rm").cast("long").alias("_n_tot")],
        )
        cum = _prefix_sums(
            pts, "_t", ["_rm"], num_partitions,
            assume_pinned=True, bounds=bounds,
        ).withColumnRenamed("cum__rm", "_cum_rm")
        cum = cum.withColumn("_n_tot", F.lit(got["_n_tot"]).cast("long"))
    n_risk = (F.col("_n_tot") - (F.col("_cum_rm") - F.col("_rm"))).cast(
        "long"
    )
    cum = cum.withColumn("_n_risk", n_risk)
    # quantized log factor: 0 when no event at t; ln(1 - d/n) in
    # integer nano-units otherwise. d = n ⇒ factor 0 ⇒ flag instead
    # of -inf; the flag's cumulative presence pins survival to 0.
    dead = (F.col("_d") >= F.col("_n_risk")).cast("long")
    lq = F.when(F.col("_d") == 0, F.lit(0)).when(
        dead == 1, F.lit(0)
    ).otherwise(
        F.round(
            F.log(
                F.lit(1.0)
                - F.col("_d").cast("double")
                / F.col("_n_risk").cast("double")
            )
            * F.lit(1e9)
        )
    ).cast("long")
    cum = cum.withColumn("_lq", lq).withColumn("_dead", dead)
    if group_by:
        w2 = (
            Window.partitionBy(*group_by)
            .orderBy("_t")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = cum.withColumn("_cum_lq", F.sum("_lq").over(w2)).withColumn(
            "_cum_dead", F.sum("_dead").over(w2)
        )
    else:
        # second prefix pass over the same histogram-sized frame:
        # reuse the pass-1 bounds (same _t domain — one approxQuantile
        # job instead of two); the checkpoint stays (the pass-1 window
        # + join would otherwise re-execute once per pass-2 subtree)
        cum = _prefix_sums(
            cum.select(*group_by, "_t", "_n_risk", "_d", "_c", "_lq",
                       "_dead"),
            "_t",
            ["_lq", "_dead"],
            num_partitions,
            bounds=bounds,
        ).withColumnRenamed("cum__lq", "_cum_lq").withColumnRenamed(
            "cum__dead", "_cum_dead"
        )
    surv = F.when(F.col("_cum_dead") > 0, F.lit(0.0)).otherwise(
        F.round(F.exp(F.col("_cum_lq").cast("double") / F.lit(1e9)), 9)
    )
    return cum.select(
        *group_by,
        F.col("_t").alias("t"),
        F.col("_n_risk").alias("n_risk"),
        F.col("_d").alias("n_event"),
        F.col("_c").alias("n_censored"),
        surv.alias("survival"),
    ).orderBy(*group_by, "t")


def nelson_aalen(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_by: list[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Nelson–Aalen cumulative-hazard curve — the additive sibling of
    :func:`kaplan_meier` (KM multiplies survival factors; Nelson–Aalen
    SUMS hazard increments, the estimator of choice when the hazard
    itself is the read, and the basis of ``H(t) = -ln S(t)`` checks)::

        H(t) = Σ_{t_i ≤ t} d_i / n_i,
        Var[H(t)] = Σ_{t_i ≤ t} d_i / n_i²     (Poisson form)

    with ``d_i`` events and ``n_i`` at-risk at each distinct event
    time; ``event_col`` truthy = event observed, falsy = censored.

    Exactness: the data reduces to one row per (group, duration) of
    exact long d/c counts; at-risk derives from exact cumulative
    counts; the running sums — the only ordered float quantities —
    ride the cusum integer-quantization posture: each increment
    quantizes to integer units (``round(d/n·1e9)`` for H,
    ``round(d/n²·1e15)`` for the variance — the finer grain because
    increments shrink as 1/n²), prefix-sums EXACTLY, and divides back
    out once at the close. Bounds: since n_i drops by ≥1 per distinct
    time, Σd_i/n_i ≤ H_N ≈ ln N and Σd_i/n_i² ≤ π²/6 < 1.645, so the
    quantized long sums stay below ~2·10¹⁵ at ANY scale — no
    overflow, no sequential float fold, bit-identical on every
    engine replaying the same quantization.

    Plan at 100 TB: one (group, duration) count shuffle reduces the
    data to its time histogram; ungrouped, cumulative counts ride
    ``_prefix_sums``' two-level scan; grouped, group-partitioned
    windows (parallel across groups). NULL duration/event rows are
    excluded.

    Output per (group,) distinct duration, ascending: ``t`` (input
    type), ``n_risk``/``n_event``/``n_censored`` (long),
    ``cum_hazard``/``var_hazard`` (double — exact integer/constant
    divisions, no rounding step needed)."""
    from etl_spark_gradle_spark.operators.stats import _prefix_sums

    group_by = group_by or []
    for c in (duration_col, event_col, *group_by):
        if c not in df.columns:
            raise TransformationError(
                f"nelson_aalen: column not in schema: {c}"
            )
    ev = F.col(event_col).cast("boolean").cast("int")
    pts = (
        df.where(
            F.col(duration_col).isNotNull()
            & F.col(event_col).isNotNull()
        )
        .groupBy(*group_by, F.col(duration_col).alias("_t"))
        .agg(
            F.sum(ev).cast("long").alias("_d"),
            F.sum(1 - ev).cast("long").alias("_c"),
        )
        .withColumn("_rm", F.col("_d") + F.col("_c"))
    )
    if group_by:
        w = (
            Window.partitionBy(*group_by)
            .orderBy("_t")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = pts.withColumn("_cum_rm", F.sum("_rm").over(w))
        totals = pts.groupBy(*group_by).agg(
            F.sum("_rm").cast("long").alias("_n_tot")
        )
        cum = broadcast_group_join(cum, totals, group_by, how="inner")
    else:
        cum = _prefix_sums(pts, "_t", ["_rm"], num_partitions).withColumnRenamed(
            "cum__rm", "_cum_rm"
        )
        totals = pts.agg(F.sum("_rm").cast("long").alias("_n_tot"))
        cum = cum.crossJoin(F.broadcast(totals))
    n_risk = (F.col("_n_tot") - (F.col("_cum_rm") - F.col("_rm"))).cast(
        "long"
    )
    cum = cum.withColumn("_n_risk", n_risk)
    d_d = F.col("_d").cast("double")
    n_d = F.col("_n_risk").cast("double")
    hq = F.when(F.col("_d") == 0, F.lit(0)).otherwise(
        F.round(d_d / n_d * F.lit(1e9)).cast("long")
    )
    vq = F.when(F.col("_d") == 0, F.lit(0)).otherwise(
        F.round(d_d / (n_d * n_d) * F.lit(1e15)).cast("long")
    )
    cum = cum.withColumn("_hq", hq).withColumn("_vq", vq)
    if group_by:
        w2 = (
            Window.partitionBy(*group_by)
            .orderBy("_t")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = cum.withColumn("_cum_hq", F.sum("_hq").over(w2)).withColumn(
            "_cum_vq", F.sum("_vq").over(w2)
        )
    else:
        cum = _prefix_sums(
            cum.select(*group_by, "_t", "_n_risk", "_d", "_c", "_hq",
                       "_vq"),
            "_t",
            ["_hq", "_vq"],
            num_partitions,
        ).withColumnRenamed("cum__hq", "_cum_hq").withColumnRenamed(
            "cum__vq", "_cum_vq"
        )
    return cum.select(
        *group_by,
        F.col("_t").alias("t"),
        F.col("_n_risk").alias("n_risk"),
        F.col("_d").alias("n_event"),
        F.col("_c").alias("n_censored"),
        (F.col("_cum_hq").cast("double") / F.lit(1e9)).alias("cum_hazard"),
        (F.col("_cum_vq").cast("double") / F.lit(1e15)).alias(
            "var_hazard"
        ),
    ).orderBy(*group_by, "t")


class EwmaTransformer(_BaseTransformer):
    """Registry adapter (``type: ewma``). Options: ``keyColumns`` csv
    (required; or ``keyColumn``), ``timeColumn``, ``valueColumn``
    (required), ``alpha`` (required, in (0, 1]), ``outputColumn``
    (default ``ewma``). A stream takes one key, plus ``tiebreakColumn``
    and ``watermarkDelay``."""

    streamable = True

    def validate(self, df: DataFrame, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        keys = _split_csv(opts.get("keyColumns") or opts.get("keyColumn"))
        if not keys:
            errors.append("ewma requires 'keyColumns'")
        for opt in ("timeColumn", "valueColumn"):
            col = opts.get(opt)
            if not col:
                errors.append(f"ewma requires '{opt}'")
            elif col not in df.columns:
                errors.append(f"{opt} not in input schema: {col}")
        for c in keys:
            if c not in df.columns:
                errors.append(f"key column not in input schema: {c}")
        try:
            a = float(opts.get("alpha", ""))
            if not 0.0 < a <= 1.0:
                errors.append("ewma alpha must be in (0, 1]")
        except (TypeError, ValueError):
            errors.append("ewma requires numeric 'alpha'")
        return (
            ValidationResult.ok()
            if not errors
            else ValidationResult.fail(*errors)
        )

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        opts = config.options
        keys = _split_csv(opts.get("keyColumns") or opts.get("keyColumn"))
        if df.isStreaming:
            from etl_spark_gradle_spark import streaming

            if len(keys) != 1:
                raise TransformationError(f"streaming ewma takes one key column, got {keys}")
            return streaming.ewma_stream(
                df, keys[0], opts["timeColumn"], opts["valueColumn"], float(opts["alpha"]),
                tiebreak_col=opts.get("tiebreakColumn"),
                watermark_delay=opts.get("watermarkDelay", "10 minutes"),
                output_col=opts.get("outputColumn", "ewma"),
            )
        return ewma(
            df,
            key_cols=keys,
            order_col=opts["timeColumn"],
            value_col=opts["valueColumn"],
            alpha=float(opts["alpha"]),
            output_col=opts.get("outputColumn", "ewma"),
        )


class KaplanMeierTransformer(_BaseTransformer):
    """Registry adapter (``type: kaplan_meier``). Options:
    ``durationColumn`` (required), ``eventColumn`` (required except
    aalen_johansen), ``groupBy`` csv, ``estimator`` kaplan_meier
    (default, survival curve) | nelson_aalen (cumulative hazard +
    variance) | aalen_johansen (competing-risks cumulative incidence
    — takes ``causeColumn`` with 0 = censored; no groupBy)."""

    _ESTIMATORS = ("kaplan_meier", "nelson_aalen", "aalen_johansen")

    def validate(self, df: DataFrame, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        est = opts.get("estimator", "kaplan_meier")
        needed = (
            ("durationColumn", "causeColumn")
            if est == "aalen_johansen"
            else ("durationColumn", "eventColumn")
        )
        for opt in needed:
            col = opts.get(opt)
            if not col:
                errors.append(f"kaplan_meier requires '{opt}'")
            elif col not in df.columns:
                errors.append(f"{opt} not in input schema: {col}")
        for c in _split_csv(opts.get("groupBy")):
            if c not in df.columns:
                errors.append(f"group column not in input schema: {c}")
        if est == "aalen_johansen" and opts.get("groupBy"):
            errors.append(
                "kaplan_meier estimator aalen_johansen does not "
                "support groupBy (causes partition the final scan)"
            )
        if est not in self._ESTIMATORS:
            errors.append(
                "kaplan_meier estimator must be one of "
                + "|".join(self._ESTIMATORS)
            )
        return (
            ValidationResult.ok()
            if not errors
            else ValidationResult.fail(*errors)
        )

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        opts = config.options
        est = opts.get("estimator", "kaplan_meier")
        if est == "aalen_johansen":
            return aalen_johansen(
                df,
                duration_col=opts["durationColumn"],
                cause_col=opts["causeColumn"],
            )
        fn = nelson_aalen if est == "nelson_aalen" else kaplan_meier
        return fn(
            df,
            duration_col=opts["durationColumn"],
            event_col=opts["eventColumn"],
            group_by=_split_csv(opts.get("groupBy")) or None,
        )


def logrank_test(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    side_col: str,
    side_a=None,
    side_b=None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Log-rank (Mantel–Cox) test — "are these two survival curves the
    same", the inference companion to :func:`kaplan_meier` (KM draws
    the curves; log-rank says whether cohort A genuinely outlives
    cohort B)::

        O − E = Σ_t (d_At − d_t·n_At/n_t)
        V     = Σ_t d_t·(n_At/n_t)·(1 − n_At/n_t)·(n_t − d_t)/(n_t − 1)
        z     = (O − E)/√V,     χ² = z²

    over distinct event times t with d_t > 0, where ``n_At``/``n_t``
    are at-risk counts. ``side_col`` must carry exactly two non-null
    values; omit ``side_a``/``side_b`` to auto-detect (sorted
    ascending — the :func:`~etl_spark_gradle_spark.operators.stats.
    welch_ttest` contract).

    Reproducibility: per-side event/censor counts and at-risk counts
    are exact longs (ONE pooled time histogram, all four counters
    prefix-summed in the same ``_prefix_sums`` pass); the per-time
    O−E and variance terms — the only floats — are quantized to
    integer nano-units and summed EXACTLY (order-free), the cusum
    posture shared with ``kaplan_meier``; z closes from two exact
    longs. Plan at 100 TB: one (time) count shuffle reduces the data
    to its time histogram; everything after is histogram-sized.

    Output: one row — ``n_a, n_b, events_a, events_b`` (long),
    ``o_minus_e, var_o, z, chi2, p_value`` (double; p = χ²(1) tail
    via the frozen ``stats.chi2_sf`` exact-normal form, 9-dp
    quantized, oracle-replayed)."""
    for c in (duration_col, event_col, side_col):
        if c not in df.columns:
            raise TransformationError(
                f"logrank_test: column not in schema: {c}"
            )
    if (side_a is None) != (side_b is None):
        raise TransformationError(
            "logrank_test: pass both side_a and side_b or neither"
        )
    if side_a is None:
        sides = [
            r[0]
            for r in df.select(side_col)
            .where(F.col(side_col).isNotNull())
            .distinct()
            .orderBy(side_col)
            .limit(3)
            .collect()
        ]
        if len(sides) != 2:
            raise TransformationError(
                f"logrank_test: side column '{side_col}' must carry "
                f"exactly two distinct non-null values, found {len(sides)}"
            )
        side_a, side_b = sides
    if side_a == side_b:
        raise TransformationError(
            "logrank_test: side_a and side_b must differ"
        )
    from etl_spark_gradle_spark.operators.stats import (
        _pq as _stats_pq,
        _prefix_sums,
        chi2_sf as _stats_chi2_sf,
    )

    ev = F.col(event_col).cast("boolean").cast("int")
    is_a = (F.col(side_col) == F.lit(side_a)).cast("int")
    is_b = (F.col(side_col) == F.lit(side_b)).cast("int")
    pts = (
        df.where(
            F.col(duration_col).isNotNull()
            & F.col(event_col).isNotNull()
            & F.col(side_col).isNotNull()
            & (is_a + is_b > 0)
        )
        .groupBy(F.col(duration_col).alias("_t"))
        .agg(
            F.sum(is_a * ev).cast("long").alias("_d1"),
            F.sum(is_b * ev).cast("long").alias("_d2"),
            F.sum(is_a).cast("long").alias("_r1"),
            F.sum(is_b).cast("long").alias("_r2"),
        )
    )
    # fused pin: checkpoint + range bounds + arm totals in ONE job.
    # Totals derive from the histogram directly rather than from
    # max(cum) — a cum-based aggregate would reference the prefix-sum
    # window subtree a second time (two plan copies of the bounded
    # offsets window, and a re-execution) — and attach as driver
    # literals instead of a 1-row broadcast crossJoin.
    from etl_spark_gradle_spark.operators.stats import _pin_with_bounds

    pts, bounds, got = _pin_with_bounds(
        pts, "_t", num_partitions,
        metrics=[
            F.sum("_r1").cast("long").alias("_n1"),
            F.sum("_r2").cast("long").alias("_n2"),
        ],
    )
    cum = _prefix_sums(
        pts, "_t", ["_r1", "_r2"], num_partitions, assume_pinned=True,
        bounds=bounds,
    )
    cum = cum.withColumn("_n1", F.lit(got["_n1"]).cast("long")).withColumn(
        "_n2", F.lit(got["_n2"]).cast("long")
    )
    n1 = (F.col("_n1") - (F.col("cum__r1") - F.col("_r1"))).cast("double")
    n2 = (F.col("_n2") - (F.col("cum__r2") - F.col("_r2"))).cast("double")
    n = n1 + n2
    d1 = F.col("_d1").cast("double")
    d = (F.col("_d1") + F.col("_d2")).cast("double")
    # O−E and V quantized to nano-units per time, summed EXACTLY; the
    # float expressions are spelled in a fixed operand order the
    # oracle replays verbatim
    oe_q = F.when(
        d > 0, F.round((d1 - d * n1 / n) * F.lit(1e9)).cast("long")
    ).otherwise(F.lit(0))
    var_q = F.when(
        (d > 0) & (n > 1),
        F.round(
            (
                ((d * (n1 / n)) * (F.lit(1.0) - n1 / n))
                * (n - d)
                / (n - F.lit(1.0))
            )
            * F.lit(1e9)
        ).cast("long"),
    ).otherwise(F.lit(0))
    agg = cum.select(
        "_d1", "_d2", "_r1", "_r2", "_n1", "_n2",
        oe_q.alias("_oe"), var_q.alias("_v"),
    ).agg(
        F.max("_n1").cast("long").alias("n_a"),
        F.max("_n2").cast("long").alias("n_b"),
        F.sum("_d1").cast("long").alias("events_a"),
        F.sum("_d2").cast("long").alias("events_b"),
        F.sum("_oe").cast("long").alias("_soe"),
        F.sum("_v").cast("long").alias("_sv"),
    )
    oe = F.col("_soe").cast("double") / F.lit(1e9)
    v = F.col("_sv").cast("double") / F.lit(1e9)
    z = F.when(v > 0, oe / F.sqrt(v))
    return agg.select(
        "n_a",
        "n_b",
        "events_a",
        "events_b",
        oe.alias("o_minus_e"),
        v.alias("var_o"),
        z.alias("z"),
        F.when(v > 0, (oe / F.sqrt(v)) * (oe / F.sqrt(v))).alias(
            "chi2"
        ),
        # two-group log-rank χ² has 1 dof — frozen chi2_sf tail
        # (stats.py; 9-dp quantized, oracle replays the same form)
        F.when(
            v > 0,
            _stats_pq(
                _stats_chi2_sf(
                    (oe / F.sqrt(v)) * (oe / F.sqrt(v)), F.lit(1)
                )
            ),
        ).alias("p_value"),
    )


def aalen_johansen(
    df: DataFrame,
    duration_col: str,
    cause_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Aalen–Johansen cumulative incidence under COMPETING RISKS —
    the estimator :func:`kaplan_meier` cannot give you when failure
    has more than one cause (churn to a competitor vs churn to
    inactivity; part failure vs part replacement): treating other
    causes as censoring ("cause-specific 1 − KM") OVERSTATES every
    cause's incidence because censored-by-competitor subjects can
    never fail again. AJ allocates risk correctly::

        CIF_k(t) = Σ_{u ≤ t} S(u−) · d_k(u) / n(u)

    with ``S(u−)`` the ALL-CAUSE Kaplan–Meier survival just before u.
    ``cause_col``: 0/NULL-free integer or string codes — ``0`` (or
    ``'0'``) means censored, anything else is a competing cause.

    Exactness: the all-cause S(u−) rides kaplan_meier's integer
    nano-quantized log prefix sums, EXCLUSIVE of u (subtract the own
    term from the inclusive scan — still exact integers), rounded to
    9 dp; each (u, k) increment ``S(u−)·(d_k/n)`` is a fixed-order
    double nano-quantized to a long; per-cause increments prefix-sum
    EXACTLY over time and CIF rounds to 9 dp at the end. Identity
    locked in tests: Σ_k CIF_k(t) + S(t) = 1 at every event time (up
    to the documented quantization grain).

    Plan at 100 TB: one (duration, cause) shuffle reduces the data to
    its cells; per-time totals reduce again onto the duration
    histogram (pinned — it feeds both prefix passes); the all-cause
    cumulative counts/logs ride ``_prefix_sums``' two-level scan; the
    per-time columns join back to the event cells on the duration key
    (both sides histogram-sized); the final CIF scan partitions on
    the CAUSE key (parallel across causes; per-cause distinct-time
    cardinality is the time-resolution contract, as kaplan_meier's
    grouped path). NULL duration/cause rows are excluded.

    Output per (cause, distinct event time of that cause), ascending:
    ``t`` (input type), ``cause`` (string), ``n_risk``/``n_event``
    (long), ``surv_before`` (S(t−), 9 dp), ``cif`` (9 dp)."""
    from etl_spark_gradle_spark.operators.stats import _prefix_sums

    from pyspark.sql.types import DecimalType, FractionalType

    for c in (duration_col, cause_col):
        if c not in df.columns:
            raise TransformationError(
                f"aalen_johansen: column not in schema: {c}"
            )
    # censoring is detected by string-comparing the cause code to the
    # literal '0'; a double/decimal cause renders 0.0 as '0.0'/'0.00'
    # so every censored row would silently count as a competing cause
    # and inflate every CIF — reject fractional cause types outright
    # (the pettitt_test time-column posture; ADVICE r12)
    cdtype = df.schema[cause_col].dataType
    if isinstance(cdtype, (FractionalType, DecimalType)):
        raise TransformationError(
            "aalen_johansen: cause column must carry integer or "
            f"string codes (got {cdtype.simpleString()} — a float "
            "0.0 would stringify as '0.0' and silently stop meaning "
            "censored)"
        )
    cells = (
        df.where(
            F.col(duration_col).isNotNull()
            & F.col(cause_col).isNotNull()
        )
        .groupBy(
            F.col(duration_col).alias("_t"),
            F.col(cause_col).cast("string").alias("_k"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("_m"))
        # feeds the per-time reduction AND the per-cause join back
        .localCheckpoint(eager=False)
    )
    per_t = cells.groupBy("_t").agg(
        F.sum(F.when(F.col("_k") != "0", F.col("_m")).otherwise(0))
        .cast("long")
        .alias("_d"),
        F.sum(F.col("_m")).cast("long").alias("_rm"),
    )
    # fused pin: checkpoint + range bounds + grand total in ONE job;
    # the total attaches as a driver literal instead of a 1-row
    # broadcast crossJoin
    from etl_spark_gradle_spark.operators.stats import _pin_with_bounds

    per_t, bounds, got = _pin_with_bounds(
        per_t, "_t", num_partitions,
        metrics=[F.sum("_rm").cast("long").alias("_n_tot")],
    )
    cum = _prefix_sums(
        per_t, "_t", ["_rm"], num_partitions, assume_pinned=True,
        bounds=bounds,
    )
    cum = cum.withColumn("_n_tot", F.lit(got["_n_tot"]).cast("long"))
    n_risk = (F.col("_n_tot") - (F.col("_cum_rm") - F.col("_rm"))).cast(
        "long"
    )
    cum = cum.withColumnRenamed("cum__rm", "_cum_rm").withColumn(
        "_n_risk", n_risk
    )
    dead = (F.col("_d") >= F.col("_n_risk")).cast("long")
    lq = F.when(F.col("_d") == 0, F.lit(0)).when(
        dead == 1, F.lit(0)
    ).otherwise(
        F.round(
            F.log(
                F.lit(1.0)
                - F.col("_d").cast("double")
                / F.col("_n_risk").cast("double")
            )
            * F.lit(1e9)
        )
    ).cast("long")
    cum = cum.withColumn("_lq", lq).withColumn("_dead", dead)
    # second prefix pass over the same _t domain: reuse the pass-1
    # bounds (one bounds job for both passes)
    cum = _prefix_sums(
        cum.select("_t", "_n_risk", "_d", "_lq", "_dead"),
        "_t",
        ["_lq", "_dead"],
        num_partitions,
        bounds=bounds,
    )
    # EXCLUSIVE survival S(t−): subtract the own term from the
    # inclusive scan — exact integer arithmetic before the one exp
    s_prev = F.when(
        F.col("cum__dead") - F.col("_dead") > 0, F.lit(0.0)
    ).otherwise(
        F.round(
            F.exp(
                (F.col("cum__lq") - F.col("_lq")).cast("double")
                / F.lit(1e9)
            ),
            9,
        )
    )
    per_time = cum.select(
        "_t",
        "_n_risk",
        s_prev.alias("_s_prev"),
    )
    ev_cells = cells.where(F.col("_k") != "0")
    j = ev_cells.join(per_time, "_t")
    inc = F.round(
        F.col("_s_prev")
        * (
            F.col("_m").cast("double")
            / F.col("_n_risk").cast("double")
        )
        * F.lit(1e9)
    ).cast("long")
    j = j.withColumn("_inc", inc)
    w = (
        Window.partitionBy("_k")
        .orderBy("_t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    j = j.withColumn("_cum_inc", F.sum("_inc").over(w))
    return j.select(
        F.col("_t").alias("t"),
        F.col("_k").alias("cause"),
        F.col("_n_risk").alias("n_risk"),
        F.col("_m").alias("n_event"),
        F.col("_s_prev").alias("surv_before"),
        # CIF is a probability: per-increment nano rounding can
        # accumulate a few 1e-9 past 1.0 over many event times —
        # clamp (deterministic, replayed by the oracle)
        F.least(
            F.lit(1.0),
            F.round(
                F.col("_cum_inc").cast("double") / F.lit(1e9), 9
            ),
        ).alias("cif"),
    ).orderBy("cause", "t")


def cox_ph(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    covariate_cols: list[str],
    iterations: int = 8,
    ridge: float = 0.0,
    num_partitions: int | None = None,
):
    """Cox proportional-hazards regression (Breslow ties) — the
    survival-family capstone after :func:`kaplan_meier` (the curve)
    and :func:`logrank_test` (two-cohort inference): WHICH covariates
    drive the hazard, each coefficient a log hazard-ratio::

        ℓ(β) = Σ_events [x_i·β − ln S0(t_i)],
        S0(t) = Σ_{j: dur_j ≥ t} exp(x_j·β)

    maximized by Newton iterations whose sufficient statistics are
    fully DISTRIBUTED (the :func:`~etl_spark_gradle_spark.operators.
    clustering.kmeans` driver-loop pattern): per iteration, ONE pass
    computes per-time sums of ``w = exp(x·β)``, ``w·x_k`` and
    ``w·x_k·x_l`` (β enters as driver literals), risk-set sums arrive
    as SUFFIX sums via ``stats._prefix_sums`` over the time histogram
    (never a data-sized sort), the gradient/Hessian close as one
    aggregation, and the p×p Newton solve runs on the driver (p is
    model-sized). Per-row terms are quantized to exact decimals
    (covariates at 6 dp, w at 12 dp) so every sum is
    partition-order-free — deterministic across runs and cluster
    layouts.

    Not SQL-expressible (iterative optimization) — pytest-gated
    against a numpy reference of the same Breslow Newton, like
    ``pca``. Rows with NULL duration/event/covariates are excluded.
    ``ridge`` adds an L2 penalty (λ·β on the gradient, λ·I on the
    Hessian) for separation-prone covariates.

    Returns a DataFrame with one row per covariate: ``covariate``
    (string), ``beta``/``hazard_ratio``/``se``/``z`` (double),
    ``n``/``n_events`` (long), ``iterations`` (int)."""
    import numpy as np

    from etl_spark_gradle_spark.operators.stats import _prefix_sums

    p = len(covariate_cols)
    if p < 1:
        raise TransformationError("cox_ph requires >= 1 covariate")
    if int(iterations) < 1:
        raise TransformationError("cox_ph requires iterations >= 1")
    for c in (duration_col, event_col, *covariate_cols):
        if c not in df.columns:
            raise TransformationError(f"cox_ph: column not in schema: {c}")
    spark = df.sparkSession
    ev = F.col(event_col).cast("boolean").cast("int")
    cond = F.col(duration_col).isNotNull() & F.col(event_col).isNotNull()
    for c in covariate_cols:
        cond = cond & F.col(c).isNotNull()
    # covariates quantized once at 6 dp — exact decimal sums from here
    base = df.where(cond).select(
        F.col(duration_col).alias("_t"),
        ev.alias("_e"),
        *[
            F.round(F.col(c).cast("double"), 6)
            .cast("decimal(24,6)")
            .alias(f"_x{k}")
            for k, c in enumerate(covariate_cols)
        ],
    ).localCheckpoint(eager=True)
    counts = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_e").cast("long").alias("d"),
    ).collect()[0]
    n_rows, n_events = counts["n"], counts["d"]
    if n_events == 0:
        raise TransformationError("cox_ph: no events in the data")

    beta = np.zeros(p)
    lam = float(ridge)
    pairs = [(k, l) for k in range(p) for l in range(k, p)]
    for _ in range(int(iterations)):
        # w = exp(x·β) with β as literals; per-row decimal quantization
        # (12 dp) makes every downstream sum exact and order-free
        lin = F.lit(0.0)
        for k in range(p):
            lin = lin + F.lit(float(beta[k])) * F.col(f"_x{k}").cast(
                "double"
            )
        w = F.round(F.exp(lin), 12).cast("decimal(38,12)")
        terms = base.select(
            "_t",
            "_e",
            *[F.col(f"_x{k}") for k in range(p)],
            w.alias("_w"),
        )
        aggs = [
            F.sum("_w").alias("_w0"),
            F.sum("_e").cast("long").alias("_d"),
        ]
        for k in range(p):
            aggs.append(
                F.sum(
                    (F.col("_w") * F.col(f"_x{k}")).cast("decimal(38,12)")
                ).alias(f"_w1_{k}")
            )
            aggs.append(
                F.sum(
                    F.when(F.col("_e") == 1, F.col(f"_x{k}"))
                ).alias(f"_ex{k}")
            )
        for k, l in pairs:
            aggs.append(
                F.sum(
                    (
                        F.col("_w")
                        * F.col(f"_x{k}")
                        * F.col(f"_x{l}")
                    ).cast("decimal(38,10)")
                ).alias(f"_w2_{k}_{l}")
            )
        sum_cols = (
            ["_w0"]
            + [f"_w1_{k}" for k in range(p)]
            + [f"_w2_{k}_{l}" for k, l in pairs]
        )
        # fused pin: checkpoint + range bounds + ALL suffix-sum grand
        # totals in ONE job (was three: checkpoint, approxQuantile,
        # and a separate 1-row collect)
        from etl_spark_gradle_spark.operators.stats import _pin_with_bounds

        per_t, bounds, tot = _pin_with_bounds(
            terms.groupBy("_t").agg(*aggs), "_t", num_partitions,
            metrics=[F.sum(c).alias(c) for c in sum_cols],
        )
        cum = _prefix_sums(
            per_t, "_t", sum_cols, num_partitions, assume_pinned=True,
            bounds=bounds,
        )
        # suffix sums: S(t) = total − cum_{<t} = total − (cum − at_t)
        def suffix(c: str):
            return (
                F.lit(str(tot[c])).cast("decimal(38,12)")
                - (F.col(f"cum_{c}") - F.col(c))
            ).cast("double")

        close = [
            F.sum(F.col("_d")).cast("long").alias("dd"),
        ]
        s0 = suffix("_w0")
        d = F.col("_d").cast("double")
        has_event = F.col("_d") > 0
        for k in range(p):
            close.append(
                F.sum(
                    F.when(
                        has_event,
                        F.col(f"_ex{k}").cast("double")
                        - d * (suffix(f"_w1_{k}") / s0),
                    )
                ).alias(f"g{k}")
            )
        for k, l in pairs:
            close.append(
                F.sum(
                    F.when(
                        has_event,
                        d
                        * (
                            suffix(f"_w2_{k}_{l}") / s0
                            - (suffix(f"_w1_{k}") / s0)
                            * (suffix(f"_w1_{l}") / s0)
                        ),
                    )
                ).alias(f"h{k}_{l}")
            )
        row = cum.agg(*close).collect()[0]
        grad = np.array([row[f"g{k}"] or 0.0 for k in range(p)])
        hess = np.zeros((p, p))
        for k, l in pairs:
            hess[k, l] = hess[l, k] = row[f"h{k}_{l}"] or 0.0
        grad = grad - lam * beta
        hess = hess + lam * np.eye(p)
        try:
            step = np.linalg.solve(hess, grad)
        except np.linalg.LinAlgError:
            raise TransformationError(
                "cox_ph: singular Hessian — add ridge or drop a "
                "collinear covariate"
            )
        beta = beta + step
        if float(np.max(np.abs(step))) < 1e-10:
            break
    se = np.sqrt(np.diag(np.linalg.inv(hess)))
    out = [
        (
            covariate_cols[k],
            float(beta[k]),
            float(np.exp(beta[k])),
            float(se[k]),
            float(beta[k] / se[k]) if se[k] > 0 else None,
            int(n_rows),
            int(n_events),
            int(iterations),
        )
        for k in range(p)
    ]
    return spark.createDataFrame(
        out,
        "covariate string, beta double, hazard_ratio double, "
        "se double, z double, n long, n_events long, iterations int",
    )


def rmst(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    tau: float,
    group_by: list[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Restricted mean survival time — the area under the
    :func:`kaplan_meier` curve up to horizon ``tau``: "expected
    survival time within the first τ units", the single-number
    summary clinicians and churn analysts quote when hazard curves
    cross and medians mislead::

        RMST(τ) = ∫₀^τ S(t) dt
                = Σ_i S(t_i)·(min(t_{i+1}, τ) − t_i),  t₀ = 0, S(t₀)=1

    (the KM curve is a step function, so the integral is an exact
    rectangle sum over the ≤|distinct durations| KM rows — no
    quadrature). Survival values carry kaplan_meier's 9-dp
    quantized-log posture; each rectangle is one double product in
    fixed order, and the rectangle sum closes by an ordered fold over
    the time-sorted KM table (the anova posture — bounded, replayed
    verbatim by an oracle's ``list_reduce``).

    Plan at 100 TB: everything beyond kaplan_meier's one histogram
    shuffle runs on the KM table. Output per group: ``tau`` (double),
    ``n`` (long, subjects), ``rmst`` (double), ``rmst_frac``
    (rmst/τ — the normalized read)."""
    if tau is None or float(tau) <= 0:
        raise TransformationError("rmst requires tau > 0")
    group_by = group_by or []
    km = kaplan_meier(
        df, duration_col, event_col, group_by=group_by,
        num_partitions=num_partitions,
    )
    t = F.col("t").cast("double")
    tau_l = F.lit(float(tau))
    # per-row rectangle: previous step's survival spans [t_prev, t).
    # Build (t_start, t_end, S) via lag over the (bounded) KM table;
    # the leading rectangle [0, t_1) at S=1 enters as the fold seed.
    from pyspark.sql import Window as _W

    w = (
        _W.partitionBy(*group_by).orderBy("_t")
        if group_by
        else _W.partitionBy(F.lit(1)).orderBy("_t")
    )
    rows = km.select(
        *group_by,
        t.alias("_t"),
        F.col("survival").cast("double").alias("_s"),
        F.col("n_risk"),
        F.col("n_event"),
        F.col("n_censored"),
    ).withColumn("_t_next", F.lead("_t").over(w))
    # rectangle owned by THIS row: [t, min(next_t, tau)) at S(t);
    # clamp to tau and drop rectangles fully past it
    start = F.least(F.col("_t"), tau_l)
    end = F.least(F.coalesce(F.col("_t_next"), tau_l), tau_l)
    rect = F.col("_s") * (end - start)
    agg = (
        rows.select(
            *group_by,
            F.col("_t"),
            rect.alias("_r"),
            (F.col("n_event") + F.col("n_censored")).alias("_m"),
        )
        .groupBy(*group_by)
        .agg(
            F.sum("_m").cast("long").alias("n"),
            F.least(F.min("_t"), tau_l).alias("_t1"),
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("_t", "_r"))),
                F.lit(0.0),
                lambda acc, x: acc + x["_r"],
            ).alias("_area"),
        )
    )
    # seed rectangle [0, min(t_1, tau)) at S = 1
    total = F.col("_t1") + F.col("_area")
    return agg.select(
        *group_by,
        tau_l.alias("tau"),
        "n",
        total.alias("rmst"),
        (total / tau_l).alias("rmst_frac"),
    )
