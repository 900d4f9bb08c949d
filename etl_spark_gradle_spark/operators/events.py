"""Behavioral event analytics: ordered funnels and cohort retention.

Beyond-reference operators over event streams (the reference's only
event surface is windowed aggregation): the two classic product-
analytics workloads, expressed as chained aggregations — no sessions
collected to the driver, no per-user UDFs.

Scale design (100 TB of events):

- ``funnel_steps`` runs ONE step-filtered aggregation per funnel step,
  each keyed by user: step k's events join the (|users|-sized) step
  k−1 reach table, take the earliest qualifying timestamp, and emit the
  next reach table. k steps = k filtered scans + k user-keyed shuffles
  — the standard formulation; the reach tables are tiny relative to
  the event log and broadcast when Spark sizes them so.
- ``cohort_retention`` is two aggregations and one join: first-touch
  per user (one shuffle), distinct user-periods (one shuffle), joined
  on the user key. Periods are computed with day-epoch arithmetic
  (``floor(datediff / 7)``) rather than ``date_trunc('week')`` so the
  DuckDB oracle computes bit-identical buckets regardless of engine
  week-start conventions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_spark_gradle_spark.options import parse_bool
from etl_spark_gradle_spark.operators.relational import TransformationError, _BaseTransformer

__all__ = [
    "funnel_steps",
    "funnel_counts",
    "cohort_retention",
    "transition_matrix",
    "market_basket_pairs",
    "association_rules",
    "TopPathsTransformer",
    "top_paths",
    "RollingActiveTransformer",
    "rolling_active",
    "sessionize",
    "debounce",
    "SessionizeTransformer",
    "DebounceTransformer",
]


def funnel_steps(
    df: DataFrame,
    user_col: str,
    type_col: str,
    time_col: str,
    steps: list[str],
    within_seconds: float | None = None,
) -> DataFrame:
    """Per-user ordered-funnel reach: for each user, the earliest
    timestamp of step 1, then the earliest step-2 event strictly AFTER
    it, and so on — one column ``t<i>`` per step (NULL once the user
    drops out). ``within_seconds`` bounds the WHOLE funnel relative to
    step 1 (the common "converted within 7 days" contract)."""
    if len(steps) < 2:
        raise TransformationError("funnel requires at least 2 steps")
    for c in (user_col, type_col, time_col):
        if c not in df.columns:
            raise TransformationError(f"funnel column not in input schema: {c}")
    reach = (
        df.where(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(time_col).alias("t1"))
    )
    for i, step in enumerate(steps[1:], start=2):
        ev = df.where(F.col(type_col) == step).select(
            user_col, F.col(time_col).alias("_ts")
        )
        cond = F.col("_ts") > F.col(f"t{i - 1}")
        if within_seconds is not None:
            cond = cond & (
                F.col("_ts")
                <= F.col("t1") + F.expr(f"INTERVAL {float(within_seconds)} SECONDS")
            )
        # left join keeps dropped-out users (their t<i> aggregates to
        # NULL via the conditional min); no pre-filter — the condition
        # must see t1/t(i-1), which only exist post-join
        reach = (
            reach.join(ev, on=user_col, how="left")
            .groupBy(user_col, *[f"t{j}" for j in range(1, i)])
            .agg(F.min(F.when(cond, F.col("_ts"))).alias(f"t{i}"))
        )
    return reach


def funnel_counts(
    df: DataFrame,
    user_col: str,
    type_col: str,
    time_col: str,
    steps: list[str],
    within_seconds: float | None = None,
) -> DataFrame:
    """Conversion-funnel summary: one row per step with the number of
    users who reached it in order — the aggregate the per-user reach
    table exists to feed. Output (step_index, step, users)."""
    reach = funnel_steps(df, user_col, type_col, time_col, steps, within_seconds)
    aggs = [
        F.count(F.col(f"t{i}")).alias(f"_c{i}") for i in range(1, len(steps) + 1)
    ]
    row_df = reach.agg(*aggs)
    spark = df.sparkSession
    steps_df = spark.createDataFrame(
        [(i + 1, s) for i, s in enumerate(steps)], "step_index int, step string"
    )
    long = row_df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("step_index"),
                        F.col(f"_c{i}").alias("users"),
                    )
                    for i in range(1, len(steps) + 1)
                ]
            )
        ).alias("s")
    ).select("s.step_index", "s.users")
    return steps_df.join(long, "step_index").select("step_index", "step", "users")


def cohort_retention(
    df: DataFrame,
    user_col: str,
    time_col: str,
    origin: str = "2024-01-01",
    period_days: int = 7,
) -> DataFrame:
    """Cohort retention grid: users bucketed by first-touch period
    (day-epoch arithmetic from ``origin`` — engine-portable, no
    week-start convention), counted distinct in every later period
    they were active. Output (cohort_period, period_offset, users):
    offset 0 is the cohort's own size."""
    if period_days < 1:
        raise TransformationError("cohort period_days must be >= 1")
    for c in (user_col, time_col):
        if c not in df.columns:
            raise TransformationError(f"cohort column not in input schema: {c}")
    period = F.floor(
        F.datediff(F.col(time_col).cast("date"), F.lit(origin).cast("date"))
        / period_days
    ).cast("int")
    first = (
        df.select(user_col, period.alias("_p"))
        .groupBy(user_col)
        .agg(F.min("_p").alias("cohort_period"))
    )
    active = df.select(user_col, period.alias("period")).distinct()
    return (
        active.join(first, user_col)
        .groupBy(
            "cohort_period",
            (F.col("period") - F.col("cohort_period")).alias("period_offset"),
        )
        .agg(F.count_distinct(F.col(user_col)).alias("users"))
    )


def transition_matrix(
    df: DataFrame,
    user_col: str,
    type_col: str,
    time_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Event-to-event transition counts (Markov path analysis): for
    each consecutive pair of events per user (ordered by time, with an
    optional unique tiebreaker for simultaneous events), count
    (from_type, to_type) occurrences and the transition's share of its
    source type. One user-keyed window sort + one small aggregation —
    the |types|² output is dashboard-sized at any corpus scale."""
    from pyspark.sql.window import Window

    for c in (user_col, type_col, time_col):
        if c not in df.columns:
            raise TransformationError(f"transition column not in input schema: {c}")
    order = [F.col(time_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(user_col).orderBy(*order)
    pairs = (
        df.select(user_col, F.col(type_col).alias("to_type"), time_col,
                  *( [tiebreak_col] if tiebreak_col else [] ))
        .withColumn("from_type", F.lag("to_type").over(w))
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("transitions"))
    )
    from_totals = pairs.groupBy("from_type").agg(
        F.sum("transitions").alias("_from_total")
    )
    return (
        pairs.join(from_totals, "from_type")
        .select(
            "from_type",
            "to_type",
            "transitions",
            (F.col("transitions").cast("double") / F.col("_from_total")).alias(
                "probability"
            ),
        )
    )


class FunnelTransformer(_BaseTransformer):
    """Registry adapter (``type: funnel``). Options: ``userColumn``,
    ``typeColumn``, ``timeColumn``, ``steps`` (csv, ordered),
    ``withinSeconds`` (optional), ``output`` counts|steps."""

    def validate(self, df, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult
        from etl_spark_gradle_spark.operators.relational import _split_csv

        errors = []
        opts = config.options
        if len(_split_csv(opts.get("steps"))) < 2:
            errors.append("funnel requires 'steps' (>= 2, ordered csv)")
        for key in ("userColumn", "typeColumn", "timeColumn"):
            col = opts.get(key)
            if not col:
                errors.append(f"funnel requires '{key}'")
            elif col not in df.columns:
                errors.append(f"{key} not in input schema: {col}")
        if opts.get("output", "counts") not in ("counts", "steps"):
            errors.append("funnel output must be 'counts' or 'steps'")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        from etl_spark_gradle_spark.operators.relational import _split_csv

        opts = config.options
        fn = funnel_counts if opts.get("output", "counts") == "counts" else funnel_steps
        within = opts.get("withinSeconds")
        return fn(
            df,
            opts["userColumn"],
            opts["typeColumn"],
            opts["timeColumn"],
            _split_csv(opts["steps"]),
            within_seconds=float(within) if within is not None else None,
        )


class CohortTransformer(_BaseTransformer):
    """Registry adapter (``type: cohort``). Options: ``userColumn``,
    ``timeColumn``, ``origin`` (date), ``periodDays``."""

    def validate(self, df, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        for key in ("userColumn", "timeColumn"):
            col = config.options.get(key)
            if not col:
                errors.append(f"cohort requires '{key}'")
            elif col not in df.columns:
                errors.append(f"{key} not in input schema: {col}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        return cohort_retention(
            df,
            opts["userColumn"],
            opts["timeColumn"],
            origin=opts.get("origin", "2024-01-01"),
            period_days=int(opts.get("periodDays", 7)),
        )


class TransitionsTransformer(_BaseTransformer):
    """Registry adapter (``type: transitions``). Options: ``userColumn``,
    ``typeColumn``, ``timeColumn``, ``tiebreakColumn`` (optional)."""

    def validate(self, df, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        for key in ("userColumn", "typeColumn", "timeColumn"):
            col = config.options.get(key)
            if not col:
                errors.append(f"transitions requires '{key}'")
            elif col not in df.columns:
                errors.append(f"{key} not in input schema: {col}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        return transition_matrix(
            df,
            opts["userColumn"],
            opts["typeColumn"],
            opts["timeColumn"],
            tiebreak_col=opts.get("tiebreakColumn"),
        )


def market_basket_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 1,
    top_k: int | None = None,
) -> DataFrame:
    """Item co-occurrence counts ("market basket"): for every pair of
    distinct items appearing in the same basket, the number of baskets
    containing both. Output (item_a, item_b, baskets) with
    item_a < item_b.

    Plan shape: ONE shuffle groups each basket's distinct items into a
    sorted array, then a higher-order combination expression expands
    within-basket pairs (the same no-self-join trick as the LSH bucket
    pairing) — the quadratic term is bounded by basket size, never by
    item or basket count. A second small aggregation counts pairs;
    ``top_k`` closes with TakeOrderedAndProject. Giant degenerate
    baskets are the skew risk — cap them upstream (cap_per_group) the
    way LSH caps buckets."""
    for c in (basket_col, item_col):
        if c not in df.columns:
            raise TransformationError(f"basket column not in input schema: {c}")
    if min_support < 1:
        raise TransformationError("market_basket min_support must be >= 1")
    baskets = (
        df.select(basket_col, item_col)
        .where(F.col(item_col).isNotNull())
        .distinct()
        .groupBy(basket_col)
        .agg(F.sort_array(F.collect_set(item_col)).alias("_items"))
        .where(F.size("_items") > 1)
    )
    combos = F.flatten(
        F.transform(
            F.col("_items"),
            lambda x, i: F.transform(
                F.slice(F.col("_items"), i + F.lit(2), F.size(F.col("_items"))),
                lambda y: F.struct(x.alias("item_a"), y.alias("item_b")),
            ),
        )
    )
    out = (
        baskets.select(F.explode(combos).alias("p"))
        .groupBy("p.item_a", "p.item_b")
        .agg(F.count("*").alias("baskets"))
        .where(F.col("baskets") >= min_support)
    )
    if top_k is not None:
        out = out.orderBy(
            F.desc("baskets"), F.asc("item_a"), F.asc("item_b")
        ).limit(top_k)
    return out


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 1,
    top_k: int | None = None,
) -> DataFrame:
    """Directed association rules over baskets — the classic
    support/confidence/lift closure on top of
    :func:`market_basket_pairs`. For every ordered pair
    (antecedent → consequent) of items co-occurring in ≥
    ``min_support`` baskets:

    - ``support``    = pair_baskets / n_baskets,
    - ``confidence`` = pair_baskets / antecedent_baskets,
    - ``lift``       = confidence / (consequent_baskets / n_baskets),

    spelled in exactly that operand order so any engine computing the
    same IEEE divisions over the same exact integer counts reproduces
    the doubles bit-for-bit. ``n_baskets`` counts every basket with at
    least one non-null item (single-item baskets count toward item and
    total frequencies even though they produce no pairs — standard
    basket-analysis convention). ``top_k`` keeps the highest-lift
    rules (ties → confidence desc, antecedent, consequent asc).

    Plan at 100 TB: the heavy lifting is the within-basket pair
    expansion inside ``market_basket_pairs`` (one basket-keyed
    shuffle, quadratic only in basket size); everything here is
    item-vocabulary-sized — per-item basket counts broadcast onto the
    pair table twice, the total is a 1-row broadcast cross join. No
    driver collects, no re-scan of the raw feed.
    """
    # pairs is referenced twice (the directed union) and item_counts
    # twice (antecedent + consequent broadcasts), each reference
    # re-planning its whole upstream — the un-pinned closure planned
    # 20 scans of the raw feed (r12 plan audit). All three are bounded
    # relations (pair vocabulary / item vocabulary / 1 row), so pin
    # them once; counts and therefore every derived double are
    # unchanged.
    pairs = market_basket_pairs(
        df, basket_col, item_col, min_support=min_support
    ).localCheckpoint(eager=False)
    base = (
        df.select(basket_col, item_col)
        .where(F.col(item_col).isNotNull())
        .distinct()
    )
    item_counts = base.groupBy(F.col(item_col).alias("_it")).agg(
        F.count("*").cast("long").alias("_ib")
    ).localCheckpoint(eager=False)
    total = base.select(
        F.count_distinct(F.col(basket_col)).cast("long").alias("n_baskets")
    ).localCheckpoint(eager=False)
    directed = pairs.select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"),
        F.col("baskets").cast("long").alias("pair_baskets"),
    ).unionByName(
        pairs.select(
            F.col("item_b").alias("antecedent"),
            F.col("item_a").alias("consequent"),
            F.col("baskets").cast("long").alias("pair_baskets"),
        )
    )
    joined = (
        directed.join(
            F.broadcast(item_counts.withColumnRenamed("_ib", "antecedent_baskets")),
            directed["antecedent"] == F.col("_it"),
        )
        .drop("_it")
        .join(
            F.broadcast(item_counts.withColumnRenamed("_ib", "consequent_baskets")),
            F.col("consequent") == F.col("_it"),
        )
        .drop("_it")
        .crossJoin(F.broadcast(total))
    )
    pair_d = F.col("pair_baskets").cast("double")
    ant_d = F.col("antecedent_baskets").cast("double")
    cons_d = F.col("consequent_baskets").cast("double")
    tot_d = F.col("n_baskets").cast("double")
    out = joined.select(
        "antecedent",
        "consequent",
        "pair_baskets",
        "antecedent_baskets",
        "consequent_baskets",
        "n_baskets",
        (pair_d / tot_d).alias("support"),
        (pair_d / ant_d).alias("confidence"),
        ((pair_d / ant_d) / (cons_d / tot_d)).alias("lift"),
    )
    if top_k is not None:
        out = out.orderBy(
            F.desc("lift"),
            F.desc("confidence"),
            F.asc("antecedent"),
            F.asc("consequent"),
        ).limit(top_k)
    return out


class MarketBasketTransformer(_BaseTransformer):
    """Registry adapter (``type: market_basket``). Options:
    ``basketColumn``, ``itemColumn``, ``minSupport``, ``topK``,
    ``rules`` (true → emit directed association rules with
    support/confidence/lift instead of undirected pair counts)."""

    def validate(self, df, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        for key in ("basketColumn", "itemColumn"):
            col = config.options.get(key)
            if not col:
                errors.append(f"market_basket requires '{key}'")
            elif col not in df.columns:
                errors.append(f"{key} not in input schema: {col}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        top_k = opts.get("topK")
        fn = association_rules if parse_bool(opts.get("rules")) else market_basket_pairs
        return fn(
            df,
            opts["basketColumn"],
            opts["itemColumn"],
            min_support=int(opts.get("minSupport", 1)),
            top_k=int(top_k) if top_k is not None else None,
        )


def top_paths(
    df: DataFrame,
    user_col: str,
    type_col: str,
    time_col: str,
    tiebreak_col: str,
    max_steps: int = 5,
    k: int = 20,
    sep: str = ">",
) -> DataFrame:
    """Most common first-``max_steps`` event journeys: order each
    user's events by (time, tiebreak), keep the first ``max_steps``,
    join the types into a path string ("view>cart>purchase"), and
    return the ``k`` most frequent paths with user counts and share —
    the "how do users actually move" companion to ``funnel_counts``
    (which tests ONE hypothesized order) and ``transition_matrix``
    (which forgets everything beyond one hop).

    The tiebreak column is REQUIRED (not optional like
    transition_matrix's): simultaneous events with no total order
    would make the path string nondeterministic — different runs,
    different engines, different paths — and a frequency table over
    nondeterministic strings is noise.

    Scale: one user-keyed shuffle shared by the row_number window and
    the per-user collect (each user contributes ≤ max_steps rows to
    the collect — bounded state, not the user's full history), one
    map-side-combined path-count aggregation over |users| rows, and a
    TakeOrdered top-k close (count desc, path asc — deterministic
    under ties). Nothing driver-side scales with users or events.
    """
    from pyspark.sql.window import Window

    for c in (user_col, type_col, time_col, tiebreak_col):
        if c not in df.columns:
            raise TransformationError(f"top_paths column not in input schema: {c}")
    if max_steps < 1:
        raise TransformationError("top_paths requires max_steps >= 1")
    if k < 1:
        raise TransformationError("top_paths requires k >= 1")

    w = Window.partitionBy(user_col).orderBy(
        F.col(time_col).asc(), F.col(tiebreak_col).asc()
    )
    # a type containing the separator would make ['a>b'] and ['a','b']
    # render identically and silently merge their counts — escape the
    # ESCAPE CHARACTER first, then the separator, so the path is a
    # total (injective) function of the journey: without the first
    # step, ['a\\'] + ['b'] would render as 'a\\>b', colliding with
    # the escaped one-step journey ['a>b'] (review findings x2)
    esc_type = F.replace(
        F.replace(F.col(type_col), F.lit("\\"), F.lit("\\\\")),
        F.lit(sep),
        F.lit("\\" + sep),
    ).alias(type_col)
    stepped = (
        df.select(user_col, esc_type, time_col, tiebreak_col)
        .where(F.col(type_col).isNotNull() & F.col(time_col).isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= max_steps)
    )
    paths = stepped.groupBy(user_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_rn", type_col))),
                lambda s: s[type_col],
            ),
            sep,
        ).alias("path"),
    )
    totals = paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    grand = totals.agg(F.sum("n_users").cast("long").alias("_total"))
    ranked = (
        totals.crossJoin(F.broadcast(grand))
        .select(
            "path",
            "n_users",
            (F.col("n_users").cast("double") / F.col("_total").cast("double")).alias(
                "share"
            ),
        )
        .orderBy(F.col("n_users").desc(), F.col("path").asc())
        .limit(k)
    )
    return ranked


class TopPathsTransformer(_BaseTransformer):
    """Registry adapter (``type: top_paths``). Options: ``userColumn``,
    ``typeColumn``, ``timeColumn``, ``tiebreakColumn`` (all required),
    ``maxSteps`` (default 5), ``k`` (default 20), ``separator``."""

    def validate(self, df: DataFrame, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        for opt in ("userColumn", "typeColumn", "timeColumn", "tiebreakColumn"):
            col = config.options.get(opt)
            if not col:
                errors.append(f"top_paths requires '{opt}'")
            elif col not in df.columns:
                errors.append(f"{opt} not in input schema: {col}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        opts = config.options
        return top_paths(
            df,
            user_col=opts["userColumn"],
            type_col=opts["typeColumn"],
            time_col=opts["timeColumn"],
            tiebreak_col=opts["tiebreakColumn"],
            max_steps=int(opts.get("maxSteps", 5)),
            k=int(opts.get("k", 20)),
            sep=opts.get("separator", ">"),
        )


def rolling_active(
    df: DataFrame,
    user_col: str,
    time_col: str,
    window_days: int = 7,
    out_col: str = "active_users",
) -> DataFrame:
    """Trailing-window distinct actives per day — DAU/WAU/MAU: for
    every day in the observed range, how many distinct users had at
    least one event in the ``window_days`` ending that day (inclusive).
    Output ``(day, <out_col>)`` with ``day`` as epoch-second bigints
    (midnight UTC — engine-portable like resample's grid), one row per
    day from the first to the last observed day, zero-activity days
    included.

    The sliding-distinct trap this avoids: a window function cannot
    compute ``count(DISTINCT)`` over a moving frame, and per-day
    self-joins re-scan the table once per window day. Instead each
    (user, active-day) pair is EXPLODED to the ``window_days`` window
    ends it contributes to — a bounded ×window_days row multiplication
    of the already-deduplicated (user, day) table, NOT of raw events —
    then one distinct aggregation counts each user once per window.
    Plan: dedup to (user, day) [shuffle #1, map-side combined],
    explode ×w, count-distinct per window end [shuffle #2 via Spark's
    two-phase distinct], left-join onto the min..max day spine
    (generated distributed via sequence+explode from a 1-row bounds
    aggregate, same spine machinery as resample). At 100 TB the
    ×w blow-up is of |users·days|, orders below raw events; for very
    large w (365-day MAU-style windows) switch to the mergeable HLL
    sketch family and trade exactness for a ×1 pass.

    NULL users/timestamps are excluded (an anonymous event is not an
    active user).
    """
    for c in (user_col, time_col):
        if c not in df.columns:
            raise TransformationError(f"rolling_active column not in input schema: {c}")
    if window_days < 1:
        raise TransformationError("rolling_active requires window_days >= 1")

    day = (
        F.floor(F.unix_timestamp(F.col(time_col)) / F.lit(86400))
    ).cast("long")
    pairs = (
        df.where(F.col(user_col).isNotNull() & F.col(time_col).isNotNull())
        .select(F.col(user_col).alias("__u"), day.alias("__d"))
        .distinct()
    )
    contrib = pairs.select(
        "__u",
        F.explode(
            F.sequence(F.col("__d"), F.col("__d") + F.lit(int(window_days) - 1))
        ).alias("__wd"),
    )
    bounds = pairs.agg(
        F.min("__d").alias("__lo"), F.max("__d").alias("__hi")
    ).where(F.col("__lo").isNotNull())
    counts = (
        contrib.groupBy("__wd")
        .agg(F.countDistinct("__u").cast("long").alias(out_col))
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias("__wd")
    )
    return (
        spine.join(counts, on="__wd", how="left")
        .select(
            (F.col("__wd") * 86400).cast("long").alias("day"),
            F.coalesce(F.col(out_col), F.lit(0)).cast("long").alias(out_col),
        )
    )


class RollingActiveTransformer(_BaseTransformer):
    """Registry adapter (``type: rolling_active``). Options:
    ``userColumn``, ``timeColumn`` (required), ``windowDays`` (default
    7), ``outputColumn`` (default ``active_users``)."""

    def validate(self, df: DataFrame, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        for opt in ("userColumn", "timeColumn"):
            col = config.options.get(opt)
            if not col:
                errors.append(f"rolling_active requires '{opt}'")
            elif col not in df.columns:
                errors.append(f"{opt} not in input schema: {col}")
        try:
            if int(config.options.get("windowDays", 7)) < 1:
                errors.append("windowDays must be >= 1")
        except (TypeError, ValueError):
            errors.append(
                f"windowDays is not an integer: {config.options['windowDays']!r}"
            )
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        opts = config.options
        return rolling_active(
            df,
            user_col=opts["userColumn"],
            time_col=opts["timeColumn"],
            window_days=int(opts.get("windowDays", 7)),
            out_col=opts.get("outputColumn", "active_users"),
        )


def _time_units(df: DataFrame, time_col: str):
    """Integer time view for gap arithmetic: TIMESTAMP → exact epoch
    micros (plus a 1e6 unit scale for second-denominated gaps),
    numeric → the column's own units (scale 1). Mirrors the
    ``merge_intervals`` convention."""
    from pyspark.sql.types import TimestampNTZType, TimestampType

    t = df.schema[time_col].dataType
    if isinstance(t, (TimestampType, TimestampNTZType)):
        return F.unix_micros(F.col(time_col).cast("timestamp")), 1_000_000
    return F.col(time_col).cast("long"), 1


def sessionize(
    df: DataFrame,
    user_col: str,
    time_col: str,
    gap_seconds: float,
    tiebreak_col: str,
    output: str = "events",
) -> DataFrame:
    """Gap-based sessionization (gaps-and-islands): order each user's
    events by (time, tiebreak) and start a NEW session whenever the
    gap to the previous event exceeds ``gap_seconds`` — the batch
    counterpart of :func:`~etl_spark_gradle_spark.streaming.sessionize_stream`
    and the row-level complement of the session-window AGGREGATION in
    ``relational.windowing`` (which returns one row per session, not a
    session id per event).

    - ``output='events'``: every input row (NULL user/time rows
      dropped — they have no position in any ordering) plus
      ``session_seq`` (1-based per-user session index) and
      ``event_seq`` (1-based position within the session).
    - ``output='sessions'``: one row per (user, session_seq) with
      ``n_events``, ``start_<unit>``/``end_<unit>`` integer bounds
      (epoch micros for timestamps, column units for numerics) and
      ``duration_seconds`` for timestamps / ``duration`` otherwise.

    ``tiebreak_col`` is REQUIRED (same posture as ``top_paths``):
    simultaneous events without a total order would make session
    boundaries nondeterministic. A gap EXACTLY equal to
    ``gap_seconds`` stays in the session (strict > starts a new one),
    matching the streaming operator and Spark's own
    ``session_window`` timeout semantics.

    Plan at 100 TB: ONE user-keyed shuffle; the boundary flag, the
    running session index (a cumulative sum over the same window) and
    the per-session stats all ride it — no self-joins, no second
    exchange for the ``sessions`` rollup (it groups by (user,
    session_seq), a prefix of the existing clustering).
    """
    for c in (user_col, time_col, tiebreak_col):
        if c not in df.columns:
            raise TransformationError(
                f"sessionize column not in input schema: {c}"
            )
    if gap_seconds <= 0:
        raise TransformationError("sessionize requires gap_seconds > 0")
    if output not in ("events", "sessions"):
        raise TransformationError(
            f"sessionize output must be events|sessions, got '{output}'"
        )
    from pyspark.sql.window import Window

    tnum, unit = _time_units(df, time_col)
    gap_units = int(round(float(gap_seconds) * unit))
    w = Window.partitionBy(user_col).orderBy(
        F.col(time_col).asc(), F.col(tiebreak_col).asc()
    )
    base = df.where(
        F.col(user_col).isNotNull() & F.col(time_col).isNotNull()
    ).withColumn("_tn", tnum)
    new_flag = F.when(
        F.lag("_tn").over(w).isNull()
        | (F.col("_tn") - F.lag("_tn").over(w) > F.lit(gap_units)),
        F.lit(1),
    ).otherwise(F.lit(0))
    marked = base.withColumn("_new", new_flag).withColumn(
        "session_seq",
        F.sum("_new")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    if output == "events":
        we = Window.partitionBy(user_col, "session_seq").orderBy(
            F.col(time_col).asc(), F.col(tiebreak_col).asc()
        )
        return marked.withColumn(
            "event_seq", F.row_number().over(we).cast("long")
        ).drop("_tn", "_new")
    dur_unit = "duration_seconds" if unit != 1 else "duration"
    sess = marked.groupBy(user_col, "session_seq").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("_tn").alias("_start"),
        F.max("_tn").alias("_end"),
    )
    return sess.select(
        user_col,
        "session_seq",
        "n_events",
        F.col("_start").alias("start_units"),
        F.col("_end").alias("end_units"),
        # integer difference first, ONE division last: exact and
        # identically rounded on any engine spelling the same ops
        (
            (F.col("_end") - F.col("_start")).cast("double")
            / F.lit(float(unit))
        ).alias(dur_unit),
    )


def debounce(
    df: DataFrame,
    key_cols: list[str],
    time_col: str,
    gap_seconds: float,
    tiebreak_col: str,
) -> DataFrame:
    """Burst deduplication ("debounce"): within each key, keep only
    the FIRST event of every burst — an event survives iff it is the
    key's first event or arrived strictly more than ``gap_seconds``
    after the previous KEPT-OR-DROPPED event. Equivalent to
    sessionizing on (key…) and keeping each session's first row,
    which is exactly how it is implemented — one key-keyed shuffle,
    no joins. The classic guard against double-clicks, retry storms
    and sensor chatter ahead of count-based features.

    Note the gap is measured to the previous RAW event (standard
    trailing-debounce / sessionization semantics): a burst that keeps
    re-firing every second suppresses everything after its first
    event for as long as it lasts, even past ``gap_seconds`` total.
    """
    if not key_cols:
        raise TransformationError("debounce requires at least one key column")
    for c in (*key_cols, time_col, tiebreak_col):
        if c not in df.columns:
            raise TransformationError(
                f"debounce column not in input schema: {c}"
            )
    if gap_seconds <= 0:
        raise TransformationError("debounce requires gap_seconds > 0")
    from pyspark.sql.window import Window

    tnum, unit = _time_units(df, time_col)
    gap_units = int(round(float(gap_seconds) * unit))
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(time_col).asc(), F.col(tiebreak_col).asc()
    )
    base = df
    for c in key_cols:
        base = base.where(F.col(c).isNotNull())
    base = (
        base.where(F.col(time_col).isNotNull())
        .withColumn("_tn", tnum)
        .withColumn("_pv", F.lag("_tn").over(w))
    )
    keep = F.col("_pv").isNull() | (
        F.col("_tn") - F.col("_pv") > F.lit(gap_units)
    )
    return base.where(keep).drop("_tn", "_pv")


class SessionizeTransformer(_BaseTransformer):
    """Registry adapter (``type: sessionize``). Options:
    ``userColumn``, ``timeColumn``, ``tiebreakColumn`` (all required),
    ``gapSeconds`` (default 1800), ``output`` events|sessions."""

    def validate(self, df: DataFrame, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        for opt in ("userColumn", "timeColumn", "tiebreakColumn"):
            col = config.options.get(opt)
            if not col:
                errors.append(f"sessionize requires '{opt}'")
            elif col not in df.columns:
                errors.append(f"{opt} not in input schema: {col}")
        try:
            if float(config.options.get("gapSeconds", 1800)) <= 0:
                errors.append("gapSeconds must be > 0")
        except (TypeError, ValueError):
            errors.append(
                f"gapSeconds is not a number: {config.options['gapSeconds']}"
            )
        if config.options.get("output", "events") not in (
            "events",
            "sessions",
        ):
            errors.append(
                f"output must be events|sessions, got "
                f"'{config.options['output']}'"
            )
        return (
            ValidationResult.ok()
            if not errors
            else ValidationResult.fail(*errors)
        )

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        opts = config.options
        return sessionize(
            df,
            user_col=opts["userColumn"],
            time_col=opts["timeColumn"],
            gap_seconds=float(opts.get("gapSeconds", 1800)),
            tiebreak_col=opts["tiebreakColumn"],
            output=opts.get("output", "events"),
        )


class DebounceTransformer(_BaseTransformer):
    """Registry adapter (``type: debounce``). Options: ``keyColumns``
    csv (required), ``timeColumn``, ``tiebreakColumn`` (required),
    ``gapSeconds`` (default 60)."""

    def validate(self, df: DataFrame, config):
        from etl_spark_gradle_spark.operators.relational import _split_csv
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        keys = _split_csv(config.options.get("keyColumns"))
        if not keys:
            errors.append("debounce requires 'keyColumns'")
        for c in keys:
            if c not in df.columns:
                errors.append(f"key column not in input schema: {c}")
        for opt in ("timeColumn", "tiebreakColumn"):
            col = config.options.get(opt)
            if not col:
                errors.append(f"debounce requires '{opt}'")
            elif col not in df.columns:
                errors.append(f"{opt} not in input schema: {col}")
        try:
            if float(config.options.get("gapSeconds", 60)) <= 0:
                errors.append("gapSeconds must be > 0")
        except (TypeError, ValueError):
            errors.append(
                f"gapSeconds is not a number: {config.options['gapSeconds']}"
            )
        return (
            ValidationResult.ok()
            if not errors
            else ValidationResult.fail(*errors)
        )

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        from etl_spark_gradle_spark.operators.relational import _split_csv

        opts = config.options
        return debounce(
            df,
            key_cols=_split_csv(opts["keyColumns"]),
            time_col=opts["timeColumn"],
            gap_seconds=float(opts.get("gapSeconds", 60)),
            tiebreak_col=opts["tiebreakColumn"],
        )
