"""Exact-moment statistics: correlation matrices, OLS fits, z-score
anomaly flags.

Beyond-reference analytics (the reference's aggregation surface stops
at avg/stddev): the descriptive-stats workloads a warehouse runs over
fact tables, built on ONE principle — every statistic derives from
exact DECIMAL power sums (n, Σx, Σy, Σxy, Σx², Σy²) accumulated in a
single hash aggregation, with the float math applied AFTER aggregation
in a fixed operand order. Consequences at 100 TB:

- One scan + one (tiny) shuffle per statistic family, regardless of
  how many column pairs are requested — pairs add expressions, not
  passes (contrast ``df.stat.corr``, one job per pair).
- The moment table is exactly MERGEABLE (decimal sums add), so
  per-partition moments persisted once can answer later rollups the
  same way the HLL/histogram/CMS sketches do.
- Bit-identical cross-engine results: the sums are exact rationals,
  and the closing float ops (divide, sqrt — both correctly rounded
  under IEEE-754) are applied in the same order on Spark and the
  DuckDB oracle.

Columns are assumed to carry ≤ 2 decimal digits (prices/quantities —
the testdata contract); the DECIMAL(18,2) cast is then exact and
products fit DECIMAL(38,4) without rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_spark_gradle_spark.operators.relational import (
    TransformationError,
    _BaseTransformer,
    _split_csv,
    broadcast_group_join,
)

__all__ = [
    "moment_sums",
    "correlation_matrix",
    "linear_fit",
    "zscore_flags",
    "category_drift",
    "tv_distance",
    "ks_drift",
    "anderson_darling_drift",
    "wasserstein_drift",
    "kuiper_drift",
    "cramer_von_mises_drift",
    "energy_distance_drift",
    "rank_sum_drift",
    "welch_ttest",
    "prop_ztest",
    "chi_square",
    "cochran_armitage",
    "mantel_haenszel",
    "bootstrap_ci",
    "permutation_test",
    "cuped",
    "ratio_ttest",
    "mcnemar_test",
    "brown_forsythe",
    "kendall_tau",
    "mann_kendall",
    "pettitt_test",
    "theil_sen",
    "tukey_hsd",
    "cronbach_alpha",
    "cohens_d",
    "cochran_q",
    "friedman",
    "exact_quantiles",
    "ecdf",
    "mad_outliers",
    "quantile_clip",
]


def _d(col: Column) -> Column:
    """Decimal → double via a string round-trip: decimal→string is
    exact and string→double is correctly rounded on EVERY engine,
    whereas DuckDB's direct decimal(38,_)→double cast was measured one
    ulp off Java's correctly-rounded conversion on 17-digit values.
    Runs on |groups| rows only — cost irrelevant."""
    return col.cast("string").cast("double")


def _dec(c: str) -> Column:
    return F.col(c).cast("decimal(18,2)")


def _prod(a: str, b: str) -> Column:
    return (_dec(a) * _dec(b)).cast("decimal(38,4)")


# ---------------------------------------------------------------------------
# Frozen tail-probability approximations (VERDICT r11 ask #4)
#
# The hypothesis-test family publishes statistic + dof; the p-value —
# the one number an experimenter actually gates on — needs the χ²/F/
# normal CDF, whose exact forms (incomplete gamma/beta) no SQL engine
# ships. Rather than a driver-side numpy close (rows-only oracle
# posture), these are FROZEN closed-form approximations evaluated in
# the identical operand order by Spark and by the DuckDB oracle
# (emitted by ``__spark_entry__._sql_norm_sf`` et al.), then quantized
# to 9 dp — the repo's standard transcendental posture (tfidf/ewma).
#
# Accuracy (documented per ``p_value`` column): normal tail via
# Abramowitz & Stegun 26.2.17 (|eps| < 7.5e-8); χ² with k = 1 exact
# through the normal form, k = 2 exactly exp(-x/2), k >= 3 via
# Wilson–Hilferty (1931) cube-root normalization (~1e-3 absolute);
# F via Paulson (1942) (~1e-2 absolute worst-case at small dof —
# measured -7.4e-3 at F(4,20)'s 95th pct). All fine for gating at any
# sane α; NOT for far-tail log-p work.
# ---------------------------------------------------------------------------


def _norm_sf_pos(z: Column) -> Column:
    """Upper tail P(Z > z) for z >= 0 — A&S 26.2.17."""
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.2316419) * z)
    poly = t * (
        F.lit(0.31938153)
        + t
        * (
            F.lit(-0.356563782)
            + t
            * (
                F.lit(1.781477937)
                + t * (F.lit(-1.821255978) + t * F.lit(1.330274429))
            )
        )
    )
    return F.lit(0.3989422804014327) * F.exp(F.lit(-0.5) * z * z) * poly


def norm_sf(z: Column) -> Column:
    """Upper tail P(Z > z) for any real z (A&S 26.2.17 reflected)."""
    return F.when(z >= 0, _norm_sf_pos(z)).otherwise(
        F.lit(1.0) - _norm_sf_pos(-z)
    )


def chi2_sf(x: Column, k: Column) -> Column:
    """Upper tail P(χ²_k > x): exact-normal form at k = 1, exact
    exp(-x/2) at k = 2, Wilson–Hilferty for k >= 3."""
    kd = k.cast("double")
    c = F.lit(2.0) / (F.lit(9.0) * kd)
    wh_z = (F.cbrt(x / kd) - (F.lit(1.0) - c)) / F.sqrt(c)
    return F.when(k == 1, F.lit(2.0) * norm_sf(F.sqrt(x))).when(
        k == 2, F.exp(F.lit(-0.5) * x)
    ).otherwise(norm_sf(wh_z))


def f_sf(x: Column, d1: Column, d2: Column) -> Column:
    """Upper tail P(F_{d1,d2} > x) — Paulson (1942) normalization."""
    a1 = F.lit(2.0) / (F.lit(9.0) * d1.cast("double"))
    a2 = F.lit(2.0) / (F.lit(9.0) * d2.cast("double"))
    num = (F.lit(1.0) - a2) * F.cbrt(x) - (F.lit(1.0) - a1)
    den = F.sqrt(a1 + F.cbrt(x) * F.cbrt(x) * a2)
    return norm_sf(num / den)


def _pq(p: Column) -> Column:
    """Clamp to [0, 1] and quantize to 9 dp — the cross-engine hash
    contract for a transcendental close (round(x·1e9) long both
    sides; a 7.5e-8-accurate approximation can stray a hair past the
    interval ends)."""
    clamped = F.least(F.lit(1.0), F.greatest(F.lit(0.0), p))
    return F.round(clamped * F.lit(1e9)).cast("long").cast(
        "double"
    ) / F.lit(1e9)


def moment_sums(
    df: DataFrame,
    cols: list[str],
    group_by: list[str] | None = None,
) -> DataFrame:
    """The mergeable moment table: per group, ``n`` plus exact
    ``sum_<c>``, ``sumsq_<c>`` for every column and ``sumxy_<a>_<b>``
    for every pair — one hash aggregation, shuffle carries one short
    row per group."""
    if len(cols) < 1:
        raise TransformationError("moment_sums requires at least one column")
    for c in cols:
        if c not in df.columns:
            raise TransformationError(f"moment column not in input schema: {c}")
    group_by = group_by or []
    aggs = [F.count("*").alias("n")]
    for c in cols:
        aggs.append(F.sum(_dec(c)).alias(f"sum_{c}"))
        aggs.append(F.sum(_prod(c, c)).alias(f"sumsq_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            aggs.append(F.sum(_prod(a, b)).alias(f"sumxy_{a}_{b}"))
    grouped = df.groupBy(*group_by) if group_by else df.groupBy()
    return grouped.agg(*aggs)


def correlation_matrix(
    df: DataFrame,
    cols: list[str],
    group_by: list[str] | None = None,
) -> DataFrame:
    """Pearson correlation for every column pair, long form
    (group..., col_a, col_b, corr): ``(n·Σxy − Σx·Σy) /
    (sqrt(n·Σx²−(Σx)²) · sqrt(n·Σy²−(Σy)²))``. All pairs from the ONE
    moment aggregation; degenerate (zero-variance) pairs yield NULL."""
    if len(cols) < 2:
        raise TransformationError("correlation_matrix requires >= 2 columns")
    m = moment_sums(df, cols, group_by)
    group_by = group_by or []
    pair_structs = []
    n = F.col("n").cast("double")
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            sx = _d(F.col(f"sum_{a}"))
            sy = _d(F.col(f"sum_{b}"))
            sxx = _d(F.col(f"sumsq_{a}"))
            syy = _d(F.col(f"sumsq_{b}"))
            sxy = _d(F.col(f"sumxy_{a}_{b}"))
            cov = n * sxy - sx * sy
            vx = n * sxx - sx * sx
            vy = n * syy - sy * sy
            corr = F.when(
                (vx > 0) & (vy > 0), cov / (F.sqrt(vx) * F.sqrt(vy))
            )
            pair_structs.append(
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    corr.alias("corr"),
                )
            )
    return m.select(
        *group_by, F.explode(F.array(*pair_structs)).alias("_p")
    ).select(*group_by, "_p.col_a", "_p.col_b", "_p.corr")


def linear_fit(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Per-group simple OLS ``y = slope·x + intercept`` with r²:
    closed-form from the same exact moments. Groups with zero x
    variance yield NULL fit columns."""
    m = moment_sums(df, [x_col, y_col], group_by)
    group_by = group_by or []
    n = F.col("n").cast("double")
    sx = _d(F.col(f"sum_{x_col}"))
    sy = _d(F.col(f"sum_{y_col}"))
    sxx = _d(F.col(f"sumsq_{x_col}"))
    syy = _d(F.col(f"sumsq_{y_col}"))
    sxy = _d(F.col(f"sumxy_{x_col}_{y_col}"))
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    cov = n * sxy - sx * sy
    slope = F.when(vx > 0, cov / vx)
    intercept = F.when(vx > 0, (sy - (cov / vx) * sx) / n)
    # sqrt-free form: (cov·cov)/(vx·vy) — three exactly-rounded ops in a
    # fixed order; the sqrt-then-square form accumulated a last-ulp
    # difference across engines in practice
    r2 = F.when((vx > 0) & (vy > 0), (cov * cov) / (vx * vy))
    return m.select(
        *group_by,
        F.col("n"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


# Benford expected first-digit proportions log10(1 + 1/d), d = 1..9,
# as EXPLICIT double literals so Spark and any oracle engine use the
# same bits (computing log10 at query time would lean on each
# engine's libm, whose last ulp is implementation-defined)
_BENFORD_P = [
    0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514,
]


def benford_test(
    df: DataFrame,
    value_col: str,
    group_by: list[str] | None = None,
) -> DataFrame:
    """First-digit (Benford's law) audit — the classic
    fabricated-or-degenerate-numbers detector for financial feeds and
    synthetic-data screens: naturally occurring multi-scale positive
    amounts follow ``P(d) = log10(1 + 1/d)``; keyed-in, capped, or
    template-generated numbers don't. Beyond-reference per SURVEY
    §2.7 (the reference has no distributional audit surface).

    Determinism (cross-engine hash gate): the leading digit comes
    from the DECIMAL STRING of the integer micro-unit value
    (``first char of cast(floor(|x|·1e6) as string)``) — integer
    formatting is identical on every engine, where a
    ``floor(x/10^floor(log10 x))`` extraction would ride each libm's
    last-ulp ``log10``. The expected proportions are explicit double
    literals, and the χ² statistic closes as a FIXED nine-term
    left-to-right chain over the exact per-digit counts, so every
    output cell reproduces bit-for-bit. Zero, NULL, and |x| < 1e-6
    values are excluded (no leading digit).

    Output per group: ``n``, ``d1``..``d9`` (exact long counts),
    ``chi2`` (8 degrees of freedom; NULL when n = 0). Plan: ONE
    map-side-combined aggregation; the shuffle carries an 11-field
    row per group."""
    if value_col not in df.columns:
        raise TransformationError(
            f"benford_test: value column not in schema: {value_col}"
        )
    group_by = group_by or []
    for c in group_by:
        if c not in df.columns:
            raise TransformationError(f"group column not in input schema: {c}")
    vu = F.floor(
        F.abs(F.col(value_col).cast("double")).cast("decimal(27,6)")
        * F.lit(1_000_000)
    ).cast("long")
    digit = F.when(
        vu > 0, F.substring(vu.cast("string"), 1, 1).cast("int")
    )
    base = df.select(*group_by, digit.alias("_bf_d"))
    agg = base.groupBy(*group_by).agg(
        F.count("_bf_d").cast("long").alias("n"),
        *[
            F.count(F.when(F.col("_bf_d") == d, F.lit(1)))
            .cast("long")
            .alias(f"d{d}")
            for d in range(1, 10)
        ],
    )
    n = F.col("n").cast("double")
    chi2 = None
    for d in range(1, 10):
        exp = n * F.lit(_BENFORD_P[d - 1])
        diff = F.col(f"d{d}").cast("double") - exp
        # diff*diff, never pow(): pow's last ulp is engine-defined
        term = (diff * diff) / exp
        chi2 = term if chi2 is None else chi2 + term
    return agg.withColumn("chi2", F.when(F.col("n") > 0, chi2))


def multiple_regression(
    df: DataFrame,
    y_col: str,
    x_cols: list[str],
    group_by: list[str] | None = None,
) -> DataFrame:
    """Per-group TWO-feature OLS with intercept,
    ``y = b0 + b1·x1 + b2·x2``, in closed form — the multivariate
    step past :func:`linear_fit` (one regressor) that still needs NO
    iterative solver, no MLlib, and no per-group value buffering: the
    3×3 normal equations solve by Cramer's rule over the SAME exact
    decimal moment table (one hash aggregation; the shuffle carries
    one short row per group). More regressors need a matrix solver —
    use Spark MLlib's LinearRegression there; two features with an
    intercept covers the bulk of per-segment elasticity / trend-plus-
    control analyses warehouses actually run.

    Determinism: every moment is an exact decimal sum (order-free);
    the determinant arithmetic closes in FIXED IEEE order from
    string-roundtripped doubles, so any engine spelling the same
    cofactor expansion reproduces each coefficient bit-for-bit.
    Rows with a NULL in y or any regressor are excluded (standard
    listwise deletion). A singular normal matrix (collinear or
    constant regressors, n < 3) yields NULL coefficients. ``r2`` is
    ``1 − SSE/SST`` in the same fixed-order spelling; SST ≤ 0 (all y
    equal) yields NULL r2."""
    if len(x_cols) != 2:
        raise TransformationError(
            "multiple_regression solves the 2-regressor closed form; "
            f"got {len(x_cols)} regressors (use linear_fit for 1, an "
            "iterative/matrix solver for >2)"
        )
    x1, x2 = x_cols
    for c in (y_col, x1, x2):
        if c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")
    group_by = group_by or []
    data = df.where(
        F.col(y_col).isNotNull()
        & F.col(x1).isNotNull()
        & F.col(x2).isNotNull()
    )
    m = moment_sums(data, [x1, x2, y_col], group_by)
    n = F.col("n").cast("double")
    s1 = _d(F.col(f"sum_{x1}"))
    s2 = _d(F.col(f"sum_{x2}"))
    sy = _d(F.col(f"sum_{y_col}"))
    s11 = _d(F.col(f"sumsq_{x1}"))
    s22 = _d(F.col(f"sumsq_{x2}"))
    syy = _d(F.col(f"sumsq_{y_col}"))
    s12 = _d(F.col(f"sumxy_{x1}_{x2}"))
    s1y = _d(F.col(f"sumxy_{x1}_{y_col}"))
    s2y = _d(F.col(f"sumxy_{x2}_{y_col}"))
    det_a = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    det0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    det1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    det2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    ok = det_a != F.lit(0.0)
    b0 = F.when(ok, det0 / det_a)
    b1 = F.when(ok, det1 / det_a)
    b2 = F.when(ok, det2 / det_a)
    sst = syy - (sy * sy) / n
    sse = syy - ((det0 / det_a) * sy + (det1 / det_a) * s1y
                 + (det2 / det_a) * s2y)
    r2 = F.when(ok & (sst > 0), F.lit(1.0) - sse / sst)
    return m.select(
        *group_by,
        F.col("n"),
        b0.alias("intercept"),
        b1.alias(f"beta_{x1}"),
        b2.alias(f"beta_{x2}"),
        r2.alias("r2"),
    )


def zscore_flags(
    df: DataFrame,
    value_col: str,
    group_by: list[str] | None = None,
    threshold: float = 3.0,
    z_col: str = "zscore",
    flag_col: str = "is_outlier",
) -> DataFrame:
    """Per-row z-score against the row's group (population σ from the
    exact moments) plus an outlier flag at ``|z| >= threshold``. Two
    passes over the input by necessity (the mean must exist before any
    row can be scored): one moment aggregation, then a broadcast-sized
    join of |groups| moment rows back onto the scan — the input itself
    is never shuffled. Zero-variance groups score NULL/unflagged."""
    if threshold <= 0:
        raise TransformationError("zscore threshold must be > 0")
    group_by = group_by or []
    m = moment_sums(df, [value_col], group_by)
    n = F.col("n").cast("double")
    sx = _d(F.col(f"sum_{value_col}"))
    sxx = _d(F.col(f"sumsq_{value_col}"))
    mean = sx / n
    var = (n * sxx - sx * sx) / (n * n)
    stats = m.select(
        *group_by,
        mean.alias("_mean"),
        F.when(var > 0, F.sqrt(var)).alias("_std"),
    )
    joined = broadcast_group_join(df, stats, group_by)
    z = F.when(
        F.col("_std").isNotNull(),
        (F.col(value_col).cast("double") - F.col("_mean")) / F.col("_std"),
    )
    return (
        joined.withColumn(z_col, z)
        .withColumn(
            flag_col,
            F.when(z.isNotNull(), F.abs(z) >= threshold).otherwise(F.lit(False)),
        )
        .drop("_mean", "_std")
    )


def category_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    category_col: str,
) -> DataFrame:
    """Two-sample categorical drift table: per category, counts and
    rates on each side plus the category's χ² contribution under the
    pooled-expectation two-sample test — the feed-monitoring question
    "did this week's source/language/label mix move?" answered from
    two count aggregations (map-side partials; shuffles carry
    |categories| rows) and one |categories|-sized outer join. Neither
    input is scanned twice or shuffled raw.

    All counts are exact integers; rates and χ² close as doubles in a
    fixed operand order (engine-portable). A category absent from one
    side appears with count 0 (its χ² contribution is well-defined via
    the pooled expectation). The TOTAL χ² statistic is the sum of the
    contribution column — summed by the CALLER over the small result
    (float summation order over the full table is engine-dependent;
    per-category rows are not).
    """
    j = _two_sample_counts(df_a, df_b, category_col)
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ta, tb = F.col("_ta").cast("double"), F.col("_tb").cast("double")
    tot_c = na + nb
    n_all = ta + tb
    e_a = (ta * tot_c) / n_all
    e_b = (tb * tot_c) / n_all
    chi2 = ((na - e_a) * (na - e_a)) / e_a + ((nb - e_b) * (nb - e_b)) / e_b
    return j.select(
        "category",
        "n_a",
        "n_b",
        (na / ta).alias("rate_a"),
        (nb / tb).alias("rate_b"),
        (na / ta - nb / tb).alias("rate_diff"),
        chi2.alias("chi2_contrib"),
    )


def _two_sample_counts(
    df_a: DataFrame, df_b: DataFrame, category_col: str
) -> DataFrame:
    """Shared two-sample scaffolding: per-category exact counts from
    each side (map-side-combined; shuffles carry |categories| rows),
    full-outer joined with absent-side counts as 0, cross-joined with
    the broadcast 1-row totals ``_ta``/``_tb``. An empty side would
    make every downstream rate divide by zero (IEEE Inf/NaN, silently
    wrong drift) — the totals row is guarded with n>0 on BOTH sides,
    so drift against an empty side yields an EMPTY frame (ADVICE r4,
    same contract as ks_drift / rank_sum_drift).

    NULL is ONE legitimate category: the full join is NULL-SAFE
    (``<=>``). A plain equality join split each side's NULL bucket
    into two phantom one-sided categories — two IDENTICAL frames with
    NULL rows then reported large fake drift (review finding; SQL
    oracles must join with IS NOT DISTINCT FROM to match)."""
    for df, side in ((df_a, "left"), (df_b, "right")):
        if category_col not in df.columns:
            raise TransformationError(
                f"category column not in {side} input schema: {category_col}"
            )
    ca = df_a.groupBy(F.col(category_col).alias("category")).agg(
        F.count(F.lit(1)).cast("long").alias("n_a")
    )
    cb = df_b.groupBy(F.col(category_col).alias("_cat_b")).agg(
        F.count(F.lit(1)).cast("long").alias("n_b")
    )
    joined = (
        ca.join(cb, F.col("category").eqNullSafe(F.col("_cat_b")), "full")
        .select(
            F.coalesce("category", "_cat_b").alias("category"),
            F.coalesce("n_a", F.lit(0)).cast("long").alias("n_a"),
            F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
        )
    )
    totals = joined.agg(
        F.sum("n_a").cast("long").alias("_ta"),
        F.sum("n_b").cast("long").alias("_tb"),
    ).filter((F.col("_ta") > 0) & (F.col("_tb") > 0))
    return joined.crossJoin(F.broadcast(totals))


def tv_distance(
    df_a: DataFrame,
    df_b: DataFrame,
    category_col: str,
    per_category: bool = False,
) -> DataFrame:
    """Total-variation distance between two categorical distributions —
    ``TV = ½ Σ_c |p(c) − q(c)|``, the "what fraction of probability
    mass moved" number (0 = identical mixes, 1 = disjoint), the
    standard one-glance companion to ``category_drift``'s χ² (which
    grows with N even for tiny shifts; TV is scale-free).

    Exactness contract (what makes this hash-reproducible across
    engines where a naive float formulation is not): per-category
    ``|p−q| = |n_a·tb − n_b·ta| / (ta·tb)`` is computed over EXACT
    ``decimal(38,0)`` integer products (two full longs multiply
    without overflow), the numerators are SUMMED as exact decimals —
    order-independent, unlike any float sum — and ONE string-roundtrip
    double division closes the statistic. Default output is the 1-row
    summary ``(n_a, n_b, n_categories, tv)``; ``per_category=True``
    returns instead the |categories|-sized contribution table with
    ``tv_contrib`` (this category's share of TV) and ``bc_contrib``
    (Bhattacharyya coefficient term ``sqrt(p·q)`` — sum ≤ 1 and
    Hellinger² = 1 − ΣBC; the TOTAL is left to the caller because a
    float sum's order is engine-dependent, same caller contract as
    ``category_drift``'s χ²).

    Scale: identical plan to ``category_drift`` — two map-side-combined
    count shuffles carrying |categories| rows, one tiny outer join, a
    broadcast 1-row totals; neither input scanned twice or shuffled
    raw. Empty side ⇒ empty frame (see ``_two_sample_counts``).
    """
    j = _two_sample_counts(df_a, df_b, category_col)
    dl = "decimal(19,0)"
    cross_a = (F.col("n_a").cast(dl) * F.col("_tb").cast(dl)).cast("decimal(38,0)")
    cross_b = (F.col("n_b").cast(dl) * F.col("_ta").cast(dl)).cast("decimal(38,0)")
    abs_diff = F.abs(cross_a - cross_b)
    denom = (
        F.lit(2).cast(dl) * F.col("_ta").cast(dl) * F.col("_tb").cast(dl)
    ).cast("decimal(38,0)")
    if per_category:
        na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
        ta, tb = F.col("_ta").cast("double"), F.col("_tb").cast("double")
        return j.select(
            "category",
            "n_a",
            "n_b",
            (na / ta).alias("rate_a"),
            (nb / tb).alias("rate_b"),
            (_d(abs_diff) / _d(denom)).alias("tv_contrib"),
            F.sqrt((na / ta) * (nb / tb)).alias("bc_contrib"),
        )
    agg = j.groupBy("_ta", "_tb").agg(
        F.count(F.lit(1)).cast("long").alias("n_categories"),
        F.sum(abs_diff).cast("decimal(38,0)").alias("_numer"),
    )
    return agg.select(
        F.col("_ta").alias("n_a"),
        F.col("_tb").alias("n_b"),
        "n_categories",
        (_d(F.col("_numer")) / _d(denom)).alias("tv"),
    )


def _shuffle_partitions(spark, num_partitions: int | None = None) -> int:
    """The bucket count ``_prefix_sums`` uses: the explicit override or
    the session's shuffle-partition setting."""
    return int(
        num_partitions
        or spark.conf.get("spark.sql.shuffle.partitions", "200")
    )


def _order_bounds(
    df: DataFrame, order_col: str, num_partitions: int
) -> list[float]:
    """The range-bucket boundaries ``_prefix_sums`` derives for
    ``order_col`` (P-1 approx-quantile split points over its numeric
    view), exposed so a caller running SEVERAL prefix passes over the
    same order domain computes them ONCE and passes ``bounds=`` down —
    any fixed boundary list is correctness-neutral (the bucket id is a
    pure expression over literals, monotone for ANY thresholds), so
    reuse only trades bucket balance, never results. Returns [] when
    the column has no numeric view (single-bucket fallback)."""
    v_num = _order_numeric_view(df, order_col)
    if v_num is None or num_partitions <= 1:
        return []
    probs = [i / num_partitions for i in range(1, num_partitions)]
    return sorted(
        set(
            df.select(v_num.alias("_v"))
            .where(F.col("_v").isNotNull())
            .approxQuantile(
                "_v", probs, max(0.0001, 1.0 / (8 * num_partitions))
            )
        )
    )


def _pin_with_bounds(
    df: DataFrame,
    order_col: str,
    num_partitions: int | None = None,
    metrics: list[Column] | None = None,
):
    """Eager ``localCheckpoint`` pin that computes the range-bucket
    bounds (and any caller aggregates) IN THE SAME JOB, via an
    ``Observation`` riding the checkpoint action — one job submission
    where pin + ``approxQuantile`` (+ a totals branch) used to be two
    or three. At scale this is one fewer full pass over the reduced
    frame per prefix operator; locally it removes a ~0.3-0.4 s fixed
    job cost per pass (measured: the wall-exec gap of every
    ``_prefix_sums`` bench headliner).

    The bounds come from ``percentile_approx`` instead of
    ``approxQuantile`` — a different approximation of the same
    quantiles, which is correctness-neutral by the `_order_bounds`
    argument: ANY fixed boundary list yields a monotone, deterministic
    bucket id; balance is the only thing at stake.

    ``metrics``: optional aliased AGGREGATE columns over the pinned
    frame (e.g. grand totals). Their values come back as driver-side
    constants, letting callers replace a totals-subtree + 1-row
    broadcast crossJoin with plain literals.

    Returns ``(pinned_df, bounds, got)`` where ``got`` maps metric
    alias -> value (``{}`` when ``metrics`` is None)."""
    from pyspark.sql import Observation

    spark = df.sparkSession
    P = _shuffle_partitions(spark, num_partitions)
    v_num = _order_numeric_view(df, order_col)
    obs_cols = list(metrics or [])
    want_bounds = v_num is not None and P > 1
    if want_bounds:
        probs = ",".join(repr(i / P) for i in range(1, P))
        acc = max(10000, 8 * P)
        obs_cols.append(
            F.percentile_approx(
                v_num, F.expr(f"array({probs})"), F.lit(acc)
            ).alias("_pin_bounds")
        )
    if not obs_cols:
        return df.localCheckpoint(eager=True), [], {}
    obs = Observation()
    pinned = df.observe(obs, *obs_cols).localCheckpoint(eager=True)
    got = dict(obs.get)
    qs = got.pop("_pin_bounds", None)
    bounds = (
        sorted({float(b) for b in qs if b is not None}) if qs else []
    )
    return pinned, bounds, got


def _order_numeric_view(df: DataFrame, order_col: str):
    """Monotone numeric view of ``order_col`` for range bucketing
    (dates → day index, timestamps → epoch seconds, numerics as-is,
    None for non-numeric types)."""
    from pyspark.sql.types import (
        DateType,
        NumericType,
        TimestampNTZType,
        TimestampType,
    )

    dtype = df.schema[order_col].dataType
    if isinstance(dtype, DateType):
        return F.unix_date(F.col(order_col)).cast("double")
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        return F.col(order_col).cast("timestamp").cast("double")
    if isinstance(dtype, NumericType):
        return F.col(order_col).cast("double")
    return None


def _prefix_sums(
    df: DataFrame,
    order_col: str,
    sum_cols: list[str],
    num_partitions: int | None = None,
    assume_pinned: bool = False,
    keep_pid: bool = False,
    bounds: list[float] | None = None,
) -> DataFrame:
    """Distributed prefix sums over a globally ordered frame — the
    building block a global ``Window.orderBy`` can NOT provide at
    scale (Spark plans it as a single partition holding the whole
    frame). Classic two-level scan instead:

    1. assign each row a range-bucket id ``_pid`` that is MONOTONE in
       ``order_col`` (bucket boundaries below);
    2. per-bucket running sums via a window keyed on ``_pid`` (one
       exchange of the already-reduced frame);
    3. per-bucket TOTALS (≤ P rows) get their running offsets via a
       single-partition window over P rows — bounded by the bucket
       count, not the data — and broadcast back.

    DETERMINISM (the load-bearing design point): an earlier version
    derived ``_pid`` from ``repartitionByRange`` +
    ``spark_partition_id()``. ``repartitionByRange`` SAMPLES its split
    points per physical execution (seeded by the RDD id), and the
    cumsum branch and the totals/offsets branch are separate physical
    subtrees — so unless the exchange happened to be reused, each
    branch could draw different boundaries and the offsets landed on
    the wrong buckets (observed: repeated aggregations over the same
    frame returning different sums; a ``localCheckpoint`` pin reduced
    but did not eliminate the hazard — a lost checkpoint block or
    stage retry re-executes with a fresh draw, routine at 100 TB).
    Now the split points are computed ONCE via ``approxQuantile`` over
    the (histogram-sized) input and collected to the driver as a plain
    Python list; ``_pid`` is a pure expression over that literal array
    — ``size(filter(bounds, b -> b <= v))`` — so every subtree, every
    retry, and every re-execution assigns identical bucket ids by
    construction. No checkpoint, no sampled shuffle, nothing to pin.

    Adds ``cum_<c>`` for each ``sum_cols`` entry — long for integral
    columns, exact ``decimal(38, scale)`` for decimal columns (a
    float running sum would be partition-order dependent; widening to
    38 digits keeps the per-bucket totals and offsets overflow-safe
    at any SF). Input rows must be unique in ``order_col``
    (pre-aggregate first — ties within a rank would make "the" prefix
    sum ill-defined)."""
    from pyspark.sql.types import DecimalType, NumericType

    def _acc_type(c: str) -> str:
        t = df.schema[c].dataType
        if isinstance(t, DecimalType):
            return f"decimal(38,{t.scale})"
        return "long"

    spark = df.sparkSession
    P = _shuffle_partitions(spark, num_partitions)
    # Pin the (histogram-sized) reduced frame ONCE: the boundary job
    # below plus the cumsum and totals subtrees would otherwise each
    # recompute it (measured 2x the q15_cdf_stats exec time). This
    # checkpoint is purely a compute-once device — determinism does
    # NOT depend on it (the boundaries are driver-side constants):
    # eager=True means lost blocks fail the job loudly instead of
    # recomputing with different partitioning, never silently wrong.
    # Callers that already materialized the frame (to share it across
    # their OWN extra branches) pass assume_pinned=True.
    if not assume_pinned:
        if bounds is None:
            # fused pin: checkpoint + bounds in ONE job (Observation
            # rides the checkpoint action) instead of checkpoint then
            # approxQuantile
            df, bounds, _ = _pin_with_bounds(df, order_col, P)
        else:
            df = df.localCheckpoint(eager=False)
    # monotone numeric view of the order column for bucketing: dates
    # map to their day index, timestamps to epoch seconds — so the
    # two-level scan stays distributed for temporal order columns
    # (median event time etc.), not just plain numerics (review
    # finding: the earlier numeric-only check silently collapsed
    # temporal frames to one bucket)
    v_num = _order_numeric_view(df, order_col)
    if bounds is None:
        # pinned caller without shared bounds: one tiny job over the
        # pinned frame; result is a driver-side literal, shared by ALL
        # downstream subtrees. Callers running several passes over the
        # same order domain compute this once (via _order_bounds or
        # _pin_with_bounds) and pass it down.
        bounds = _order_bounds(df, order_col, P)
    if bounds and v_num is not None:
        arr = F.array(*[F.lit(float(b)) for b in bounds])
        # count of boundaries ≤ v: monotone in order_col (the numeric
        # views above are order-preserving), deterministic, O(P)
        # comparisons per row of an already-reduced frame
        pid = F.size(F.filter(arr, lambda b: b <= v_num))
        d = df.withColumn("_pid", pid)
    else:
        # non-orderable-as-numeric column (e.g. strings) or degenerate
        # distribution: single bucket — bounded only by the reduced
        # frame's size; fine for low-cardinality keys, callers with
        # huge non-numeric domains should pre-map them to a rank
        d = df.withColumn("_pid", F.lit(0))
    w_run = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # ONE withColumns call: a per-column withColumn loop re-analyzes
    # the growing plan once per column (cox pays this scaffold per
    # Newton iteration — measured 2.3 s of its 5 s sweep build)
    d = d.withColumns({f"_loc_{c}": F.sum(c).over(w_run) for c in sum_cols})
    tot = d.groupBy("_pid").agg(
        *[F.sum(c).cast(_acc_type(c)).alias(f"_t_{c}") for c in sum_cols]
    )
    w_off = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = tot.select(
        "_pid",
        *[
            F.coalesce(F.sum(f"_t_{c}").over(w_off), F.lit(0))
            .cast(_acc_type(c))
            .alias(f"_off_{c}")
            for c in sum_cols
        ],
    )
    d = d.join(F.broadcast(off), "_pid")
    d = d.withColumns(
        {
            f"cum_{c}": (
                F.col(f"_loc_{c}") + F.col(f"_off_{c}")
            ).cast(_acc_type(c))
            for c in sum_cols
        }
    )
    return d.drop(
        *([] if keep_pid else ["_pid"]),
        *[f"_loc_{c}" for c in sum_cols],
        *[f"_off_{c}" for c in sum_cols],
    )


def spearman(
    df: DataFrame,
    x_col: str,
    y_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact Spearman rank correlation with AVERAGE ranks for ties —
    the monotone-dependence complement to ``correlation_matrix``'s
    Pearson (feature screening over heavy-tailed columns, where a
    single outlier saturates Pearson but barely moves a rank).

    Both columns rank through their VALUE HISTOGRAMS: the average
    rank of a value with ``cnt`` occurrences at cumulative offset
    ``cum`` is tracked as the integer ``r2 = 2·cum + cnt + 1`` (2×
    the textbook fractional rank — the :func:`~etl_spark_gradle_spark.
    operators.evaluation.auc` identity), so every moment
    (Σr2, Σr2², Σr2x·r2y) accumulates as exact decimal(38,0) and
    ``rho = (n·Sxy − Sx·Sy) / (sqrt(n·Sxx − Sx²)·sqrt(n·Syy − Sy²))``
    closes in the same fixed IEEE order as Pearson (the 2× factors
    cancel). r2 ≤ 2n keeps products inside 38 digits to n ≈ 10^11.

    Plan at 100 TB: rows with either side NULL drop once; each side
    reduces to its value histogram (map-side combined), the
    cumulative counts ride ``_prefix_sums`` (no single-partition
    window), the per-value rank maps join back histogram-sized
    (broadcast or shuffle — Catalyst picks), and ONE moment
    aggregation closes. Zero-variance sides (all values tied) yield
    NULL rho.

    Output: one row — ``n`` (long), ``rho`` (double)."""
    for c in (x_col, y_col):
        if c not in df.columns:
            raise TransformationError(
                f"spearman: column not in schema: {c}"
            )
    pts = (
        df.select(F.col(x_col).alias("_x"), F.col(y_col).alias("_y"))
        .where(F.col("_x").isNotNull() & F.col("_y").isNotNull())
        # feeds both histograms AND the final join — one materialization
        .localCheckpoint(eager=False)
    )

    def rank_map(col: str, out: str) -> DataFrame:
        hist = (
            pts.groupBy(F.col(col).alias("_v"))
            .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        )
        cum = _prefix_sums(hist, "_v", ["_c"], num_partitions)
        return cum.select(
            F.col("_v").alias(col),
            (
                F.lit(2) * (F.col("cum__c") - F.col("_c"))
                + F.col("_c")
                + 1
            )
            .cast("long")
            .alias(out),
        )

    joined = pts.join(rank_map("_x", "_r2x"), "_x").join(
        rank_map("_y", "_r2y"), "_y"
    )
    dec = "decimal(19,0)"
    r2x, r2y = F.col("_r2x").cast(dec), F.col("_r2y").cast(dec)
    agg = joined.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        # cast BEFORE the sum: sum(2·rank) ≈ n(n+1) overflows the
        # long accumulator (non-ANSI wraparound) past n ~ 3e9, which
        # small-SF gates can't see; decimal-in matches the DuckDB
        # oracle's HUGEINT accumulation and the _sxx/_syy/_sxy path.
        F.sum(F.col("_r2x").cast("decimal(38,0)")).alias("_sx"),
        F.sum(F.col("_r2y").cast("decimal(38,0)")).alias("_sy"),
        F.sum(r2x * r2x).cast("decimal(38,0)").alias("_sxx"),
        F.sum(r2y * r2y).cast("decimal(38,0)").alias("_syy"),
        F.sum(r2x * r2y).cast("decimal(38,0)").alias("_sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = _d(F.col("_sx")), _d(F.col("_sy"))
    sxx, syy, sxy = _d(F.col("_sxx")), _d(F.col("_syy")), _d(F.col("_sxy"))
    cov = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    return agg.select(
        "n",
        F.when((vx > 0) & (vy > 0), cov / (F.sqrt(vx) * F.sqrt(vy))).alias(
            "rho"
        ),
    )


def anova_f(
    df: DataFrame,
    value_col: str,
    factor_col: str,
    group_by: list[str] | None = None,
) -> DataFrame:
    """One-way ANOVA F statistic — the k-group extension of
    :func:`welch_ttest` (two groups ask "did the mean move"; ANOVA
    asks "do ANY of the k factor levels differ in mean", the screen
    you run before pairwise tests, with :func:`fdr_bh` closing the
    multiple-comparisons loop)::

        SSB = Σ_g (Σx_g)²/n_g − (Σx)²/N      (between groups)
        SSW = Σx² − Σ_g (Σx_g)²/n_g          (within groups)
        F   = (SSB/(k−1)) / (SSW/(N−k))

    Exactness: per-level moments (n, Σx, Σx²) are exact decimal; the
    grand Σx/Σx² stay exact by decimal addition. The one float
    accumulation — Σ_g (Σx_g)²/n_g across levels — is closed by an
    ORDERED SEQUENTIAL FOLD over the level-sorted term list
    (``aggregate(sort_array(collect_list(...)), 0.0, +)``), which
    DuckDB replays verbatim as ``list_reduce(list_prepend(0.0,
    list(t ORDER BY lvl)), +)`` — same operand order, bit-identical
    result (a bare SUM over doubles is engine-order dependent: the
    segment-tree-vs-sequential hazard documented at cusum).

    Plan at 100 TB: ONE map-side-combined shuffle on
    (group, factor level); the fold runs on the ≤-k-row per-group
    level table (factor cardinality must be modest — it is a factor).
    NULL value or level rows are excluded. Degenerate groups (k < 2,
    N ≤ k, or zero within-group variance) yield NULL ``f_stat``.

    Output: group cols + ``n``/``k_levels`` (long) +
    ``ss_between``/``ss_within``/``f_stat``/``p_value`` (double;
    p through the frozen ``f_sf`` Paulson approximation on
    F(k−1, N−k), 9-dp quantized)."""
    for c in (value_col, factor_col, *(group_by or [])):
        if c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")
    group_by = group_by or []
    per_level = (
        df.where(
            F.col(value_col).isNotNull() & F.col(factor_col).isNotNull()
        )
        .groupBy(
            *group_by, F.col(factor_col).cast("string").alias("_lvl")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum(_dec(value_col)).alias("_sum"),
            F.sum(_prod(value_col, value_col)).alias("_sumsq"),
        )
    )
    term = (
        (_d(F.col("_sum")) * _d(F.col("_sum")))
        / F.col("_n").cast("double")
    ).alias("_t")
    agg = per_level.select(*group_by, "_lvl", "_n", "_sum", "_sumsq",
                           term).groupBy(*group_by).agg(
        F.sum("_n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k_levels"),
        F.sum("_sum").alias("_gsum"),
        F.sum("_sumsq").alias("_gsumsq"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("_lvl", "_t"))),
            F.lit(0.0),
            lambda acc, x: acc + x["_t"],
        ).alias("_a"),
    )
    n = F.col("n").cast("double")
    k = F.col("k_levels").cast("double")
    ssb = F.col("_a") - (_d(F.col("_gsum")) * _d(F.col("_gsum"))) / n
    ssw = _d(F.col("_gsumsq")) - F.col("_a")
    f_stat = (ssb / (k - 1)) / (ssw / (n - k))
    f_ok = (
        (F.col("k_levels") >= 2)
        & (F.col("n") > F.col("k_levels"))
        & (ssw > 0)
    )
    return agg.select(
        *group_by,
        "n",
        "k_levels",
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        F.when(f_ok, f_stat).alias("f_stat"),
        # F(k-1, n-k) upper tail, frozen Paulson approximation
        # (see f_sf), 9-dp quantized
        F.when(
            f_ok,
            _pq(
                f_sf(
                    f_stat,
                    F.col("k_levels") - 1,
                    F.col("n") - F.col("k_levels"),
                )
            ),
        ).alias("p_value"),
    )


def kruskal_wallis(
    df: DataFrame,
    value_col: str,
    factor_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Kruskal–Wallis H — the rank-based (nonparametric) one-way
    ANOVA, pairing :func:`anova_f` exactly as :func:`rank_sum_drift`
    pairs :func:`welch_ttest`: k groups, no normality assumption,
    average ranks for ties::

        H     = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1)
        H_adj = H / (1 − Σ_v (t_v³ − t_v)/(N³ − N))   (tie correction)

    Exactness: ranks come from the POOLED value histogram as the
    integer ``r2 = 2·cum + cnt + 1`` (2× the average rank — the
    auc/spearman identity), so each group's rank sum ``S2_g = Σ c·r2``
    and the tie sum ``Σ (t³ − t)`` accumulate as exact decimal(38,0);
    the one cross-group float accumulation Σ S2_g²/(4·n_g) closes by
    the SAME ordered sequential fold as ``anova_f`` (level-sorted,
    replayed verbatim by DuckDB ``list_reduce`` — bit-identical
    operand order), and H/H_adj are a fixed short double expression.

    Plan at 100 TB: the pooled histogram reduces the data map-side;
    cumulative counts ride ``_prefix_sums`` (continuous values make
    the histogram O(rows) — never a single-partition window); the
    per-(level, value) cell table joins the histogram-sized rank map
    back (broadcast or shuffle, Catalyst picks); ONE bounded fold per
    level table. NULL value or level rows are excluded. Degenerate
    inputs (k < 2 or all values tied) yield NULL ``h``/``h_adj``.

    Output: one row — ``n``/``k_levels`` (long), ``h``/``h_adj``/
    ``p_value`` (double; p = ``chi2_sf(h_adj, k−1)``, the frozen
    approximation, 9-dp quantized)."""
    for c in (value_col, factor_col):
        if c not in df.columns:
            raise TransformationError(
                f"kruskal_wallis: column not in schema: {c}"
            )
    pts = (
        df.where(
            F.col(value_col).isNotNull() & F.col(factor_col).isNotNull()
        )
        .select(
            F.col(value_col).alias("_v"),
            F.col(factor_col).cast("string").alias("_lvl"),
        )
        # feeds the pooled histogram AND the per-level cells
        .localCheckpoint(eager=False)
    )
    hist = pts.groupBy("_v").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    cum = _prefix_sums(hist, "_v", ["_c"], num_partitions)
    rank_map = cum.select(
        "_v",
        (F.lit(2) * (F.col("cum__c") - F.col("_c")) + F.col("_c") + 1)
        .cast("long")
        .alias("_r2"),
        # per-value tie term t^3 - t, exact decimal
        (
            F.col("_c").cast("decimal(38,0)")
            * F.col("_c").cast("decimal(38,0)")
            * F.col("_c").cast("decimal(38,0)")
            - F.col("_c").cast("decimal(38,0)")
        ).alias("_tie"),
    )
    cells = pts.groupBy("_lvl", "_v").agg(
        F.count(F.lit(1)).cast("long").alias("_cv")
    )
    per_level = (
        cells.join(rank_map.select("_v", "_r2"), "_v")
        .groupBy("_lvl")
        .agg(
            F.sum("_cv").cast("long").alias("_n"),
            F.sum(
                F.col("_cv").cast("decimal(19,0)")
                * F.col("_r2").cast("decimal(19,0)")
            )
            .cast("decimal(38,0)")
            .alias("_s2"),
        )
    )
    term = (
        (_d(F.col("_s2")) * _d(F.col("_s2")))
        / (F.lit(4.0) * F.col("_n").cast("double"))
    ).alias("_t")
    agg = per_level.select("_lvl", "_n", term).agg(
        F.sum("_n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k_levels"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("_lvl", "_t"))),
            F.lit(0.0),
            lambda acc, x: acc + x["_t"],
        ).alias("_a"),
    )
    ties = rank_map.agg(F.sum("_tie").alias("_ts"))
    j = agg.crossJoin(F.broadcast(ties))
    n = F.col("n").cast("double")
    h = (F.lit(12.0) / (n * (n + 1))) * F.col("_a") - F.lit(3.0) * (
        n + 1
    )
    corr = F.lit(1.0) - _d(F.col("_ts")) / (n * n * n - n)
    kw_ok = (F.col("k_levels") >= 2) & (corr > 0)
    return j.select(
        "n",
        "k_levels",
        F.when(kw_ok, h).alias("h"),
        F.when(kw_ok, h / corr).alias("h_adj"),
        # H_adj ~ χ²(k-1) under H0 — frozen chi2_sf approximation on
        # the tie-corrected statistic (the standard convention),
        # 9-dp quantized
        F.when(
            kw_ok, _pq(chi2_sf(h / corr, F.col("k_levels") - 1))
        ).alias("p_value"),
    )


def fdr_bh(
    df: DataFrame,
    p_col: str,
    id_col: str,
    q: float = 0.05,
    num_partitions: int | None = None,
    method: str = "bh",
) -> DataFrame:
    """Benjamini–Hochberg FDR control over a p-value column — the
    multiple-comparisons close for the repo's own hypothesis-test
    family (``welch_ttest``/``prop_ztest``/``rank_sum`` emit one
    p-value per group; run ten thousand A/B reads and ~500 of the
    "significant" ones at α=0.05 are false — BH caps the expected
    false-discovery RATE at ``q`` instead; Benjamini & Hochberg 1995).

    Procedure: rank p ascending (``id_col`` tiebreak for a total
    order), find the largest rank k with ``p_(k) <= (k/m)·q``, reject
    every test ranked <= k. The comparison is spelled
    ``p·m <= rank·q`` — two double products in identical expression
    shape on both engines, no division.

    ``method="by"`` switches to Benjamini–Yekutieli (2001) — valid
    under ARBITRARY dependence between the tests (overlapping
    cohorts, correlated metrics) where BH assumes independence/PRDS:
    the threshold divides by the harmonic number ``c(m) = Σ 1/i``,
    spelled ``p·m·c ≤ rank·q``. ``c`` is computed FROM the ranked
    frame itself: each ``1/rank`` term nano-quantized to a long and
    summed EXACTLY (order-free; Σ = c·1e9 ≤ (ln m + 1)·1e9 — no
    overflow until absurd m), so both engines use the identical
    constant — never a float series evaluation.

    Plan at 100 TB: the ascending rank derives from
    ``_global_rank_desc``'s two-level scan (mirrored via _s = −p), so
    a million-test table never funnels through one task; k (and for
    BY, the harmonic constant) attach as 1-row broadcast aggregates.
    NULL p-values are excluded (they carry no evidence either way).

    Output: ``id_col`` + ``p_col`` + ``rank`` (long) + ``m`` (long)
    + ``significant`` (boolean)."""
    from etl_spark_gradle_spark.operators.evaluation import (
        _global_rank_desc,
    )

    for c in (p_col, id_col):
        if c not in df.columns:
            raise TransformationError(f"fdr_bh: column not in schema: {c}")
    if not 0.0 < float(q) < 1.0:
        raise TransformationError("fdr_bh requires 0 < q < 1")
    if method not in ("bh", "by"):
        raise TransformationError(
            f"fdr_bh method must be bh|by, got '{method}'"
        )
    pts = (
        df.where(F.col(p_col).isNotNull())
        .select(
            (-F.col(p_col).cast("double")).alias("_s"),
            F.col(id_col).alias("_id"),
            F.col(p_col).cast("double").alias("_p"),
        )
    )
    ranked = _global_rank_desc(pts, num_partitions)
    if method == "by":
        # harmonic constant from the ranked frame: exact sum of
        # femto-quantized (1e15-grain) 1/rank terms, 1-row broadcast.
        # Grain bound (ADVICE r12): each round(1e15/r) term carries
        # <= 5e-16 absolute error and underflows to 0 only for
        # r > 2e15; the summed long stays exact (c(m) <= 1e15 * H(m)
        # ~ 2.9e16 at m = 1e12, far under 2^63), so c(m) is accurate
        # to ~m * 5e-16 relative — exact for every practical m. The
        # earlier 1e9 grain lost terms past r = 2e9 and drifted
        # m * 5e-10, measurably anti-conservative at web-scale m.
        harm = ranked.agg(
            F.sum(
                F.round(
                    F.lit(1e15) / F.col("_rank").cast("double")
                ).cast("long")
            ).alias("_hq")
        )
        ranked = ranked.crossJoin(F.broadcast(harm))
        passing = F.col("_p") * F.col("_n").cast("double") * (
            F.col("_hq").cast("double") / F.lit(1e15)
        ) <= F.col("_rank").cast("double") * F.lit(float(q))
    else:
        passing = F.col("_p") * F.col("_n").cast("double") <= F.col(
            "_rank"
        ).cast("double") * F.lit(float(q))
    k = ranked.agg(
        F.coalesce(
            F.max(F.when(passing, F.col("_rank"))), F.lit(0)
        ).cast("long").alias("_k")
    )
    return ranked.crossJoin(F.broadcast(k)).select(
        F.col("_id").alias(id_col),
        F.col("_p").alias(p_col),
        F.col("_rank").alias("rank"),
        F.col("_n").alias("m"),
        (F.col("_rank") <= F.col("_k")).alias("significant"),
    )


def chi_square(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Pearson χ² test of INDEPENDENCE between two categorical
    columns of one frame, with Cramér's V effect size — the
    two-column complement to :func:`category_drift` (that one asks
    "did a distribution move between two frames"; this asks "are two
    attributes of the SAME frame associated"), feeding
    :func:`fdr_bh` when screened across many column pairs::

        χ² = Σ_ij (o_ij − e_ij)²/e_ij,   e_ij = r_i·c_j/N
        V  = sqrt(χ² / (N·min(r−1, c−1)))

    Exactness: observed cells, row totals, column totals and N are
    exact longs from one ``groupBy(x, y)`` count; each cell term is
    rewritten integer-first as ``(o·N − r·c)² / (r·c·N)`` so the only
    float steps per cell are one string-round-trip decimal→double
    conversion of each exact factor, one square, one division — and
    the cross-cell accumulation closes by an ordered fold over the
    (x, y)-sorted cell list (the :func:`anova_f` posture, replayed
    verbatim by DuckDB ``list_reduce``). ZERO-observed cells of the
    row×column grid are included (their term is e_ij), via a
    row-totals × column-totals cross join.

    Plan at 100 TB: ONE (x, y) count shuffle reduces the data to its
    contingency cells; everything after runs on r·c rows. The r×c
    grid must be BOUNDED (categorical columns — the test is undefined
    for continuous data; discretize first). ``group_by`` computes an
    independent test per group (cells carry the group key; the fold
    closes per group). NULL x or y rows are excluded. Degenerate
    grids (r < 2 or c < 2) yield NULL ``chi2``/``cramers_v``.

    Output per group: ``n`` (long), ``n_rows``/``n_cols``/``dof``
    (long), ``chi2``/``cramers_v``/``p_value`` (double; p through
    the frozen ``chi2_sf`` approximation, 9-dp quantized)."""
    group_by = group_by or []
    for c in (x_col, y_col, *group_by):
        if c not in df.columns:
            raise TransformationError(
                f"chi_square: column not in schema: {c}"
            )
    cells = (
        df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(
            *group_by,
            F.col(x_col).cast("string").alias("_x"),
            F.col(y_col).cast("string").alias("_y"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("_o"))
        # feeds row totals, col totals AND the grid join — one pin
        .localCheckpoint(eager=False)
    )
    rows = cells.groupBy(*group_by, "_x").agg(
        F.sum("_o").cast("long").alias("_r")
    )
    cols = cells.groupBy(*group_by, "_y").agg(
        F.sum("_o").cast("long").alias("_c")
    )
    # full grid: every observed x × every observed y (per group) —
    # bounded by the categorical-cardinality contract; zero-observed
    # cells still contribute e_ij to the statistic. All joins ride
    # null-safe group keys (a NULL group is a legitimate group —
    # the broadcast_group_join contract).
    grid = broadcast_group_join(rows, cols, group_by, how="inner")
    full = broadcast_group_join(
        grid, cells, [*group_by, "_x", "_y"]
    ).withColumn("_o", F.coalesce(F.col("_o"), F.lit(0)))
    dec = "decimal(38,0)"
    o, r, c = (F.col(x).cast(dec) for x in ("_o", "_r", "_c"))
    # totals are per group; N = Σ r_i over the group's row table —
    # attach via one more bounded aggregation
    totals = rows.groupBy(*group_by).agg(
        F.sum("_r").cast("long").alias("_n_tot"),
        F.count(F.lit(1)).cast("long").alias("_nr"),
    )
    ctot = cols.groupBy(*group_by).agg(
        F.count(F.lit(1)).cast("long").alias("_nc")
    )
    full = broadcast_group_join(full, totals, group_by, how="inner")
    full = broadcast_group_join(full, ctot, group_by, how="inner")
    ndec = F.col("_n_tot").cast(dec)
    # (o·N − r·c) fits decimal(38,0) up to N ~ 1e18; squaring would
    # not (1e44 at N = 1e11), so square AFTER the exact diff converts
    # to double via the string round-trip — same rewrite both engines
    diff = _d((o * ndec - r * c).cast(dec))
    den = _d((r * c * ndec).cast(dec))
    term = F.when(den > 0, diff * diff / den).otherwise(F.lit(0.0))
    per = full.select(
        *group_by,
        "_x",
        "_y",
        "_n_tot",
        "_nr",
        "_nc",
        term.alias("_t"),
    )
    agg = per.groupBy(*group_by).agg(
        F.max("_n_tot").cast("long").alias("n"),
        F.max("_nr").cast("long").alias("n_rows"),
        F.max("_nc").cast("long").alias("n_cols"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("_x", "_y", "_t"))),
            F.lit(0.0),
            lambda acc, x: acc + x["_t"],
        ).alias("_chi2"),
    )
    nr, nc = F.col("n_rows"), F.col("n_cols")
    ok = (nr >= 2) & (nc >= 2) & (F.col("n") > 0)
    mindim = F.least(nr - 1, nc - 1).cast("double")
    return agg.select(
        *group_by,
        "n",
        "n_rows",
        "n_cols",
        ((nr - 1) * (nc - 1)).cast("long").alias("dof"),
        F.when(ok, F.col("_chi2")).alias("chi2"),
        F.when(
            ok,
            F.sqrt(
                F.col("_chi2") / (F.col("n").cast("double") * mindim)
            ),
        ).alias("cramers_v"),
        # χ²(dof) upper tail, frozen approximation (see chi2_sf):
        # 9-dp quantized so both engines close to the same hash
        F.when(
            ok, _pq(chi2_sf(F.col("_chi2"), (nr - 1) * (nc - 1)))
        ).alias("p_value"),
    )


def mcnemar_test(
    df: DataFrame,
    flag_a_col: str,
    flag_b_col: str,
    group_by: list[str] | None = None,
    correction: bool = True,
) -> DataFrame:
    """McNemar's test for PAIRED binary outcomes — "did the flag flip
    between condition A and condition B on the SAME units" (model A
    vs model B correct/incorrect on the same eval rows, before/after
    flags on the same accounts). χ² of independence is wrong here:
    the two columns are paired, and only the DISCORDANT cells carry
    information::

        χ²_M = (|n01 − n10| − 1)² / (n01 + n10)   (continuity corr.)

    ``correction=False`` drops the −1 (the asymptotic form). Both
    flags are truthy casts to int (non-zero/true → 1); rows with
    either flag NULL are excluded. Exactness: the four cell counts
    are exact longs from ONE conditional aggregation (no shuffle
    beyond the group key); the statistic is a fixed three-op double
    expression. n01 + n10 = 0 yields NULL ``chi2_mcnemar``.

    Output per group: ``n, n00, n01, n10, n11`` (long),
    ``chi2_mcnemar`` (double)."""
    group_by = group_by or []
    for c in (flag_a_col, flag_b_col, *group_by):
        if c not in df.columns:
            raise TransformationError(
                f"mcnemar_test: column not in schema: {c}"
            )
    a = F.col(flag_a_col).cast("boolean").cast("int")
    b = F.col(flag_b_col).cast("boolean").cast("int")
    ok = a.isNotNull() & b.isNotNull()

    def cell(av: int, bv: int) -> Column:
        return F.count(
            F.when(ok & (a == av) & (b == bv), F.lit(1))
        ).cast("long")

    grouped = df.groupBy(*group_by) if group_by else df.groupBy()
    m = grouped.agg(
        cell(0, 0).alias("n00"),
        cell(0, 1).alias("n01"),
        cell(1, 0).alias("n10"),
        cell(1, 1).alias("n11"),
    )
    disc = (F.col("n01") + F.col("n10")).cast("double")
    delta = F.abs(F.col("n01") - F.col("n10")).cast("double")
    num = (delta - 1) * (delta - 1) if correction else delta * delta
    return m.select(
        *group_by,
        (F.col("n00") + F.col("n01") + F.col("n10") + F.col("n11"))
        .cast("long")
        .alias("n"),
        "n00",
        "n01",
        "n10",
        "n11",
        F.when(disc > 0, num / disc).alias("chi2_mcnemar"),
    )


def brown_forsythe(
    df: DataFrame,
    value_col: str,
    factor_col: str,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Brown–Forsythe test of VARIANCE homogeneity across k factor
    levels — the check :func:`anova_f` assumes away (ANOVA's F
    compares means under equal variances; Brown–Forsythe asks whether
    the variances themselves differ, robustly, as Levene's test with
    the median center): an ANOVA on the absolute deviations from each
    level's median::

        z_ij = |x_ij − median(x_·j)|,   W = anova_f(z over levels)

    Median semantics: the repo's type-1 lower discrete quantile
    (:func:`exact_quantiles` ``interpolation='lower'`` — the exact,
    cross-engine-reproducible choice; the classical interpolated
    median differs by at most half a value gap and the test's
    robustness is insensitive to it). Because inputs carry ≤ 2
    decimal digits (the module contract), both the median and the
    deviations are EXACT decimals — no float enters before
    ``anova_f``'s own closing expression.

    Plan at 100 TB: one value-histogram shuffle for the per-level
    medians (``exact_quantiles`` grouped path — levels partition the
    window), one broadcast join of the ≤k-row median table back onto
    the frame, then ``anova_f``'s single moment shuffle. With
    ``group_by``, medians and the ANOVA both key on (group, level).

    Output per group: ``anova_f``'s columns with the statistic as
    ``f_stat`` (the Brown–Forsythe W)."""
    group_by = group_by or []
    for c in (value_col, factor_col, *group_by):
        if c not in df.columns:
            raise TransformationError(
                f"brown_forsythe: column not in schema: {c}"
            )
    pts = df.where(
        F.col(value_col).isNotNull() & F.col(factor_col).isNotNull()
    ).select(
        *group_by,
        F.col(factor_col).cast("string").alias("_lvl"),
        F.col(value_col).alias("_v"),
    )
    med = exact_quantiles(
        pts, "_v", [0.5], group_by=[*group_by, "_lvl"],
        interpolation="lower",
    ).select(
        *group_by, "_lvl", F.col("value").alias("_med")
    )
    dev = broadcast_group_join(pts, med, [*group_by, "_lvl"]).select(
        *group_by,
        "_lvl",
        F.abs(F.col("_v") - F.col("_med")).alias("_dev"),
    )
    return anova_f(dev, "_dev", "_lvl", group_by=group_by)


def kendall_tau(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Kendall's τ-b rank correlation — the concordance-based
    complement to :func:`spearman` (Spearman correlates the ranks;
    Kendall counts pair ORDER agreements, the more robust and more
    interpretable statistic: P(concordant) − P(discordant))::

        τ_b = (C − D) / √((n₀ − t_x)(n₀ − t_y))

    with C/D concordant/discordant pair counts, ``n₀ = n(n−1)/2``,
    and ``t_x``/``t_y`` the pairs tied on each side.

    CARDINALITY CONTRACT: the computation runs on the (x, y) CELL
    table — C and D come from a cell×cell inequality self-join, which
    is O(cells²). This is exact and cheap for categorical / ordinal /
    DISCRETIZED data (the contract :func:`chi_square` shares — run
    :func:`discretize` first for continuous columns); it is NOT the
    O(n log n) merge-sort path, which does not distribute. All pair
    counts are exact decimal(38,0); τ closes in one fixed-order float
    expression. Rows with NULL x or y are excluded; a side with a
    single distinct value yields NULL τ.

    Output: one row — ``n`` (long), ``concordant, discordant,
    ties_x, ties_y`` (string — exact integers, the ``rank_sum_drift``
    posture), ``tau_b`` (double)."""
    for c in (x_col, y_col):
        if c not in df.columns:
            raise TransformationError(
                f"kendall_tau: column not in schema: {c}"
            )
    cells = (
        df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(F.col(x_col).alias("_x"), F.col(y_col).alias("_y"))
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        .localCheckpoint(eager=False)
    )
    dec = "decimal(38,0)"
    a, b = cells.alias("a"), cells.alias("b")
    # every unordered cell pair once (strictly greater x on the b
    # side); concordant when y agrees, discordant when it reverses —
    # pairs tied on x never join (correct: they belong to t_x only)
    pair_sums = (
        a.join(b, F.col("b._x") > F.col("a._x"))
        .select(
            (
                F.col("a._c").cast(dec) * F.col("b._c").cast(dec)
            ).alias("_cc"),
            (F.col("b._y") > F.col("a._y")).alias("_conc"),
            (F.col("b._y") < F.col("a._y")).alias("_disc"),
        )
        .agg(
            F.sum(F.when(F.col("_conc"), F.col("_cc"))).alias("_C"),
            F.sum(F.when(F.col("_disc"), F.col("_cc"))).alias("_D"),
        )
    )
    half = F.lit(2).cast(dec)

    def tie_pairs(col: str) -> Column:
        m = F.col("_m").cast(dec)
        return F.sum(m * (m - 1)).alias(f"_t{col}")

    tx = (
        cells.groupBy("_x")
        .agg(F.sum("_c").cast("long").alias("_m"))
        .agg(tie_pairs("x"))
    )
    ty = (
        cells.groupBy("_y")
        .agg(F.sum("_c").cast("long").alias("_m"))
        .agg(tie_pairs("y"))
    )
    tot = cells.agg(F.sum("_c").cast("long").alias("n"))
    j = (
        tot.crossJoin(F.broadcast(pair_sums))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
    )
    ndec = F.col("n").cast(dec)
    n0x2 = ndec * (ndec - 1)  # 2·n₀ — keep everything in 2× units
    cd = F.coalesce(F.col("_C"), F.lit(0).cast(dec)) - F.coalesce(
        F.col("_D"), F.lit(0).cast(dec)
    )
    denx = n0x2 - F.col("_tx")
    deny = n0x2 - F.col("_ty")
    # (C − D) / √((n₀−t_x)(n₀−t_y)) with the 2× units cancelling:
    # 2(C−D) / √((2n₀−2t_x)(2n₀−2t_y))
    tau = (F.lit(2.0) * _d(cd)) / F.sqrt(_d(denx) * _d(deny))
    return j.select(
        "n",
        F.coalesce(F.col("_C"), F.lit(0).cast(dec))
        .cast("string")
        .alias("concordant"),
        F.coalesce(F.col("_D"), F.lit(0).cast(dec))
        .cast("string")
        .alias("discordant"),
        (F.col("_tx") / half).cast(dec).cast("string").alias("ties_x"),
        (F.col("_ty") / half).cast(dec).cast("string").alias("ties_y"),
        F.when((denx > 0) & (deny > 0), tau).alias("tau_b"),
    )


def mann_kendall(
    df: DataFrame,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """Mann–Kendall trend test — "is this metric monotonically
    trending over time", the nonparametric monitoring standard (no
    linearity or normality assumed; robust to outliers where
    :func:`linear_fit`'s slope is not)::

        S      = Σ_{i<j} sign(v_j − v_i)           (time-ordered)
        Var(S) = [n(n−1)(2n+5) − Σ_v t_v(t_v−1)(2t_v+5)] / 18
        z      = (S ∓ 1) / √Var(S)                 (continuity corr.)

    Same bounded-cell machinery as :func:`kendall_tau` (S = C − D
    over the (time, value) cell table; the CARDINALITY CONTRACT is
    identical — bucket time and/or discretize a continuous value
    first). Tied times contribute nothing to S (correct: no order
    between them) and the variance uses the value-tie correction.
    All counts exact decimal(38,0); z closes in fixed float order.

    Output: one row — ``n`` (long), ``s`` (string — exact C−D),
    ``var_s`` (double), ``z`` (double); n < 2 or Var ≤ 0 → NULL z."""
    for c in (time_col, value_col):
        if c not in df.columns:
            raise TransformationError(
                f"mann_kendall: column not in schema: {c}"
            )
    cells = (
        df.where(F.col(time_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(F.col(time_col).alias("_x"), F.col(value_col).alias("_y"))
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        .localCheckpoint(eager=False)
    )
    dec = "decimal(38,0)"
    a, b = cells.alias("a"), cells.alias("b")
    pair_sums = (
        a.join(b, F.col("b._x") > F.col("a._x"))
        .select(
            (F.col("a._c").cast(dec) * F.col("b._c").cast(dec)).alias("_cc"),
            (F.col("b._y") > F.col("a._y")).alias("_up"),
            (F.col("b._y") < F.col("a._y")).alias("_dn"),
        )
        .agg(
            F.sum(F.when(F.col("_up"), F.col("_cc"))).alias("_C"),
            F.sum(F.when(F.col("_dn"), F.col("_cc"))).alias("_D"),
        )
    )
    ties = (
        cells.groupBy("_y")
        .agg(F.sum("_c").cast("long").alias("_m"))
        .agg(
            F.sum(
                F.col("_m").cast(dec)
                * (F.col("_m") - 1).cast(dec)
                * (F.lit(2).cast(dec) * F.col("_m").cast(dec) + 5)
            ).alias("_tv")
        )
    )
    tot = cells.agg(F.sum("_c").cast("long").alias("n"))
    j = tot.crossJoin(F.broadcast(pair_sums)).crossJoin(F.broadcast(ties))
    s_dec = F.coalesce(F.col("_C"), F.lit(0).cast(dec)) - F.coalesce(
        F.col("_D"), F.lit(0).cast(dec)
    )
    ndec = F.col("n").cast(dec)
    var_num = ndec * (ndec - 1) * (F.lit(2).cast(dec) * ndec + 5) - F.col(
        "_tv"
    )
    var_s = _d(var_num.cast(dec)) / F.lit(18.0)
    s_d = _d(s_dec.cast(dec))
    z = F.when(
        s_d > 0, (s_d - 1) / F.sqrt(var_s)
    ).when(s_d < 0, (s_d + 1) / F.sqrt(var_s)).otherwise(F.lit(0.0))
    return j.select(
        "n",
        s_dec.cast(dec).cast("string").alias("s"),
        F.when(F.col("n") >= 2, var_s).alias("var_s"),
        F.when((F.col("n") >= 2) & (var_s > 0), z).alias("z"),
    )


def pettitt_test(
    df: DataFrame,
    time_col: str,
    value_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Pettitt changepoint test (Pettitt 1979) — the WHEN to
    :func:`mann_kendall`'s WHETHER: locate the single most likely
    abrupt shift in a metric's level over time, rank-based (no
    normality, robust to outliers), the standard nonparametric
    changepoint detector in monitoring and hydrology::

        U_t = Σ_{i≤t} Σ_{j>t} sgn(v_j − v_i),   K = max_t |U_t|

    evaluated at every distinct-time boundary (a split INSIDE a tied
    timestamp has no defined order). The naive double sum is O(n²);
    the midrank identity collapses it: each element's signed
    comparisons against ALL others total N + 1 − 2·r_i (midrank r_i),
    and the prefix's internal pairs cancel by antisymmetry, so

        U_t = t·(N + 1) − Σ_{i≤t} 2·r_i

    — doubled midranks ``2r = 2·#less + t_v + 1`` are exact INTEGERS
    from the value histogram (the ``spearman``/``auc`` identity), and
    U_t stays exact decimal end-to-end. K and U are published as
    exact strings; ``k_frac = 4K/N²`` ∈ [0, 1] is the one float close
    (a clean half-split step change reads 1.0). No p-value by the
    ``welch_ttest`` posture (the caller applies Pettitt's
    2·exp(−6K²/(N³+N²)) approximation — cross-engine ``exp`` is not
    ulp-stable enough for the hash gate).

    Plan at 100 TB: ONE value-histogram shuffle → ranks via
    ``_prefix_sums``' two-level scan; one value-keyed join attaches
    ranks (both sides hash-partitioned on the value); ONE
    distinct-time shuffle reduces to (t, count, Σ2r), pinned once;
    time-ordered prefix sums ride a second two-level scan; the 1-row
    total broadcasts; K + argmax close in a single max(struct)
    aggregation — smallest attaining time wins, deterministic under
    ties. NULL time or value rows are excluded.

    Output: ONE row — ``n`` (long), ``k_num``/``u_num`` (exact
    integer strings; u_num signed), ``change_at`` (last point of the
    maximizing prefix, in the time column's own type), ``k_frac``
    (double). Empty input → empty frame."""
    from pyspark.sql.types import (
        DateType,
        NumericType,
        TimestampNTZType,
        TimestampType,
    )

    for c in (time_col, value_col):
        if c not in df.columns:
            raise TransformationError(
                f"pettitt_test: column not in schema: {c}"
            )
    tdtype = df.schema[time_col].dataType
    if isinstance(tdtype, DateType):
        def _tnum(c):
            return F.unix_date(c).cast("double")
    elif isinstance(tdtype, (TimestampType, TimestampNTZType)):
        def _tnum(c):
            return c.cast("timestamp").cast("double")
    elif isinstance(tdtype, NumericType):
        def _tnum(c):
            return c.cast("double")
    else:
        raise TransformationError(
            "pettitt_test: time column must be numeric, date, or "
            f"timestamp (got {tdtype.simpleString()} — a changepoint "
            "needs an ordered axis)"
        )
    pts = df.select(
        F.col(time_col).alias("_t"), F.col(value_col).alias("_v")
    ).where(F.col("_t").isNotNull() & F.col("_v").isNotNull())
    hist = pts.groupBy("_v").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    ranks = _prefix_sums(hist, "_v", ["_c"], num_partitions).select(
        "_v",
        (
            F.lit(2) * (F.col("cum__c") - F.col("_c"))
            + F.col("_c")
            + F.lit(1)
        ).cast("long").alias("_r2"),
    )
    joined = pts.join(ranks, "_v")
    dec = "decimal(38,0)"
    per_t = joined.groupBy("_t").agg(
        F.count(F.lit(1)).cast("long").alias("_ct"),
        F.sum(F.col("_r2").cast(dec)).cast(dec).alias("_sr2"),
    )
    # fused pin: checkpoint + range bounds + the n total in ONE job;
    # n attaches as a driver literal instead of a 1-row broadcast
    per_t, bounds, got = _pin_with_bounds(
        per_t, "_t", num_partitions,
        metrics=[F.sum("_ct").cast("long").alias("n")],
    )
    cum = _prefix_sums(
        per_t, "_t", ["_ct", "_sr2"], num_partitions, assume_pinned=True,
        bounds=bounds,
    )
    n_tot = got["n"]
    j = cum.withColumn("n", F.lit(n_tot).cast("long"))
    if not n_tot:
        # empty input empties the frame exactly where the old
        # filtered-totals crossJoin did
        j = j.where(F.lit(False))
    u = (
        F.col("cum__ct").cast(dec) * (F.col("n") + 1).cast(dec)
        - F.col("cum__sr2")
    ).cast(dec)
    # single-pass K + argmax: struct max orders by (|U|, −t), so the
    # winner is (supremum, smallest time attaining it); U rides along
    # determined by the first two fields (the ks_drift close)
    best = j.select(
        "n",
        F.struct(
            F.abs(u).alias("k"),
            (-_tnum(F.col("_t"))).alias("nt"),
            F.col("_t").alias("at"),
            u.alias("u"),
        ).alias("_s"),
    ).groupBy("n").agg(F.max("_s").alias("_b"))
    nd = F.col("n").cast("double")
    return best.select(
        "n",
        F.col("_b.k").cast("string").alias("k_num"),
        F.col("_b.u").cast("string").alias("u_num"),
        F.col("_b.at").alias("change_at"),
        (_d(F.col("_b.k")) * F.lit(4.0) / (nd * nd)).alias("k_frac"),
    )


def theil_sen(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Theil–Sen robust slope — the median of all pairwise slopes
    ``(y_j − y_i)/(x_j − x_i)``, with the median-based intercept
    ``median(y) − slope·median(x)``. Breakdown point ~29%: a third of
    the data can be arbitrarily corrupt before the estimate moves,
    where :func:`linear_fit`'s OLS slope follows a single outlier.
    The standard robust trend line for monitoring series.

    Same CARDINALITY CONTRACT as :func:`kendall_tau`: pair slopes
    come from the (x, y) cell table (cell×cell join on distinct x),
    each slope weighted by ``c_i·c_j``, and the WEIGHTED median is
    read from the slope table's exact cumulative weights (type-1
    lower median — the :func:`exact_quantiles` convention). Medians
    of x and y use the same exact-CDF machinery. Slopes are the one
    float per pair-cell (one subtraction-division, fixed order);
    everything else is exact integer/decimal.

    Output: one row — ``n`` (long), ``n_pairs`` (string — exact),
    ``slope``/``intercept`` (double). All x tied → NULL slope."""
    for c in (x_col, y_col):
        if c not in df.columns:
            raise TransformationError(
                f"theil_sen: column not in schema: {c}"
            )
    pts = df.where(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
    )
    cells = (
        pts.groupBy("_x", "_y")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        .localCheckpoint(eager=False)
    )
    dec = "decimal(38,0)"
    a, b = cells.alias("a"), cells.alias("b")
    slopes = (
        a.join(b, F.col("b._x") > F.col("a._x"))
        .select(
            (
                (F.col("b._y") - F.col("a._y"))
                / (F.col("b._x") - F.col("a._x"))
            ).alias("_s"),
            (F.col("a._c").cast(dec) * F.col("b._c").cast(dec)).alias(
                "_w"
            ),
        )
        .groupBy("_s")
        .agg(F.sum("_w").cast(dec).alias("_w"))
    )
    # weighted type-1 median of the slope table: smallest slope whose
    # cumulative weight reaches ceil(W/2) — the slope table is
    # cells²-bounded, so a single-partition CDF would still be fine,
    # but ride the group-free exact-quantile convention anyway
    from pyspark.sql import Window as _W

    w_order = _W.orderBy("_s").rowsBetween(
        _W.unboundedPreceding, _W.currentRow
    )
    cdf = slopes.withColumn("_cum", F.sum("_w").over(w_order))
    w_tot = slopes.agg(F.sum("_w").cast(dec).alias("_wtot"))
    cdf = cdf.crossJoin(F.broadcast(w_tot))
    half = F.ceil(F.col("_wtot").cast("double") * F.lit(0.5)).cast(dec)
    med_slope = cdf.where(F.col("_cum") >= half).agg(
        F.min("_s").alias("slope"),
        F.max(F.col("_wtot").cast("string")).alias("n_pairs"),
    )
    mx = exact_quantiles(pts, "_x", [0.5]).select(
        F.col("value").alias("_mx")
    )
    my = exact_quantiles(pts, "_y", [0.5]).select(
        F.col("value").alias("_my")
    )
    tot = pts.agg(F.count(F.lit(1)).cast("long").alias("n"))
    j = (
        tot.crossJoin(F.broadcast(med_slope))
        .crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(my))
    )
    return j.select(
        "n",
        F.coalesce(F.col("n_pairs"), F.lit("0")).alias("n_pairs"),
        F.col("slope"),
        (F.col("_my") - F.col("slope") * F.col("_mx")).alias(
            "intercept"
        ),
    )


def ks_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift statistic over a
    NUMERIC column — the continuous complement of ``category_drift``
    (feed monitoring: "did this week's score/price/latency
    DISTRIBUTION move?"). D = max_x |F_a(x) − F_b(x)| over the
    empirical CDFs, computed exactly (no binning, no sampling):

    1. both sides tagged and unioned, ONE ``groupBy(value)`` shuffle
       reduces the data to (value, n_a, n_b) counts (map-side
       partials; nulls dropped — a null has no rank);
    2. distributed prefix sums (``_prefix_sums`` — range-partitioned
       two-level scan, never a single-partition global window) give
       both cumulative counts in one pass;
    3. the KS numerator is kept in INTEGER arithmetic:
       ``d_num = |cum_a·n_b − cum_b·n_a|`` (decimal, exact for any long counts),
       so max-finding and the cross-engine hash gate involve no float
       comparison; D itself closes as ``double(d_num)/(n_a·n_b)`` in
       fixed operand order.

    Returns ONE row: ``n_a, n_b, d_num (string — exact integer past
    pandas' wide-decimal mangling), ks_d (double), ks_at`` (the
    smallest value attaining the supremum — deterministic under
    ties). Empty input on either side yields an empty frame (no CDF
    to compare). ``ks_d`` is exact while ``d_num`` and ``n_a·n_b``
    fit a double's 53-bit mantissa (n_a·n_b < 9·10¹⁵ — beyond that
    the string-cast division is still correctly rounded per engine
    but the last ulp may differ; ``d_num`` stays exact always).

    At 100 TB: the plan references the pooled count table from four
    lineages (cumsums, totals, the max, the argmax join); the cumsum
    side is computed ONCE behind ``_prefix_sums``' pinned checkpoint,
    and the remaining branches sit above the same ``groupBy(v)``
    exchange (AQE exchange reuse) — the raw inputs are scanned once
    each. The only sub-distributed pieces are bounded by the
    PARTITION COUNT, not the data (the ≤P-row offset window; the side
    totals come back as driver literals on the fused pin job)."""
    for df, side in ((df_a, "a"), (df_b, "b")):
        if value_col not in df.columns:
            raise TransformationError(
                f"ks_drift: value column not in side-{side} schema: {value_col}"
            )
    a = df_a.select(F.col(value_col).alias("v")).where(
        F.col("v").isNotNull()
    ).select("v", F.lit(1).alias("ca"), F.lit(0).alias("cb"))
    b = df_b.select(F.col(value_col).alias("v")).where(
        F.col("v").isNotNull()
    ).select("v", F.lit(0).alias("ca"), F.lit(1).alias("cb"))
    pooled = (
        a.unionByName(b)
        .groupBy("v")
        .agg(
            F.sum("ca").cast("long").alias("ca"),
            F.sum("cb").cast("long").alias("cb"),
        )
        # materialized ONCE (fused pin): the count table feeds several
        # lineages (cumsums, peak/argmax) — without the pin each branch
        # would replay the union + groupBy shuffle; bounds and side
        # totals ride the SAME checkpoint job
    )
    pooled, bounds, got = _pin_with_bounds(
        pooled, "v", num_partitions,
        metrics=[
            F.sum("ca").cast("long").alias("n_a"),
            F.sum("cb").cast("long").alias("n_b"),
        ],
    )
    cum = _prefix_sums(
        pooled, "v", ["ca", "cb"], num_partitions, assume_pinned=True,
        bounds=bounds,
    )
    n_a, n_b = got["n_a"], got["n_b"]
    dec = "decimal(19,0)"  # full long range: no silent NULL-on-overflow window (ADVICE r4)
    d_num = F.abs(
        F.col("cum_ca").cast(dec) * F.lit(n_b).cast(dec)
        - F.col("cum_cb").cast(dec) * F.lit(n_a).cast(dec)
    )
    diffs = cum.select(
        "v",
        d_num.alias("d_num"),
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
    )
    if not (n_a and n_b):
        # an empty side empties the frame exactly where the old
        # filtered-totals crossJoin did
        diffs = diffs.where(F.lit(False))
    from pyspark.sql.types import NumericType

    if isinstance(df_a.schema[value_col].dataType, NumericType):
        # SINGLE-PASS peak+argmax: max(struct(d_num, -v)) orders by the
        # exact decimal numerator first, then by NEGATED value — so the
        # struct max is (supremum, smallest v attaining it) in one
        # aggregation. The earlier max-then-broadcast-join close
        # referenced `diffs` twice, and Spark re-executes non-exchange
        # subtrees per reference: the 600k-row cumsum window ran TWICE
        # (measured 24 WindowExec materializations per ks_drift run at
        # sf0.1 — the q15 bench gap flagged in VERDICT r6). Double
        # negation is exact for every numeric type, so ks_at is
        # byte-identical to the join path.
        best = diffs.groupBy("n_a", "n_b").agg(
            F.max(
                F.struct(
                    F.col("d_num").alias("d"), (-F.col("v")).alias("nv")
                )
            ).alias("_best")
        )
        return best.select(
            "n_a",
            "n_b",
            F.col("_best.d").cast("string").alias("d_num"),
            (
                F.col("_best.d").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("ks_d"),
            (-F.col("_best.nv")).alias("ks_at"),
        )
    # non-numeric orderable values (dates): negation is undefined, keep
    # the two-pass max + broadcast-probe argmax close
    peak = diffs.agg(F.max("d_num").alias("_m"))
    return (
        diffs.join(F.broadcast(peak), diffs["d_num"] == F.col("_m"))
        .groupBy("n_a", "n_b")
        .agg(
            F.min("v").alias("ks_at"),
            F.max(F.col("d_num").cast("string")).alias("d_num"),
        )
        .select(
            "n_a",
            "n_b",
            "d_num",
            (
                F.col("d_num").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("ks_d"),
            "ks_at",
        )
    )


def anderson_darling_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Two-sample Anderson–Darling drift statistic (Scholz–Stephens
    A²akN, k = 2, midrank/tie-adjusted form) — the tail-sensitive
    companion to :func:`ks_drift`: KS sees only the single largest
    CDF gap (middle-heavy); AD integrates the squared gap with
    1/(F(1−F)) weighting, so a shift that lives in the DISTRIBUTION
    TAILS — exactly where latency/price/score drift bites — moves A²
    long before it moves D::

        A² = (N−1)/N · Σ_{i∈{a,b}} (1/n_i) Σ_j (t_j/N) ·
             (N·M_ij − n_i·B_j)² / (B_j(N−B_j) − N·t_j/4)

    with t_j the pooled multiplicity at the j-th distinct value and
    B_j / M_ij midrank cumulative counts (B_{j−1} + t_j/2). Under H0,
    E[A²] = 1; the raw statistic is the gateable core (the
    studentized version needs the Scholz–Stephens variance lookup the
    caller applies — the ``welch_ttest`` no-p-value posture).

    Exactness: doubled midranks ``2B``/``2M`` are exact INTEGERS from
    the pooled-histogram prefix sums; each distinct value's
    contribution is a fixed-operand-order double expression
    nano-quantized to a long (the ``logrank_test`` posture), and the
    quantized terms sum EXACTLY — partition-order free, replayed
    verbatim by the SQL oracle. Bound: Σ terms = A² ≤ N, so the long
    sum holds to N ~ 9·10⁹ pooled rows.

    Plan at 100 TB: both sides reduce map-side onto ONE pooled
    (value, n_a, n_b) histogram (pinned — it feeds the scan and the
    totals branch); cumulative counts ride ``_prefix_sums``' two-level
    scan (continuous values never funnel one task); totals attach as
    driver literals (fused pin); one bounded final aggregation. NULL values are
    excluded. A single distinct value (t = N) has an undefined weight
    and contributes 0; empty sides yield an empty frame.

    Output: ONE row — ``n_a``/``n_b``/``n_values`` (long), ``a2``
    (double)."""
    for df, side in ((df_a, "a"), (df_b, "b")):
        if value_col not in df.columns:
            raise TransformationError(
                "anderson_darling_drift: value column not in "
                f"side-{side} schema: {value_col}"
            )
    a = df_a.select(F.col(value_col).alias("v")).where(
        F.col("v").isNotNull()
    ).select("v", F.lit(1).alias("ca"), F.lit(0).alias("cb"))
    b = df_b.select(F.col(value_col).alias("v")).where(
        F.col("v").isNotNull()
    ).select("v", F.lit(0).alias("ca"), F.lit(1).alias("cb"))
    pooled = (
        a.unionByName(b)
        .groupBy("v")
        .agg(
            F.sum("ca").cast("long").alias("ca"),
            F.sum("cb").cast("long").alias("cb"),
        )
    )
    # fused pin: checkpoint + range bounds + side totals in ONE job;
    # totals attach as driver literals instead of a 1-row broadcast
    pooled, bounds, got = _pin_with_bounds(
        pooled, "v", num_partitions,
        metrics=[
            F.sum("ca").cast("long").alias("n_a"),
            F.sum("cb").cast("long").alias("n_b"),
        ],
    )
    cum = _prefix_sums(
        pooled, "v", ["ca", "cb"], num_partitions, assume_pinned=True,
        bounds=bounds,
    )
    n_a, n_b = got["n_a"], got["n_b"]
    j = cum.withColumn("n_a", F.lit(n_a).cast("long")).withColumn(
        "n_b", F.lit(n_b).cast("long")
    )
    if not (n_a and n_b):
        # an empty side empties the frame exactly where the old
        # filtered-totals crossJoin did
        j = j.where(F.lit(False))
    # doubled midranks: exact integers (2M = 2·cum_incl − own count)
    t = (F.col("ca") + F.col("cb")).cast("double")
    ua = (F.lit(2) * F.col("cum_ca") - F.col("ca")).cast("double")
    ub = (F.lit(2) * F.col("cum_cb") - F.col("cb")).cast("double")
    vv = (
        F.lit(2) * (F.col("cum_ca") + F.col("cum_cb"))
        - (F.col("ca") + F.col("cb"))
    ).cast("double")
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    nn = na + nb
    # den = 16·[B(N−B) − N·t/4] with B = V/2: V(2N−V) − N·t, ≥ 0,
    # zero only when t = N (one distinct value)
    den = vv * (F.lit(2.0) * nn - vv) - nn * t
    ga = (nn * ua - na * vv)
    gb = (nn * ub - nb * vv)
    # per-value contribution to A², spelled in the order the oracle
    # replays; the /4 from squaring the halved midranks cancels the
    # /4 in den's scaling exactly
    term = (
        (nn - F.lit(1.0))
        / nn
        * (t / nn)
        * (ga * ga / (na * den) + gb * gb / (nb * den))
    )
    q = F.when(den > 0, F.round(term * F.lit(1e9)).cast("long")).otherwise(
        F.lit(0)
    )
    agg = j.select("n_a", "n_b", q.alias("_q")).groupBy(
        "n_a", "n_b"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_values"),
        F.sum("_q").cast("long").alias("_sq"),
    )
    return agg.select(
        "n_a",
        "n_b",
        "n_values",
        (F.col("_sq").cast("double") / F.lit(1e9)).alias("a2"),
    )


def _two_sample_cdf(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    op_name: str,
    num_partitions: int | None = None,
    with_gap: bool = False,
) -> DataFrame:
    """Shared scaffold for the continuous two-sample drift family
    (``wasserstein_drift`` / ``kuiper_drift`` /
    ``cramer_von_mises_drift`` / ``energy_distance_drift``): both
    sides tag-and-union onto ONE pooled (value, n_a-count, n_b-count)
    histogram (map-side partials; NULLs dropped — a null has no rank;
    pinned ONCE because it feeds both the prefix-sum scan and the
    totals branch), cumulative counts ride ``_prefix_sums``'
    range-bucketed two-level scan (continuous values never funnel one
    task), and the side totals attach as driver literals from the
    fused pin job, guarded n>0 on BOTH sides, so drift against an
    empty side yields an EMPTY frame (the ks_drift contract, ADVICE
    r4).

    With ``with_gap=True`` each distinct value also carries ``_gap``
    = next distinct pooled value − v (NULL for the last value): a
    ``lead`` WITHIN each _pid range bucket, then each bucket's last
    row repaired by the next NONEMPTY bucket's first value — a
    bounded ≤P-row window, never a global sort (quantile split-point
    ties can leave empty buckets, so a plain pid−1 shift would
    silently drop the crossing segment). ``ks_drift`` and
    ``anderson_darling_drift`` predate this helper and keep their
    audited inline form (identical shape) pinned.

    Output columns: ``v ca cb cum_ca cum_cb n_a n_b`` (+ ``_gap``)."""
    for df, side in ((df_a, "a"), (df_b, "b")):
        if value_col not in df.columns:
            raise TransformationError(
                f"{op_name}: value column not in "
                f"side-{side} schema: {value_col}"
            )
    a = df_a.select(F.col(value_col).alias("v")).where(
        F.col("v").isNotNull()
    ).select("v", F.lit(1).alias("ca"), F.lit(0).alias("cb"))
    b = df_b.select(F.col(value_col).alias("v")).where(
        F.col("v").isNotNull()
    ).select("v", F.lit(0).alias("ca"), F.lit(1).alias("cb"))
    pooled = (
        a.unionByName(b)
        .groupBy("v")
        .agg(
            F.sum("ca").cast("long").alias("ca"),
            F.sum("cb").cast("long").alias("cb"),
        )
    )
    # fused pin: checkpoint + range bounds + side totals in ONE job
    # (was three: checkpoint, approxQuantile, and a totals subtree
    # with its own broadcast exchange in the final plan)
    pooled, bounds, got = _pin_with_bounds(
        pooled, "v", num_partitions,
        metrics=[
            F.sum("ca").cast("long").alias("n_a"),
            F.sum("cb").cast("long").alias("n_b"),
        ],
    )
    cum = _prefix_sums(
        pooled, "v", ["ca", "cb"], num_partitions, assume_pinned=True,
        keep_pid=with_gap, bounds=bounds,
    )
    n_a, n_b = got["n_a"], got["n_b"]
    # totals attach as driver literals; an empty side empties the
    # frame exactly where the old filtered-totals crossJoin did
    j = cum.withColumn("n_a", F.lit(n_a).cast("long")).withColumn(
        "n_b", F.lit(n_b).cast("long")
    )
    if not (n_a and n_b):
        j = j.where(F.lit(False))
    if not with_gap:
        return j
    from pyspark.sql import Window

    w_in = Window.partitionBy("_pid").orderBy("v")
    j = j.withColumn("_nv", F.lead("v").over(w_in))
    firsts = cum.groupBy("_pid").agg(F.min("v").alias("_fv"))
    w_nb = Window.orderBy("_pid").rowsBetween(
        1, Window.unboundedFollowing
    )
    firsts = firsts.withColumn(
        "_next_first", F.min("_fv").over(w_nb)
    ).select("_pid", "_next_first")
    j = j.join(F.broadcast(firsts), "_pid", "left")
    return j.withColumn(
        "_gap",
        F.coalesce(F.col("_nv"), F.col("_next_first")).cast("double")
        - F.col("v").cast("double"),
    ).drop("_nv", "_next_first", "_pid")


def kuiper_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Two-sample Kuiper drift statistic V = D⁺ + D⁻ — the
    direction-aware companion to :func:`ks_drift`. KS reports only
    the single largest |CDF gap| and under-reads drift whose signed
    gap F_a − F_b has one positive and one negative lobe (the
    variance-change signature: mass leaves the middle symmetrically,
    each lobe half the size one-sided drift would produce); Kuiper
    adds the largest gap in EACH direction (Kuiper 1960), giving
    equal sensitivity at the median and in the tails::

        D⁺ = max_x (F_a(x) − F_b(x)),  D⁻ = max_x (F_b(x) − F_a(x)),
        V  = D⁺ + D⁻ ∈ [0, 2],  V ≥ D_KS always

    Exactness: the SIGNED gap numerator ``s = cum_a·n_b − cum_b·n_a``
    is an exact decimal integer (the ks_drift posture); both
    directional maxima are decimal maxes — no float comparison
    anywhere — published as exact strings, and V closes as ONE double
    division of their exact sum. Both maxima are ≥ 0 by construction
    (s = 0 at the last pooled value, which every CDF pair reaches).

    Plan at 100 TB: identical to ``ks_drift`` — one pooled-histogram
    shuffle (pinned), the two-level prefix-sum scan, a 1-row totals
    broadcast, one bounded final aggregation. NULLs excluded; an
    empty side yields an empty frame.

    Output: ONE row — ``n_a``/``n_b``/``n_values`` (long),
    ``d_plus_num``/``d_minus_num`` (exact integer strings),
    ``kuiper_v`` (double)."""
    j = _two_sample_cdf(
        df_a, df_b, value_col, "kuiper_drift", num_partitions
    )
    dec = "decimal(19,0)"
    s = (
        F.col("cum_ca").cast(dec) * F.col("n_b").cast(dec)
        - F.col("cum_cb").cast(dec) * F.col("n_a").cast(dec)
    )
    agg = j.select("n_a", "n_b", s.alias("_s")).groupBy(
        "n_a", "n_b"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_values"),
        F.max("_s").alias("_dp"),
        F.max(-F.col("_s")).alias("_dm"),
    )
    return agg.select(
        "n_a",
        "n_b",
        "n_values",
        F.col("_dp").cast("string").alias("d_plus_num"),
        F.col("_dm").cast("string").alias("d_minus_num"),
        (
            _d(F.col("_dp") + F.col("_dm"))
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        ).alias("kuiper_v"),
    )


def cramer_von_mises_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Two-sample Cramér–von Mises criterion (Anderson 1962 form) —
    the whole-body member of the drift family: KS reads one point of
    the CDF gap, AD weights the squared gap by 1/(F(1−F)) (tails),
    CvM integrates the UNWEIGHTED squared gap against the pooled
    empirical measure — every part of the distribution votes in
    proportion to its mass::

        T = (n_a·n_b / N²) · Σ_x (F_a(x) − F_b(x))²

    summed over all N pooled observations (each distinct value enters
    with its pooled multiplicity t). Under H0, E[T] = 1/6 + 1/(6N);
    the raw criterion is the gateable core (significance tables are
    the caller's lookup — the ``welch_ttest`` no-p-value posture).

    Exactness posture = ``anderson_darling_drift``: the gap numerator
    ``|cum_a·n_b − cum_b·n_a|`` is exact decimal integer; each
    distinct value's term is a fixed-operand-order double (replayed
    verbatim by the SQL oracle), nano-quantized to a long, and the
    quantized longs sum EXACTLY — partition-order free. Bound: each
    term ≤ t/4 (gap² ≤ 1 and n_a·n_b/N² ≤ 1/4), so Σ = T·1e9 ≤
    N/4·1e9 — the long sum holds to N ~ 3.6·10¹⁰ pooled rows.

    Plan at 100 TB: one pooled-histogram shuffle (pinned), the
    two-level prefix-sum scan, totals as driver literals from the
    fused pin job, one bounded final aggregation. NULLs excluded; an
    empty side yields an empty frame.

    Output: ONE row — ``n_a``/``n_b``/``n_values`` (long), ``cvm_t``
    (double)."""
    j = _two_sample_cdf(
        df_a, df_b, value_col, "cramer_von_mises_drift", num_partitions
    )
    dec = "decimal(38,0)"
    d_num = F.abs(
        F.col("cum_ca").cast(dec) * F.col("n_b").cast(dec)
        - F.col("cum_cb").cast(dec) * F.col("n_a").cast(dec)
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    nn = na + nb
    t = (F.col("ca") + F.col("cb")).cast("double")
    # the CDF gap in double — d_num through the STRING round-trip
    # (_d): DuckDB's direct wide-decimal→double cast is 1 ulp off
    # past 53 bits, and an ulp on a .5 boundary would flip a
    # quantized term
    g = _d(d_num) / (na * nb)
    term = t * g * g * (na * nb) / (nn * nn)
    q = F.round(term * F.lit(1e9)).cast("long")
    agg = j.select("n_a", "n_b", q.alias("_q")).groupBy(
        "n_a", "n_b"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_values"),
        F.sum("_q").cast("long").alias("_sq"),
    )
    return agg.select(
        "n_a",
        "n_b",
        "n_values",
        (F.col("_sq").cast("double") / F.lit(1e9)).alias("cvm_t"),
    )


def energy_distance_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact 1-D energy distance (Székely–Rizzo) — the squared-gap
    sibling of :func:`wasserstein_drift`, via the 1-D closed form::

        E = 2·E|X−Y| − E|X−X′| − E|Y−Y′| = 2 · ∫ (F_a − F_b)² dx

    Both read in the value's own units and are scale-EQUIVARIANT
    (E(cX, cY) = c·E(X, Y)); W1 weights every CDF gap linearly (total
    transport cost), energy squares it, so one large coherent
    displacement dominates many small wiggles — the metric behind the
    standard energy two-sample test and common in production drift
    monitors. E = 0 iff the distributions coincide.

    Exactness posture = ``wasserstein_drift``: exact decimal CDF-gap
    numerators; value gaps from the two-level lead (within-bucket
    ``lead`` + bounded next-nonempty-bucket repair, never a global
    sort); each segment's term is a fixed-operand-order double,
    nano-quantized, and the quantized longs sum EXACTLY. Bound: gap²
    ≤ 1 so Σ = E·1e9 ≤ 2·range·1e9 — holds while the value RANGE is
    < 4.6·10⁹ units (rescale wider domains first).

    Plan at 100 TB: identical to ``wasserstein_drift``. NULLs
    excluded; an empty side yields an empty frame; the last pooled
    value has no successor and contributes 0.

    Output: ONE row — ``n_a``/``n_b``/``n_values`` (long), ``energy``
    (double)."""
    j = _two_sample_cdf(
        df_a, df_b, value_col, "energy_distance_drift",
        num_partitions, with_gap=True,
    )
    dec = "decimal(38,0)"
    d_num = F.abs(
        F.col("cum_ca").cast(dec) * F.col("n_b").cast(dec)
        - F.col("cum_cb").cast(dec) * F.col("n_a").cast(dec)
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    g = _d(d_num) / (na * nb)
    term = F.lit(2.0) * F.col("_gap") * g * g
    q = F.when(
        term.isNotNull(), F.round(term * F.lit(1e9)).cast("long")
    ).otherwise(F.lit(0))
    agg = j.select("n_a", "n_b", q.alias("_q")).groupBy(
        "n_a", "n_b"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_values"),
        F.sum("_q").cast("long").alias("_sq"),
    )
    return agg.select(
        "n_a",
        "n_b",
        "n_values",
        (F.col("_sq").cast("double") / F.lit(1e9)).alias("energy"),
    )


def wasserstein_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth-mover) drift distance — the
    magnitude-aware member of the drift family: KS reports the
    largest CDF gap, AD the tail-weighted integral, W1 the literal
    COST of moving this week's distribution onto last week's, in the
    value's own units (dollars, seconds, score points)::

        W1 = ∫ |F_a(x) − F_b(x)| dx
           = Σ_j (v_{j+1} − v_j) · |F_a(v_j) − F_b(v_j)|

    summed over consecutive distinct pooled values.

    Exactness: the CDF gap numerator ``|cum_a·n_b − cum_b·n_a|`` is
    EXACT decimal integer (the ``ks_drift`` posture); each segment's
    contribution multiplies it by the value gap in double (fixed
    operand order), nano-quantizes, and the quantized longs sum
    EXACTLY — partition-order free, oracle-replayable. Bound: Σ terms
    = W1·1e9; W1 ≤ value range, so the long sum holds while
    ``range·1e9`` < 9·10¹⁸ (range < 9·10⁹ in value units — rescale
    wider domains first).

    Plan at 100 TB: identical to ``ks_drift`` — one pooled
    (value, n_a, n_b) histogram (pinned), ``_prefix_sums``' two-level
    scan for both cumulative counts, a partitioned ``lead`` on the
    histogram's _pid ... no: the next-value gap rides the SAME
    prefix-sum pass by attaching each bucket's successor via the
    range-bucketed self-join-free lead below. NULLs excluded; empty
    sides yield an empty frame.

    Output: ONE row — ``n_a``/``n_b``/``n_values`` (long), ``w1``
    (double)."""
    j = _two_sample_cdf(
        df_a, df_b, value_col, "wasserstein_drift",
        num_partitions, with_gap=True,
    )
    gap = F.col("_gap")
    dec = "decimal(38,0)"
    d_num = F.abs(
        F.col("cum_ca").cast(dec) * F.col("n_b").cast(dec)
        - F.col("cum_cb").cast(dec) * F.col("n_a").cast(dec)
    )
    # segment term = gap · d_num/(n_a·n_b), nano-quantized; the last
    # pooled value has no successor (gap NULL) and contributes 0.
    # d_num goes through the STRING round-trip (_d): a direct wide-
    # decimal→double cast is 1 ulp off in DuckDB past 53 bits, and an
    # ulp on a .5 rounding boundary would flip a quantized term
    term = (
        gap
        * (
            _d(d_num)
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        )
    )
    q = F.when(term.isNotNull(), F.round(term * F.lit(1e9)).cast("long")
               ).otherwise(F.lit(0))
    agg = j.select("n_a", "n_b", q.alias("_q")).groupBy("n_a", "n_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_values"),
        F.sum("_q").cast("long").alias("_sq"),
    )
    return agg.select(
        "n_a",
        "n_b",
        "n_values",
        (F.col("_sq").cast("double") / F.lit(1e9)).alias("w1"),
    )


def rank_sum_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact Mann–Whitney U (rank-sum) two-sample statistic — the
    location-shift complement to ``ks_drift`` (KS asks "did the SHAPE
    move anywhere"; U asks "does one side stochastically dominate",
    i.e. did the median shift). Reported as the AUC form
    ``P(a > b) + ½P(a = b)`` — the probability a random left-side
    value exceeds a random right-side value, ties split.

    Same machinery as ``ks_drift``: one value-keyed count shuffle to
    (value, c_a, c_b), distributed prefix sums, then U closes from the
    tie-safe identity kept in INTEGER arithmetic::

        2·U_a = Σ_v c_a(v) · (2·cum_b(v) − c_b(v))

    (for each a-observation at v: 2·#{b < v} + #{b = v}). Output ONE
    row: ``n_a, n_b, u2 (string — exact integer 2·U_a), auc (double =
    u2 / (2·n_a·n_b), fixed operand order)``. AUC 0.5 = no shift,
    1.0 = every a above every b, 0.0 = the reverse. Empty side →
    empty frame. Same 100 TB posture as ``ks_drift`` (shared
    ``_prefix_sums``; the closing sum is |distinct values|-sized)."""
    for df, side in ((df_a, "a"), (df_b, "b")):
        if value_col not in df.columns:
            raise TransformationError(
                f"rank_sum_drift: value column not in side-{side} schema: "
                f"{value_col}"
            )
    a = df_a.select(F.col(value_col).alias("v")).where(
        F.col("v").isNotNull()
    ).select("v", F.lit(1).alias("ca"), F.lit(0).alias("cb"))
    b = df_b.select(F.col(value_col).alias("v")).where(
        F.col("v").isNotNull()
    ).select("v", F.lit(0).alias("ca"), F.lit(1).alias("cb"))
    pooled = (
        a.unionByName(b)
        .groupBy("v")
        .agg(
            F.sum("ca").cast("long").alias("ca"),
            F.sum("cb").cast("long").alias("cb"),
        )
    )
    # fused pin: checkpoint + range bounds + side totals in ONE job
    # (the count table feeds the cumsum and totals lineages; totals
    # attach as driver literals instead of a 1-row broadcast)
    pooled, bounds, got = _pin_with_bounds(
        pooled, "v", num_partitions,
        metrics=[
            F.sum("ca").cast("long").alias("n_a"),
            F.sum("cb").cast("long").alias("n_b"),
        ],
    )
    cum = _prefix_sums(
        pooled, "v", ["ca", "cb"], num_partitions, assume_pinned=True,
        bounds=bounds,
    )
    n_a, n_b = got["n_a"], got["n_b"]
    j = cum.withColumn("n_a", F.lit(n_a).cast("long")).withColumn(
        "n_b", F.lit(n_b).cast("long")
    )
    if not (n_a and n_b):
        # an empty side empties the frame exactly where the old
        # filtered-totals crossJoin did
        j = j.where(F.lit(False))
    dec = "decimal(19,0)"  # full long range: no silent NULL-on-overflow window (ADVICE r4)
    term = F.col("ca").cast(dec) * (
        F.lit(2).cast(dec) * F.col("cum_cb").cast(dec) - F.col("cb").cast(dec)
    )
    return (
        j.groupBy("n_a", "n_b")
        .agg(F.sum(term).cast("decimal(38,0)").alias("_u2"))
        .select(
            "n_a",
            "n_b",
            F.col("_u2").cast("string").alias("u2"),
            (
                F.col("_u2").cast("string").cast("double")
                / (
                    F.lit(2.0)
                    * F.col("n_a").cast("double")
                    * F.col("n_b").cast("double")
                )
            ).alias("auc"),
        )
    )


def welch_ttest(
    df: DataFrame,
    value_col: str,
    side_col: str,
    side_a=None,
    side_b=None,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Welch's two-sample t-test — the parametric location-shift
    complement to ``rank_sum_drift`` (U asks "does one side dominate";
    Welch asks "did the MEAN move, scaled by per-side variance",
    without the equal-variance assumption of Student's t).

    One conditional moment aggregation per group (single shuffle on
    ``group_by``, one short row per group): exact decimal ``n/Σx/Σx²``
    per side, closed in fixed IEEE order through the string round-trip
    (the ``moment_sums`` posture — cross-engine bit-identical)::

        t  = (mean_a − mean_b) / sqrt(s²_a/n_a + s²_b/n_b)
        df = se2² / ((s²_a/n_a)²/(n_a−1) + (s²_b/n_b)²/(n_b−1))

    ``side_col`` must carry exactly two non-null values; omit
    ``side_a``/``side_b`` to auto-detect them (sorted ascending — one
    bounded distinct scan). Rows with NULL value or side are ignored.
    Groups with n < 2 on either side or zero pooled variance yield
    NULL ``t_stat``/``df_welch``.

    Reference parity anchor: the reference engine has no statistical
    tests (SURVEY.md §2); beyond-reference surface in the drift-
    monitoring family (category_drift χ², ks_drift, rank_sum_drift).
    """
    for c in (value_col, side_col):
        if c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")
    group_by = group_by or []
    for c in group_by:
        if c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")
    if (side_a is None) != (side_b is None):
        raise TransformationError(
            "welch_ttest: pass both side_a and side_b or neither"
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
                f"welch_ttest: side column '{side_col}' must carry exactly "
                f"two distinct non-null values, found {len(sides)}"
            )
        side_a, side_b = sides
    if side_a == side_b:
        raise TransformationError("welch_ttest: side_a and side_b must differ")

    aggs = []
    for tag, side in (("a", side_a), ("b", side_b)):
        cond = F.col(side_col) == F.lit(side)
        aggs += [
            F.count(
                F.when(cond & F.col(value_col).isNotNull(), F.lit(1))
            ).cast("long").alias(f"n_{tag}"),
            F.sum(F.when(cond, _dec(value_col))).alias(f"sum_{tag}"),
            F.sum(F.when(cond, _prod(value_col, value_col))).alias(f"sumsq_{tag}"),
        ]
    grouped = df.groupBy(*group_by) if group_by else df.groupBy()
    m = grouped.agg(*aggs)

    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sa, sb = _d(F.col("sum_a")), _d(F.col("sum_b"))
    sqa, sqb = _d(F.col("sumsq_a")), _d(F.col("sumsq_b"))
    mean_a = F.when(F.col("n_a") > 0, sa / na)
    mean_b = F.when(F.col("n_b") > 0, sb / nb)
    var_a = F.when(
        F.col("n_a") >= 2, (na * sqa - sa * sa) / (na * (na - F.lit(1.0)))
    )
    var_b = F.when(
        F.col("n_b") >= 2, (nb * sqb - sb * sb) / (nb * (nb - F.lit(1.0)))
    )
    out = m.select(
        *group_by,
        "n_a",
        "n_b",
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        var_a.alias("var_a"),
        var_b.alias("var_b"),
    )
    se2 = F.col("var_a") / F.col("n_a").cast("double") + F.col("var_b") / F.col(
        "n_b"
    ).cast("double")
    out = out.withColumn("_se2", se2)
    va_n = F.col("var_a") / F.col("n_a").cast("double")
    vb_n = F.col("var_b") / F.col("n_b").cast("double")
    t_stat = F.when(
        F.col("_se2") > 0,
        (F.col("mean_a") - F.col("mean_b")) / F.sqrt(F.col("_se2")),
    )
    df_welch = F.when(
        F.col("_se2") > 0,
        (F.col("_se2") * F.col("_se2"))
        / (
            va_n * va_n / (F.col("n_a").cast("double") - F.lit(1.0))
            + vb_n * vb_n / (F.col("n_b").cast("double") - F.lit(1.0))
        ),
    )
    return out.select(
        *group_by,
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        "var_a",
        "var_b",
        t_stat.alias("t_stat"),
        df_welch.alias("df_welch"),
    )


def prop_ztest(
    df: DataFrame,
    flag_col: str,
    side_col: str,
    side_a=None,
    side_b=None,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Two-proportion z-test — THE A/B-test statistic: did the
    conversion RATE move between two variants, against the pooled
    null. Complements ``welch_ttest`` (continuous means) and
    ``rank_sum_drift`` (distribution shift) with the binary-outcome
    case::

        z = (p_a − p_b) / sqrt(p·(1−p)·(1/n_a + 1/n_b)),
        p = (x_a + x_b) / (n_a + n_b)   (pooled)

    ``flag_col`` is the success indicator (boolean or 0/1 numeric;
    NULL flags are excluded from both n and x — an unobserved outcome
    is not a failure). All counts are exact integers from ONE
    conditional aggregation per group; the close is fixed IEEE order,
    so the statistic hashes bit-identical cross-engine. Either side
    empty, or a degenerate pooled rate (p ∈ {0, 1} — zero variance),
    yields NULL ``z_stat``. Side detection and validation follow
    ``welch_ttest`` exactly.

    Plan at 100 TB: one map-side-combined shuffle carrying four longs
    per group — the cheapest possible experiment read."""
    for c in (flag_col, side_col):
        if c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")
    group_by = group_by or []
    for c in group_by:
        if c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")
    if (side_a is None) != (side_b is None):
        raise TransformationError(
            "prop_ztest: pass both side_a and side_b or neither"
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
                f"prop_ztest: side column '{side_col}' must carry exactly "
                f"two distinct non-null values, found {len(sides)}"
            )
        side_a, side_b = sides
    if side_a == side_b:
        raise TransformationError("prop_ztest: side_a and side_b must differ")

    flag = F.col(flag_col).cast("int")
    aggs = []
    for tag, side in (("a", side_a), ("b", side_b)):
        cond = (F.col(side_col) == F.lit(side)) & flag.isNotNull()
        aggs += [
            F.count(F.when(cond, F.lit(1))).cast("long").alias(f"n_{tag}"),
            F.sum(F.when(cond, flag)).cast("long").alias(f"x_{tag}"),
        ]
    grouped = df.groupBy(*group_by) if group_by else df.groupBy()
    m = grouped.agg(*aggs)
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    xa = F.coalesce(F.col("x_a"), F.lit(0)).cast("double")
    xb = F.coalesce(F.col("x_b"), F.lit(0)).cast("double")
    p_a = F.when(F.col("n_a") > 0, xa / na)
    p_b = F.when(F.col("n_b") > 0, xb / nb)
    pool = F.when(
        F.col("n_a") + F.col("n_b") > 0, (xa + xb) / (na + nb)
    )
    se2 = (pool * (F.lit(1.0) - pool)) * (
        F.lit(1.0) / na + F.lit(1.0) / nb
    )
    out = m.select(
        *group_by,
        "n_a",
        F.coalesce(F.col("x_a"), F.lit(0)).cast("long").alias("x_a"),
        "n_b",
        F.coalesce(F.col("x_b"), F.lit(0)).cast("long").alias("x_b"),
        p_a.alias("p_a"),
        p_b.alias("p_b"),
        pool.alias("p_pool"),
        se2.alias("_se2"),
    )
    z = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0) & (F.col("_se2") > 0),
        (F.col("p_a") - F.col("p_b")) / F.sqrt(F.col("_se2")),
    )
    return out.select(
        *group_by, "n_a", "x_a", "n_b", "x_b", "p_a", "p_b", "p_pool",
        z.alias("z_stat"),
    )


def _md5_bucket(domain: str, id_expr: Column, b: int, salt: str) -> Column:
    """The b-th 32-bit uniform bucket for a row: FOUR replicates share
    one md5 (128 bits = 4 x 32-bit slots), so the per-row hash cost of
    a B-replicate resampling pass is B/4. Shared by ``bootstrap_ci``
    and ``permutation_test`` (review finding: the slot arithmetic was
    duplicated — a fix to one copy would have missed the other)."""
    hi, slot = (b - 1) // 4, (b - 1) % 4
    return F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(f"{domain}:{hi}:"),
                    id_expr.cast("string"),
                    F.lit(salt),
                )
            ),
            1 + 8 * slot,
            8,
        ),
        16,
        10,
    ).cast("long")


def _sql_str(s: str) -> str:
    """Escape a Python string for embedding in a Spark SQL single-quoted
    literal (default parser semantics: backslash escapes active)."""
    return s.replace("\\", "\\\\").replace("'", "\\'")


def _bq(c: str) -> str:
    """Quote a column name as a backticked SQL identifier."""
    return "`" + c.replace("`", "``") + "`"


def _md5_bucket_sql(domain: str, id_col: str, b: int, salt: str) -> str:
    """SQL-text twin of :func:`_md5_bucket` — same expression tree
    (same concat/substring/conv/cast chain, same slot arithmetic), but
    parsed JVM-side in one round trip instead of ~12 py4j calls. The
    resampling operators build O(B) of these per plan; profiled at
    sf0.1 the Column-builder form spent 4.7 s of a 4.8 s plan build in
    py4j socket I/O (21,717 round trips for B=40)."""
    hi, slot = (b - 1) // 4, (b - 1) % 4
    return (
        f"CAST(conv(substring(md5(concat('{domain}:{hi}:', "
        f"CAST({_bq(id_col)} AS STRING), '{_sql_str(salt)}')), "
        f"{1 + 8 * slot}, 8), 16, 10) AS BIGINT)"
    )


def _two_sides(df: DataFrame, side_col: str, side_a, side_b,
               op_name: str):
    """Shared two-arm detection/validation (the welch_ttest contract):
    pass both sides or neither; auto-detect requires EXACTLY two
    distinct non-null values (sorted ascending); equal sides are a
    config error, not silent NULLs."""
    if (side_a is None) != (side_b is None):
        raise TransformationError(
            f"{op_name}: pass both side_a and side_b or neither"
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
                f"{op_name}: side column '{side_col}' must carry "
                f"exactly two distinct non-null values, found "
                f"{len(sides)}"
            )
        side_a, side_b = sides
    if str(side_a) == str(side_b):
        raise TransformationError(
            f"{op_name}: side_a and side_b must differ"
        )
    return side_a, side_b


# Poisson(1) inverse-CDF thresholds on the 32-bit hash grid:
# t_k = floor(P(X <= k) * 2^32), frozen as integer literals so the
# weight chain is a pure integer comparison on BOTH engines (no float
# CDF evaluation anywhere). P(X <= 8) leaves ~7.7e-7 of mass at w=9.
_POISSON1_T = [
    1580030168, 3160060337, 3950075421, 4213413783, 4279248373,
    4292415291, 4294609777, 4294923276, 4294962463,
]


def bootstrap_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    replicates: int = 40,
    alpha: float = 0.05,
    salt: str = "",
    group_by: list[str] | None = None,
) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean — THE
    bootstrap that works at 100 TB (Google's large-scale estimation
    pattern; Chamandy et al. 2012): classic bootstrap resamples the
    data B times (B full shuffles of a 100 TB table — impossible);
    Poisson bootstrap observes that resampling-with-replacement gives
    each row a Binomial(n, 1/n) ≈ Poisson(1) multiplicity, so ALL B
    replicates ride ONE scan — each row carries B deterministic
    Poisson(1) weights and the aggregation emits B weighted sums in
    the same map-side-combined pass.

    Determinism & exactness: the b-th weight is an integer-threshold
    lookup on an ``md5`` bucket (``boot:`` domain tag; FOUR replicates
    share one md5 — 128 bits = 4×32-bit uniforms — so the hash cost is
    B/4 per row); thresholds are the frozen ``_POISSON1_T`` literals,
    so no float CDF is evaluated anywhere. Replicate sums are exact
    decimal(38,2) over the quantized value (the repo-wide contract);
    each replicate mean is ONE division; the CI bounds are ORDER
    STATISTICS of the sorted replicate means (type-1, no
    interpolation): lo = ceil(m·α/2) clamped ≥ 1, hi = m+1−lo.
    ``boot_se`` closes by two ordered folds over the sorted means
    (the ``anova_f`` device). Everything replays verbatim in SQL —
    the oracle expands rows×B (fine at oracle scale) where the Spark
    plan deliberately does NOT.

    Plan at 100 TB: ONE aggregation carrying 2B+2 exact numbers per
    group; no shuffle beyond the group key, no second scan, no
    data×B explosion. NULL value/id rows are excluded. A replicate
    with zero total weight (vanishingly unlikely past n≈30) is
    dropped from the order statistics and ``replicates`` reports the
    usable count.

    Output: group cols + ``n``/``replicates`` (long) + ``estimate``
    (exact-mean double) + ``boot_se``/``ci_lo``/``ci_hi`` (double)."""
    group_by = group_by or []
    for c in (value_col, id_col, *group_by):
        if c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")
    B = int(replicates)
    if not 8 <= B <= 200:
        raise TransformationError(
            "bootstrap_ci requires 8 <= replicates <= 200"
        )
    if not 0.0 < float(alpha) < 0.5:
        raise TransformationError(
            "bootstrap_ci requires 0 < alpha < 0.5"
        )
    # Expression construction is SQL-text based: the Column-builder
    # form of this plan costs ~21,700 py4j round trips (~4.8 s of
    # driver wall per build, 3.6 s of it in the B weight chains alone
    # — profiled at B=40); each F.expr below is ONE round trip and
    # parses to the IDENTICAL expression tree (same CASE chain, same
    # casts, same literals), so results are bit-identical.
    v_sql = f"CAST({_bq(value_col)} AS DECIMAL(18,2))"  # = _dec()

    def _w_sql(b: int) -> str:
        # min k with bucket < T[k], else 9 — the _POISSON1_T inverse
        # CDF lookup, textually (twin of the old F.when chain)
        bucket = _md5_bucket_sql("boot", id_col, b, salt)
        whens = " ".join(
            f"WHEN {bucket} < {t} THEN {k}"
            for k, t in enumerate(_POISSON1_T)
        )
        return f"CASE {whens} ELSE 9 END"

    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr(f"CAST(SUM({v_sql}) AS DECIMAL(38,2))").alias("_sx"),
    ]
    for b in range(1, B + 1):
        w = _w_sql(b)
        aggs.append(F.expr(f"CAST(SUM({w}) AS BIGINT)").alias(f"_w{b}"))
        aggs.append(
            F.expr(
                f"CAST(SUM(CAST({w} AS DECIMAL(19,0)) * {v_sql}) "
                f"AS DECIMAL(38,2))"
            ).alias(f"_wx{b}")
        )
    agg = (
        df.where(F.col(value_col).isNotNull() & F.col(id_col).isNotNull())
        .groupBy(*group_by)
        .agg(*aggs)
    )
    # CASE WHEN _wb > 0 THEN double(_wxb)/double(_wb) END per replicate
    # (the _d() string-roundtrip double cast, textually), filtered
    # non-null and sorted — twin of the old F.array/F.filter build
    mean_terms = ", ".join(
        f"CASE WHEN _w{b} > 0 THEN CAST(CAST(_wx{b} AS STRING) AS DOUBLE)"
        f" / CAST(_w{b} AS DOUBLE) END"
        for b in range(1, B + 1)
    )
    means = F.expr(
        f"array_sort(filter(array({mean_terms}), v -> v IS NOT NULL))"
    )
    agg = agg.withColumn("_means", means)
    m = F.size("_means")
    lo_idx = F.greatest(
        F.lit(1),
        F.ceil(m.cast("double") * F.lit(float(alpha) / 2.0)).cast("int"),
    )
    hi_idx = m + F.lit(1) - lo_idx
    mean_r = (
        F.aggregate(F.col("_means"), F.lit(0.0), lambda a, v: a + v)
        / m.cast("double")
    )
    agg = agg.withColumn("_mr", mean_r)
    sumsq = F.aggregate(
        F.col("_means"),
        F.lit(0.0),
        lambda a, v: a + (v - F.col("_mr")) * (v - F.col("_mr")),
    )
    return agg.select(
        *group_by,
        "n",
        m.cast("long").alias("replicates"),
        F.when(
            F.col("n") > 0,
            _d(F.col("_sx")) / F.col("n").cast("double"),
        ).alias("estimate"),
        F.when(
            m > 1, F.sqrt(sumsq / (m - F.lit(1)).cast("double"))
        ).alias("boot_se"),
        F.when(m > 0, F.element_at("_means", lo_idx)).alias("ci_lo"),
        F.when(m > 0, F.element_at("_means", hi_idx)).alias("ci_hi"),
    )


def permutation_test(
    df: DataFrame,
    value_col: str,
    side_col: str,
    id_col: str,
    replicates: int = 60,
    salt: str = "",
    side_a=None,
    side_b=None,
) -> DataFrame:
    """Randomization test for a two-sample mean difference — the
    assumption-free companion to :func:`welch_ttest` (no normality,
    no variance model: "would a difference this large arise if the
    labels were random?"), in the scalable one-pass form that pairs
    with :func:`bootstrap_ci`: under H0 the side label is exchangeable,
    so each replicate reassigns every row to side A with probability
    n_a/N via a deterministic md5 coin (the binomial-reassignment
    randomization test — the fixed-margin permutation's standard
    at-scale surrogate; margins concentrate at n_a within ±√N) and
    ALL B label-swaps ride ONE aggregation::

        p ≈ (1 + #{b : |Δ_b| ≥ |Δ_obs|}) / (B + 1)

    (the add-one form — never exactly zero, unbiased under H0).

    Determinism & exactness: the b-th coin compares the row's md5
    bucket (``perm:`` domain tag, 4 replicates per md5) against the
    integer threshold ``floor(n_a/N·2³²)`` — computed from the EXACT
    observed counts, broadcast as a 1-row attach; replicate side sums
    are exact decimal(38,2); each Δ_b and the observed Δ are
    fixed-order double closes; the comparison ``|Δ_b| ≥ |Δ_obs|``
    involves doubles both engines computed identically.

    Plan at 100 TB: TWO passes — one tiny aggregation for the exact
    observed counts (1-row broadcast), then the 2B+4-column replicate
    aggregation. No shuffle of raw rows, no data×B explosion. NULL
    value/side/id rows are excluded. Degenerate inputs (either side
    empty) yield NULL everywhere but the counts; replicates where
    either reassigned side is empty are dropped from the count
    (``replicates`` reports the usable number).

    Output: ONE row — ``n_a``/``n_b``/``replicates``/``n_extreme``
    (long), ``diff_obs`` (double), ``p_value`` (double)."""
    for c in (value_col, side_col, id_col):
        if c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")
    B = int(replicates)
    if not 8 <= B <= 200:
        raise TransformationError(
            "permutation_test requires 8 <= replicates <= 200"
        )
    explicit = side_a is not None
    side_a, side_b = _two_sides(
        df, side_col, side_a, side_b, "permutation_test"
    )
    base = df.where(
        F.col(value_col).isNotNull()
        & F.col(side_col).isNotNull()
        & F.col(id_col).isNotNull()
    )
    if explicit:
        base = base.where(
            F.col(side_col).cast("string").isin(
                [str(side_a), str(side_b)]
            )
        )
    is_a = F.col(side_col).cast("string") == str(side_a)
    x = _dec(value_col)
    counts = base.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(~is_a, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(is_a, x)).cast("decimal(38,2)").alias("_xa"),
        F.sum(F.when(~is_a, x)).cast("decimal(38,2)").alias("_xb"),
    ).localCheckpoint(eager=False)
    # the reassignment threshold from the EXACT counts — a 1-row
    # broadcast; floor(n_a/N * 2^32) computed identically both engines
    thr = counts.select(
        "n_a",
        "n_b",
        "_xa",
        "_xb",
        F.floor(
            F.col("n_a").cast("double")
            / (F.col("n_a") + F.col("n_b")).cast("double")
            * F.lit(4294967296.0)
        ).cast("long").alias("_thr"),
    )
    j = base.select(
        x.alias("_x"), F.col(id_col).cast("string").alias("_id")
    ).crossJoin(F.broadcast(thr))

    # SQL-text expression construction (the bootstrap_ci device): each
    # per-replicate aggregate is ONE F.expr parse instead of ~30 py4j
    # round trips; the parsed tree is identical to the old Column
    # build, so results are bit-identical.
    aggs = [
        # max over an EMPTY base (all rows null-filtered) is NULL —
        # coalesce to 0 so the counts honor the "NULL everywhere but
        # the counts" contract (review finding)
        F.coalesce(F.max("n_a"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.max("n_b"), F.lit(0)).cast("long").alias("n_b"),
        F.max("_xa").alias("_xa"),
        F.max("_xb").alias("_xb"),
    ]
    for b in range(1, B + 1):
        coin = f"{_md5_bucket_sql('perm', '_id', b, salt)} < _thr"
        aggs.append(
            F.expr(
                f"CAST(SUM(CASE WHEN {coin} THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias(f"_c{b}")
        )
        aggs.append(
            F.expr(
                f"CAST(SUM(CASE WHEN {coin} THEN _x END) "
                f"AS DECIMAL(38,2))"
            ).alias(f"_s{b}")
        )
    agg = j.agg(*aggs)
    n = (F.col("n_a") + F.col("n_b")).cast("long")
    tot = (
        F.coalesce(F.col("_xa"), F.lit(0).cast("decimal(38,2)"))
        + F.coalesce(F.col("_xb"), F.lit(0).cast("decimal(38,2)"))
    ).cast("decimal(38,2)")
    diff_obs = _d(F.col("_xa")) / F.col("n_a").cast("double") - _d(
        F.col("_xb")
    ) / F.col("n_b").cast("double")
    agg = agg.withColumn("_n", n).withColumn("_tot", tot).withColumn(
        "_dobs", diff_obs
    )
    rep_valid = []
    rep_extreme = []
    for b in range(1, B + 1):
        ca = f"_c{b}"
        cb = f"(_n - _c{b})"
        sa = f"coalesce(_s{b}, CAST(0 AS DECIMAL(38,2)))"
        sb = f"CAST((_tot - {sa}) AS DECIMAL(38,2))"
        ok = f"(({ca} > 0) AND ({cb} > 0))"
        d_b = (
            f"(CAST(CAST({sa} AS STRING) AS DOUBLE)"
            f" / CAST({ca} AS DOUBLE)"
            f" - CAST(CAST({sb} AS STRING) AS DOUBLE)"
            f" / CAST({cb} AS DOUBLE))"
        )
        rep_valid.append(f"(CASE WHEN {ok} THEN 1 ELSE 0 END)")
        rep_extreme.append(
            f"(CASE WHEN ({ok} AND (abs({d_b}) >= abs(_dobs)))"
            f" THEN 1 ELSE 0 END)"
        )
    agg = agg.withColumn(
        "_m", F.expr(" + ".join(rep_valid)).cast("long")
    ).withColumn("_ne", F.expr(" + ".join(rep_extreme)).cast("long"))
    usable = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return agg.select(
        "n_a",
        "n_b",
        F.when(usable, F.col("_m")).alias("replicates"),
        F.when(usable, F.col("_ne")).alias("n_extreme"),
        F.when(usable, F.col("_dobs")).alias("diff_obs"),
        F.when(
            usable & (F.col("_m") > 0),
            (F.col("_ne") + F.lit(1)).cast("double")
            / (F.col("_m") + F.lit(1)).cast("double"),
        ).alias("p_value"),
    )


def cuped(
    df: DataFrame,
    value_col: str,
    covariate_col: str,
    side_col: str,
    side_a=None,
    side_b=None,
    group_by: list[str] | None = None,
) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al., WSDM
    2013) — the standard way to make an A/B test converge weeks
    earlier: regress the experiment metric Y on a PRE-EXPERIMENT
    covariate X (same metric last month, user tenure …) and analyze
    the residualized metric instead::

        θ        = cov(X, Y) / var(X)          (pooled)
        Y′       = Y − θ·(X − X̄)
        Δ_cuped  = mean_a(Y′) − mean_b(Y′)     (unbiased: E[Δ′]=E[Δ])
        var cut  = 1 − var(Y′)/var(Y) ≈ ρ²(X, Y)

    Exactness: ONE conditional moment aggregation per group carries
    the 12 exact decimal sums (n/Σx/Σy/Σx²/Σy²/Σxy per side); θ is
    the exact-numerator division ``(n·Σxy − Σx·Σy)/(n·Σx² − Σx²)``
    through the string round-trip, and every derived close (Δ_raw,
    Δ_cuped, per-side adjusted variances, Welch-style ``t_cuped``,
    ``var_reduction``) is a fixed-operand-order double expression the
    SQL oracle replays verbatim.

    Plan at 100 TB: one map-side-combined shuffle per group — a
    single short row of moments; nothing else touches the data.
    NULL value/covariate/side rows are excluded. Side detection and
    validation follow ``welch_ttest`` (exactly two sides, or pass
    ``side_a``/``side_b``). Degenerate groups (var(X) ≤ 0 → θ
    undefined; either side empty) yield NULLs for the derived stats.

    Output: group cols + ``n_a``/``n_b`` (long) + ``theta``/
    ``diff_raw``/``diff_cuped``/``var_reduction``/``t_cuped``
    (double)."""
    for c in (value_col, covariate_col, side_col):
        if c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")
    group_by = group_by or []
    for c in group_by:
        if c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")
    side_a, side_b = _two_sides(df, side_col, side_a, side_b, "cuped")
    is_a = F.col(side_col).cast("string") == str(side_a)
    is_b = F.col(side_col).cast("string") == str(side_b)
    y = _dec(value_col)
    x = _dec(covariate_col)
    yy = _prod(value_col, value_col)
    xx = _prod(covariate_col, covariate_col)
    xy = _prod(covariate_col, value_col)

    def _side(tag, cond):
        return [
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(
                f"n_{tag}"
            ),
            F.sum(F.when(cond, y)).cast("decimal(38,2)").alias(
                f"_sy{tag}"
            ),
            F.sum(F.when(cond, x)).cast("decimal(38,2)").alias(
                f"_sx{tag}"
            ),
            F.sum(F.when(cond, yy)).cast("decimal(38,4)").alias(
                f"_syy{tag}"
            ),
            F.sum(F.when(cond, xx)).cast("decimal(38,4)").alias(
                f"_sxx{tag}"
            ),
            F.sum(F.when(cond, xy)).cast("decimal(38,4)").alias(
                f"_sxy{tag}"
            ),
        ]

    agg = (
        df.where(
            F.col(value_col).isNotNull()
            & F.col(covariate_col).isNotNull()
            & (is_a | is_b)
        )
        .groupBy(*group_by)
        .agg(*_side("a", is_a), *_side("b", is_b))
    )
    dec4 = "decimal(38,4)"
    z4 = F.lit(0).cast(dec4)

    def g(name):
        return F.coalesce(F.col(name).cast(dec4), z4)

    n = (F.col("n_a") + F.col("n_b")).cast("long")
    sy = (g("_sya") + g("_syb")).cast(dec4)
    sx = (g("_sxa") + g("_sxb")).cast(dec4)
    syy = (g("_syya") + g("_syyb")).cast(dec4)
    sxx = (g("_sxxa") + g("_sxxb")).cast(dec4)
    sxy = (g("_sxya") + g("_sxyb")).cast(dec4)
    nd = n.cast("double")
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    # θ from exact decimal numerators; var(X)·n and cov·n stay exact
    cov_num = (n.cast("decimal(19,0)") * sxy - sx * sy).cast(dec4)
    varx_num = (n.cast("decimal(19,0)") * sxx - sx * sx).cast(dec4)
    theta = _d(cov_num) / _d(varx_num)
    agg = agg.withColumn("_n", n).withColumn("_theta", theta)
    th = F.col("_theta")
    diff_raw = _d(g("_sya")) / na - _d(g("_syb")) / nb
    # adjusted sums: SZ = Σy − θ·Σx; SZZ = Σy² − 2θ·Σxy + θ²·Σx²
    sza = _d(g("_sya")) - th * _d(g("_sxa"))
    szb = _d(g("_syb")) - th * _d(g("_sxb"))
    szza = (
        _d(g("_syya")) - F.lit(2.0) * th * _d(g("_sxya"))
        + th * th * _d(g("_sxxa"))
    )
    szzb = (
        _d(g("_syyb")) - F.lit(2.0) * th * _d(g("_sxyb"))
        + th * th * _d(g("_sxxb"))
    )
    diff_cuped = sza / na - szb / nb
    s2a = (szza - sza * sza / na) / (na - F.lit(1.0))
    s2b = (szzb - szb * szb / nb) / (nb - F.lit(1.0))
    t_cuped = diff_cuped / F.sqrt(s2a / na + s2b / nb)
    # pooled variance reduction: 1 − var(Y′)/var(Y)
    sz = sza + szb
    szz = szza + szzb
    vy = (_d(syy) - _d(sy) * _d(sy) / nd) / (nd - F.lit(1.0))
    vz = (szz - sz * sz / nd) / (nd - F.lit(1.0))
    var_reduction = F.lit(1.0) - vz / vy
    ok = (
        (F.col("n_a") > 1)
        & (F.col("n_b") > 1)
        & (F.col("_theta").isNotNull())
        & (varx_num > 0)
    )
    return agg.select(
        *group_by,
        "n_a",
        "n_b",
        F.when(varx_num > 0, th).alias("theta"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0), diff_raw
        ).alias("diff_raw"),
        F.when(ok, diff_cuped).alias("diff_cuped"),
        F.when(ok & (vy > 0), var_reduction).alias("var_reduction"),
        F.when(ok & (s2a / na + s2b / nb > 0), t_cuped).alias(
            "t_cuped"
        ),
    )


def ratio_ttest(
    df: DataFrame,
    numerator_col: str,
    denominator_col: str,
    side_col: str,
    side_a=None,
    side_b=None,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Delta-method t-test for RATIO-OF-SUMS metrics — the correct
    A/B read when the metric is a ratio (revenue per session, CTR,
    items per order) but randomization is by UNIT (user): each row is
    one unit carrying its numerator and denominator sums, the arm
    metric is ``R = ΣY/ΣX``, and naively treating per-unit ratios as
    iid observations mis-states the variance (heavy users count once
    here, not once per session)::

        var(R) ≈ (s²_y − 2R·s_xy + R²·s²_x) / (n·x̄²)   (delta method)
        t      = (R_a − R_b) / sqrt(var_a + var_b)

    with s²/s_xy the per-unit sample (co)variances and x̄ the mean
    denominator. Asymptotically z; no p-value (the ``welch_ttest``
    posture).

    Exactness: ONE conditional moment aggregation per group carries
    the 12 exact decimal sums (the ``cuped`` block); R_a/R_b are
    exact-sum divisions through the string round-trip; every derived
    close is a fixed-operand-order double the SQL oracle replays
    verbatim.

    Plan at 100 TB: one map-side-combined shuffle per group — one
    short moment row; nothing else touches the data. NULL
    numerator/denominator/side rows are excluded; side detection
    follows ``welch_ttest``. Degenerate groups (ΣX ≤ 0 on a side →
    the ratio is undefined; n < 2 on a side → no variance) yield
    NULLs for the derived stats.

    Output: group cols + ``n_a``/``n_b`` (long) + ``ratio_a``/
    ``ratio_b``/``diff``/``se``/``t_stat`` (double)."""
    for c in (numerator_col, denominator_col, side_col):
        if c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")
    group_by = group_by or []
    for c in group_by:
        if c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")
    side_a, side_b = _two_sides(
        df, side_col, side_a, side_b, "ratio_ttest"
    )
    is_a = F.col(side_col).cast("string") == str(side_a)
    is_b = F.col(side_col).cast("string") == str(side_b)
    y = _dec(numerator_col)
    x = _dec(denominator_col)
    yy = _prod(numerator_col, numerator_col)
    xx = _prod(denominator_col, denominator_col)
    xy = _prod(denominator_col, numerator_col)

    def _side(tag, cond):
        return [
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(
                f"n_{tag}"
            ),
            F.sum(F.when(cond, y)).cast("decimal(38,2)").alias(
                f"_sy{tag}"
            ),
            F.sum(F.when(cond, x)).cast("decimal(38,2)").alias(
                f"_sx{tag}"
            ),
            F.sum(F.when(cond, yy)).cast("decimal(38,4)").alias(
                f"_syy{tag}"
            ),
            F.sum(F.when(cond, xx)).cast("decimal(38,4)").alias(
                f"_sxx{tag}"
            ),
            F.sum(F.when(cond, xy)).cast("decimal(38,4)").alias(
                f"_sxy{tag}"
            ),
        ]

    agg = (
        df.where(
            F.col(numerator_col).isNotNull()
            & F.col(denominator_col).isNotNull()
            & (is_a | is_b)
        )
        .groupBy(*group_by)
        .agg(*_side("a", is_a), *_side("b", is_b))
    )

    def _arm(tag):
        n = F.col(f"n_{tag}").cast("double")
        sy = _d(F.col(f"_sy{tag}"))
        sx = _d(F.col(f"_sx{tag}"))
        syy = _d(F.col(f"_syy{tag}"))
        sxx = _d(F.col(f"_sxx{tag}"))
        sxy = _d(F.col(f"_sxy{tag}"))
        r = sy / sx
        xbar = sx / n
        vy = (syy - sy * sy / n) / (n - F.lit(1.0))
        vx = (sxx - sx * sx / n) / (n - F.lit(1.0))
        cxy = (sxy - sx * sy / n) / (n - F.lit(1.0))
        var_r = (vy - F.lit(2.0) * r * cxy + r * r * vx) / (
            n * xbar * xbar
        )
        return r, var_r

    ra, va = _arm("a")
    rb, vb = _arm("b")
    ok_a = (F.col("n_a") > 1) & (_d(F.col("_sxa")) > 0)
    ok_b = (F.col("n_b") > 1) & (_d(F.col("_sxb")) > 0)
    diff = ra - rb
    se = F.sqrt(va + vb)
    return agg.select(
        *group_by,
        "n_a",
        "n_b",
        F.when(_d(F.col("_sxa")) > 0, ra).alias("ratio_a"),
        F.when(_d(F.col("_sxb")) > 0, rb).alias("ratio_b"),
        F.when(
            (_d(F.col("_sxa")) > 0) & (_d(F.col("_sxb")) > 0), diff
        ).alias("diff"),
        F.when(ok_a & ok_b & (va + vb > 0), se).alias("se"),
        F.when(ok_a & ok_b & (va + vb > 0), diff / se).alias(
            "t_stat"
        ),
    )


def mantel_haenszel(
    df: DataFrame,
    exposure_col: str,
    outcome_col: str,
    stratum_col: str,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Cochran–Mantel–Haenszel stratified 2×2 test + common odds
    ratio — the Simpson's-paradox-proof A/B read: a pooled
    :func:`prop_ztest` can reverse sign when an imbalanced stratifier
    (country, device, cohort) confounds the comparison; CMH tests the
    exposure→outcome association WITHIN each stratum and combines::

        OR_MH = Σ_i (a_i·d_i/n_i) / Σ_i (b_i·c_i/n_i)
        χ²    = (max(0, |Σa_i − ΣE_i| − ½))² / ΣV_i
        E_i   = (a+b)(a+c)/n,
        V_i   = (a+b)(c+d)(a+c)(b+d) / (n²(n−1))

    (continuity-corrected; χ² ~ χ²(1) under H0 — statistic + the
    exact cell sums are the gateable core, the ``welch_ttest``
    no-p-value posture).

    Exactness: the per-stratum cells a/b/c/d are exact longs from ONE
    map-side pass; each stratum's four float terms (E, V, ad/n, bc/n)
    are fixed-operand-order doubles over those exact longs, and all
    four cross-stratum sums close by ORDERED SEQUENTIAL FOLDS over
    the stratum-sorted term list (the ``anova_f`` device — DuckDB
    replays via list_reduce, bit-identical). Σa is an exact long.

    ``exposure_col``/``outcome_col`` are TRUTHY indicators (boolean
    or numeric; any nonzero = exposed/positive — the kaplan_meier
    event contract), so a mis-coded 1/2 arm cannot produce negative
    cells.

    Plan at 100 TB: one map-side-combined shuffle keyed on
    (group, stratum) carrying four longs; the folds run on the
    bounded ≤-strata-row table (the stratifier is categorical by
    construction). NULL exposure/outcome/stratum rows are excluded.
    Single-member strata contribute V = 0 (and their E); ΣV = 0 →
    NULL χ²; a zero discordant-product sum (Σbc/n = 0) → NULL OR.

    Output: group cols + ``n``/``k_strata``/``sum_a`` (long) +
    ``or_mh``/``cmh_chi2``/``p_value`` (double; p = χ²(1) tail via
    the exact-normal-form ``chi2_sf``, 9-dp quantized)."""
    group_by = group_by or []
    for c in (exposure_col, outcome_col, stratum_col, *group_by):
        if c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")
    # truthy semantics (the kaplan_meier event contract): any nonzero/
    # true value = exposed/positive, 0/false = not — a plain int cast
    # let a 1/2-coded arm produce NEGATIVE cells and silent garbage
    # (review finding)
    ex = F.col(exposure_col).cast("boolean").cast("int")
    out = F.col(outcome_col).cast("boolean").cast("int")
    cells = (
        df.where(
            F.col(exposure_col).isNotNull()
            & F.col(outcome_col).isNotNull()
            & F.col(stratum_col).isNotNull()
        )
        .groupBy(
            *group_by, F.col(stratum_col).cast("string").alias("_st")
        )
        .agg(
            F.sum(ex * out).cast("long").alias("_a"),
            F.sum(ex * (1 - out)).cast("long").alias("_b"),
            F.sum((1 - ex) * out).cast("long").alias("_c"),
            F.sum((1 - ex) * (1 - out)).cast("long").alias("_d"),
        )
    )
    a = F.col("_a").cast("double")
    b = F.col("_b").cast("double")
    c = F.col("_c").cast("double")
    d = F.col("_d").cast("double")
    n = a + b + c + d
    e_t = (a + b) * (a + c) / n
    v_t = F.when(
        n > 1,
        (a + b) * (c + d) * (a + c) * (b + d) / (n * n * (n - 1)),
    ).otherwise(F.lit(0.0))
    ad_t = a * d / n
    bc_t = b * c / n

    def _fold(col_name):
        return F.aggregate(
            F.sort_array(F.collect_list(F.struct("_st", col_name))),
            F.lit(0.0),
            lambda acc, r: acc + r[col_name],
        )

    agg = cells.select(
        *group_by, "_st",
        (F.col("_a") + F.col("_b") + F.col("_c") + F.col("_d")).alias(
            "_n"
        ),
        "_a",
        e_t.alias("_e"),
        v_t.alias("_v"),
        ad_t.alias("_ad"),
        bc_t.alias("_bc"),
    ).groupBy(*group_by).agg(
        F.sum("_n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k_strata"),
        F.sum("_a").cast("long").alias("sum_a"),
        _fold("_e").alias("_se"),
        _fold("_v").alias("_sv"),
        _fold("_ad").alias("_sad"),
        _fold("_bc").alias("_sbc"),
    )
    dev = F.greatest(
        F.lit(0.0),
        F.abs(F.col("sum_a").cast("double") - F.col("_se")) - F.lit(0.5),
    )
    return agg.select(
        *group_by,
        "n",
        "k_strata",
        "sum_a",
        F.when(F.col("_sbc") > 0, F.col("_sad") / F.col("_sbc")).alias(
            "or_mh"
        ),
        F.when(F.col("_sv") > 0, dev * dev / F.col("_sv")).alias(
            "cmh_chi2"
        ),
        # CMH χ² has exactly 1 dof — exact-normal-form chi2_sf tail,
        # 9-dp quantized
        F.when(
            F.col("_sv") > 0,
            _pq(chi2_sf(dev * dev / F.col("_sv"), F.lit(1))),
        ).alias("p_value"),
    )


def cochran_armitage(
    df: DataFrame,
    dose_col: str,
    flag_col: str,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Cochran–Armitage trend test (Cochran 1954, Armitage 1955) —
    the ORDERED member of the categorical test family:
    :func:`chi_square` asks "does the outcome rate differ across
    levels at all", this asks "does it rise or fall MONOTONICALLY
    with the dose" (price band → return rate, retry count → failure
    rate, exposure tier → conversion), concentrating the test's power
    on the one degree of freedom that matters for dose–response::

        Z = (Σ s·r − R·Σ s·n / N)
            / sqrt( R/N · (1 − R/N) · (Σ s²·n − (Σ s·n)²/N) )

    with s the dose score, n/r the per-level totals/positives, N/R
    the grand totals. Cross-multiplying by N gives exact integers:
    ``A = N·Σsr − R·Σsn`` and ``C = N·Σs²n − (Σsn)²`` (dose values on
    the repo-wide decimal(18,2) grid, squares in decimal(38,4)),
    ``B = R·(N−R)``; the close is the fixed-order
    ``Z = A·√N / √(B·C)`` — IEEE sqrt is correctly rounded on every
    engine, so the statistic hashes bit-identical. Z ~ N(0,1) under
    H0; ``p_value`` is the two-sided normal tail through the frozen
    ``norm_sf`` approximation (9-dp quantized, oracle-replayed).
    Z > 0 means the positive rate RISES with the dose.

    Plan at 100 TB: every term is a plain row-level sum — ONE
    map-side-combined aggregation per group carrying six exact
    numbers (the level table never materializes; ``k_levels`` rides
    the same pass as a count-distinct). NULL dose/flag rows are
    excluded. Degenerate groups (R = 0, R = N, or a single dose
    level: C = 0) yield NULL ``z_trend``.

    Output: group cols + ``n``/``r_pos``/``k_levels`` (long) +
    ``t_num`` (exact integer-grid string, = A) + ``z_trend`` +
    ``p_value`` (double)."""
    from pyspark.sql.types import NumericType

    group_by = group_by or []
    for c in (dose_col, flag_col, *group_by):
        if c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")
    if not isinstance(df.schema[dose_col].dataType, NumericType):
        raise TransformationError(
            "cochran_armitage: dose column must be numeric (the trend "
            f"needs ordered scores), got "
            f"{df.schema[dose_col].dataType.simpleString()}"
        )
    # truthy semantics (the repo-wide event contract shared with
    # mantel_haenszel / mcnemar / cochran_q): any nonzero/true value =
    # positive, 0/false = not. The previous plain int cast summed a
    # 0/2-coded flag RAW into r_pos (r_pos > n, garbage t_num) while
    # the score sum only counted flag == 1, and silently NULLed a
    # string 'true'/'false' flag (review finding, ADVICE r12).
    flag = F.col(flag_col).cast("boolean").cast("int")
    s = _dec(dose_col)
    agg = (
        df.where(F.col(dose_col).isNotNull() & F.col(flag_col).isNotNull())
        .groupBy(*group_by)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(flag).cast("long").alias("r_pos"),
            F.count_distinct(F.col(dose_col)).cast("long").alias(
                "k_levels"
            ),
            F.sum(s).cast("decimal(38,2)").alias("_sn"),
            F.sum(F.when(flag == 1, s)).cast("decimal(38,2)").alias(
                "_sr"
            ),
            F.sum(_prod(dose_col, dose_col)).cast("decimal(38,4)").alias(
                "_s2n"
            ),
        )
    )
    dec = "decimal(38,4)"
    n, r = F.col("n"), F.col("r_pos")
    sr = F.coalesce(F.col("_sr"), F.lit(0).cast("decimal(38,2)"))
    a_num = (
        n.cast("decimal(19,0)") * sr
        - r.cast("decimal(19,0)") * F.col("_sn")
    ).cast(dec)
    c_num = (
        n.cast("decimal(19,0)") * F.col("_s2n")
        - (F.col("_sn") * F.col("_sn")).cast(dec)
    ).cast(dec)
    b_num = (r.cast("decimal(19,0)") * (n - r).cast("decimal(19,0)")).cast(
        "decimal(38,0)"
    )
    z = (_d(a_num) * F.sqrt(n.cast("double"))) / F.sqrt(
        _d(b_num) * _d(c_num)
    )
    ca_ok = (r > 0) & (r < n) & (c_num > 0)
    return agg.select(
        *group_by,
        "n",
        "r_pos",
        "k_levels",
        a_num.cast("string").alias("t_num"),
        F.when(ca_ok, z).alias("z_trend"),
        # two-sided normal p for the trend z — frozen norm_sf
        # approximation, 9-dp quantized
        F.when(ca_ok, _pq(F.lit(2.0) * norm_sf(F.abs(z)))).alias(
            "p_value"
        ),
    )


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    probs: list[float],
    group_by: list[str] | None = None,
    num_partitions: int | None = None,
    interpolation: str = "lower",
    weight_col: str | None = None,
) -> DataFrame:
    """EXACT quantiles at scale — the relational alternative to both
    ``approx_percentile`` (engine-specific sketch, not reproducible
    cross-engine) and Spark's exact ``percentile`` aggregate (buffers
    every value in executor memory — the 100 TB failure mode). Rank
    semantics (type-1 / lower discrete quantile): the p-quantile is
    the smallest value whose cumulative count reaches
    ``ceil(p·n)`` (≥ 1), over non-null values.

    One ``groupBy(value)`` count shuffle reduces the data to its value
    histogram; ``_prefix_sums`` turns it into an exact CDF without a
    single-partition window; ALL requested probabilities then close in
    ONE final aggregation over the CDF (probs add expressions, not
    passes). Output: one row per prob — ``(prob, rank, value)`` with
    ``rank`` the exact integer target rank (hash-gateable without
    float comparison; the ``ceil(p·n)`` double product is spelled
    identically in the oracle, so any representation wobble lands on
    the same side cross-engine).

    With ``group_by``, quantiles are computed PER GROUP ("median per
    category"): the per-(group, value) histogram shrinks the data,
    then group-partitioned windows build each group's CDF and the
    same one-aggregation close runs per group — ONE group-keyed
    shuffle reused by the window and the closing agg. Caveat: one
    group's distinct values sort inside one task's window, so a
    single giant group degrades to that task (the classic partitioned
    -window limit); the ungrouped path exists precisely to avoid this
    and should be used for whole-table quantiles.

    ``interpolation="linear"`` switches to type-7 semantics (the
    numpy/pandas default): ``h = 1 + (n−1)·p``, value =
    ``v_lo + (h − ⌊h⌋)·(v_hi − v_lo)`` over the two bracketing order
    statistics — TWO CDF lookups per prob in the SAME single closing
    aggregation, and the lerp closes in fixed IEEE order (identical
    doubles cross-engine). The ``rank`` column then reports the lower
    bracketing rank ⌊h⌋.

    ``weight_col`` computes WEIGHTED quantiles (PPS-sampled corpora,
    importance-weighted feature stats): the CDF accumulates each
    value's total weight instead of its count, in EXACT decimal(27,6)
    (a float weight sum is partition-order dependent), and the type-1
    target rank becomes the smallest value whose cumulative weight
    reaches ``p·W``. Rows with NULL/non-positive weights are excluded;
    the reported ``rank`` column carries the integer micro-unit target
    (weights quantized at 1e-6, the cusum resolution posture).
    Weighted + linear interpolation is refused (bracketing order
    statistics are count-rank concepts).

    Returns an empty frame when no non-null values exist."""
    if weight_col is not None and interpolation != "lower":
        raise TransformationError(
            "weighted quantiles support interpolation='lower' only"
        )
    if weight_col is not None and weight_col not in df.columns:
        raise TransformationError(
            f"exact_quantiles: weight column not in schema: {weight_col}"
        )
    if interpolation not in ("lower", "linear"):
        raise TransformationError(
            f"exact_quantiles interpolation must be lower or linear, "
            f"got '{interpolation}'"
        )
    if not probs:
        raise TransformationError("exact_quantiles requires at least one prob")
    for p in probs:
        if not 0.0 <= float(p) <= 1.0:
            raise TransformationError(f"prob out of [0, 1]: {p}")
    if value_col not in df.columns:
        raise TransformationError(
            f"exact_quantiles: value column not in schema: {value_col}"
        )
    group_by = group_by or []
    for c in group_by:
        if c not in df.columns:
            raise TransformationError(f"group column not in input schema: {c}")
    if weight_col is None:
        counts = (
            df.select(*group_by, F.col(value_col).alias("v"))
            .where(F.col("v").isNotNull())
            .groupBy(*group_by, "v")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
    else:
        # exact integer micro-units: decimal accumulation would also be
        # exact, but integer cells reuse the unweighted CDF machinery
        # (longs sum, compare, and prefix identically)
        wu = F.floor(
            F.col(weight_col).cast("decimal(27,6)") * F.lit(1_000_000)
        ).cast("long")
        counts = (
            df.select(*group_by, F.col(value_col).alias("v"), wu.alias("_wu"))
            .where(F.col("v").isNotNull() & (F.col("_wu") > 0))
            .groupBy(*group_by, "v")
            .agg(F.sum("_wu").cast("long").alias("c"))
        )
    if group_by:
        w_cum = (
            Window.partitionBy(*group_by)
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_all = Window.partitionBy(*group_by)
        j = counts.withColumn("cum_c", F.sum("c").over(w_cum)).withColumn(
            "_n", F.sum("c").over(w_all).cast("long")
        )
    else:
        # fused pin: checkpoint + range bounds + grand total in ONE
        # job; _n attaches as a driver literal
        counts, bounds, got = _pin_with_bounds(
            counts, "v", num_partitions,
            metrics=[F.sum("c").cast("long").alias("_n")],
        )
        cum = _prefix_sums(
            counts, "v", ["c"], num_partitions, assume_pinned=True,
            bounds=bounds,
        )
        n_tot = got["_n"]
        j = cum.withColumn("_n", F.lit(n_tot).cast("long"))
        if not n_tot:
            # empty input empties the frame exactly where the old
            # filtered-totals crossJoin did
            j = j.where(F.lit(False))
    aggs = []
    if interpolation == "lower":
        for p in probs:
            rank = F.greatest(
                F.lit(1).cast("long"),
                F.ceil(F.lit(float(p)) * F.col("_n").cast("double")).cast("long"),
            )
            aggs.append(
                F.min(
                    F.when(
                        F.col("cum_c") >= rank,
                        F.struct(rank.alias("r"), F.col("v")),
                    )
                ).alias(f"_q{len(aggs)}")
            )
        structs = [
            F.struct(
                F.lit(float(p)).alias("prob"),
                F.col(f"_q{i}.r").alias("rank"),
                F.col(f"_q{i}.v").alias("value"),
            )
            for i, p in enumerate(probs)
        ]
    else:
        nd = F.col("_n").cast("double")
        vd = F.col("v").cast("double")  # the lerp must close on doubles
        for p in probs:
            h = F.lit(1.0) + (nd - F.lit(1.0)) * F.lit(float(p))
            lo = F.floor(h).cast("long")
            hi = F.least(lo + F.lit(1).cast("long"), F.col("_n"))
            aggs.append(
                F.min(
                    F.when(
                        F.col("cum_c") >= lo,
                        F.struct(lo.alias("r"), (h - F.floor(h)).alias("f"),
                                 vd.alias("v")),
                    )
                ).alias(f"_ql{len(aggs) // 2}")
            )
            aggs.append(
                F.min(F.when(F.col("cum_c") >= hi, vd)).alias(
                    f"_qh{len(aggs) // 2}"
                )
            )
        structs = [
            F.struct(
                F.lit(float(p)).alias("prob"),
                F.col(f"_ql{i}.r").alias("rank"),
                (
                    F.col(f"_ql{i}.v")
                    + F.col(f"_ql{i}.f")
                    * (F.col(f"_qh{i}") - F.col(f"_ql{i}.v"))
                ).alias("value"),
            )
            for i, p in enumerate(probs)
        ]
    one = j.groupBy(*group_by).agg(*aggs) if group_by else j.agg(*aggs)
    picked = one.select(
        *group_by,
        F.explode(F.array(*structs)).alias("q"),
    )
    return picked.select(*group_by, "q.prob", "q.rank", "q.value").where(
        F.col("rank").isNotNull()
    )


def ecdf(
    df: DataFrame,
    value_col: str,
    group_by: list[str] | None = None,
    output_col: str = "ecdf",
    rank_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Row-level empirical CDF / percent rank: for each row,
    ``F(x) = (#values <= x) / n`` over its group (or globally) — the
    DISTRIBUTED replacement for ``cume_dist() OVER (ORDER BY x)``,
    whose empty PARTITION BY funnels the entire table through one
    task. NULL values keep a NULL ecdf.

    Plan: the value histogram collapses the data to its distinct
    values (map-side combined), the CDF comes from ``_prefix_sums``
    (global) or group-partitioned windows (grouped), and the ≤
    |distinct values|-row CDF table joins back on (group, value) —
    strategy left to Catalyst/AQE, since a distinct-value table can be
    anything from broadcastable to huge. ``rank_col`` additionally
    emits the integer min-rank (``#values < x``, plus one).

    The division closes as one fixed-order IEEE op from exact integer
    counts — cross-engine reproducible (contrast ``cume_dist``, whose
    result this matches exactly when values are unique per group)."""
    if value_col not in df.columns:
        raise TransformationError(f"ecdf: value column not in schema: {value_col}")
    group_by = group_by or []
    for c in group_by:
        if c not in df.columns:
            raise TransformationError(f"group column not in input schema: {c}")
    reserved = {"_ecdf_cum", "_ecdf_n", "_ecdf_c"}
    clash = reserved & set(df.columns)
    if clash:
        raise TransformationError(
            f"column names reserved by ecdf: {sorted(clash)}"
        )
    counts = (
        df.select(*group_by, F.col(value_col).alias("v"))
        .where(F.col("v").isNotNull())
        .groupBy(*group_by, "v")
        .agg(F.count(F.lit(1)).cast("long").alias("_ecdf_c"))
    )
    if group_by:
        w_cum = (
            Window.partitionBy(*group_by)
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cdf = counts.withColumn(
            "_ecdf_cum", F.sum("_ecdf_c").over(w_cum)
        ).withColumn(
            "_ecdf_n",
            F.sum("_ecdf_c").over(Window.partitionBy(*group_by)).cast("long"),
        )
    else:
        # fused pin: checkpoint + range bounds + grand total in ONE
        # job; the total attaches as a driver literal (the totals
        # aggregate here has no >0 filter — an empty input yields an
        # empty cum frame either way)
        counts, bounds, got = _pin_with_bounds(
            counts, "v", num_partitions,
            metrics=[F.sum("_ecdf_c").cast("long").alias("_ecdf_n")],
        )
        cum = _prefix_sums(
            counts, "v", ["_ecdf_c"], num_partitions, assume_pinned=True,
            bounds=bounds,
        )
        cum = cum.withColumnRenamed("cum__ecdf_c", "_ecdf_cum")
        cdf = cum.withColumn("_ecdf_n", F.lit(got["_ecdf_n"]).cast("long"))
    cdf = cdf.select(
        *[F.col(c).alias(f"__bg_{c}") for c in group_by],
        F.col("v").alias("__bg_v"),
        "_ecdf_cum",
        "_ecdf_c",
        "_ecdf_n",
    )
    # null-safe on the group keys (a NULL group is a legitimate group);
    # plain equality on the value (NULL values keep a NULL ecdf)
    cond = F.col(value_col) == F.col("__bg_v")
    for c in group_by:
        cond = cond & F.col(c).eqNullSafe(F.col(f"__bg_{c}"))
    joined = df.join(cdf, cond, "left").drop(
        "__bg_v", *[f"__bg_{c}" for c in group_by]
    )
    out = joined.withColumn(
        output_col,
        F.col("_ecdf_cum").cast("double") / F.col("_ecdf_n").cast("double"),
    )
    if rank_col:
        out = out.withColumn(
            rank_col, F.col("_ecdf_cum") - F.col("_ecdf_c") + F.lit(1).cast("long")
        )
    return out.drop("_ecdf_cum", "_ecdf_n", "_ecdf_c")


def impute(
    df: DataFrame,
    value_col: str,
    strategy: str = "mean",
    group_by: list[str] | None = None,
    fill_value=None,
    out_col: str | None = None,
    flag_col: str | None = None,
) -> DataFrame:
    """NULL imputation — fill missing values with a per-group (or
    global) statistic: ``mean`` (decimal-exact, string-roundtrip
    close), ``median`` (exact type-1 via the distributed-CDF quantile
    path — never ``percentile_approx``), ``mode`` (most frequent
    value; ties break to the SMALLEST value so the result is
    deterministic), or ``constant`` (``fill_value``). The
    feature-prep staple every sklearn ``SimpleImputer`` pipeline runs,
    re-expressed Spark-first; beyond-reference per SURVEY §2.7 (the
    reference's null handling is split/quarantine only,
    ``quality/NullValueHandler.scala:31-58``).

    A group with NO non-null values keeps its NULLs (there is nothing
    to impute from) — they stay visible rather than silently becoming
    a global statistic. ``flag_col`` optionally records which rows
    were filled (imputation indicators are themselves a standard
    model feature).

    Plan at 100 TB: ONE reduced-state shuffle builds the statistic
    (map-side-combined agg for mean/mode, value histogram + CDF for
    median), the #groups-row table comes back as a null-safe
    BROADCAST join, and the fill is a row-local ``coalesce`` — the
    frame itself is never re-shuffled."""
    if strategy not in ("mean", "median", "mode", "constant"):
        raise TransformationError(
            f"impute strategy must be mean|median|mode|constant, "
            f"got '{strategy}'"
        )
    if value_col not in df.columns:
        raise TransformationError(
            f"impute: value column not in schema: {value_col}"
        )
    group_by = group_by or []
    for c in group_by:
        if c not in df.columns:
            raise TransformationError(f"group column not in input schema: {c}")
    out = out_col or value_col
    if strategy == "constant":
        if fill_value is None:
            raise TransformationError(
                "impute strategy=constant requires fill_value"
            )
        filled = F.coalesce(F.col(value_col), F.lit(fill_value))
        res = df
        if flag_col:
            res = res.withColumn(flag_col, F.col(value_col).isNull())
        return res.withColumn(out, filled)
    if strategy == "mean":
        stat = df.groupBy(*group_by).agg(
            (
                F.sum(F.col(value_col).cast("decimal(38,6)"))
                .cast("string")
                .cast("double")
                / F.count(value_col).cast("double")
            ).alias("_imp_fill")
        )
    elif strategy == "median":
        q = exact_quantiles(
            df.select(*group_by, F.col(value_col).cast("double").alias("_v")),
            "_v",
            [0.5],
            group_by=group_by,
        )
        stat = q.groupBy(*group_by).agg(F.min("value").alias("_imp_fill"))
    else:  # mode — deterministic: max count, then smallest value
        counts = (
            df.select(*group_by, F.col(value_col).alias("_v"))
            .where(F.col("_v").isNotNull())
            .groupBy(*group_by, "_v")
            .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        )
        w = Window.partitionBy(*[F.col(c) for c in group_by]).orderBy(
            F.col("_c").desc(), F.col("_v").asc()
        )
        stat = (
            counts.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(*group_by, F.col("_v").alias("_imp_fill"))
        )
    j = broadcast_group_join(df, stat, group_by)
    cast_fill = (
        F.col("_imp_fill").cast(df.schema[value_col].dataType)
        if strategy == "mode"
        else F.col("_imp_fill")
    )
    res = j
    if flag_col:
        res = res.withColumn(
            flag_col,
            F.col(value_col).isNull() & F.col("_imp_fill").isNotNull(),
        )
    return res.withColumn(
        out, F.coalesce(F.col(value_col), cast_fill)
    ).drop("_imp_fill")


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    ref: DataFrame,
    ref_col: str,
    out_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distribution matching / quantile normalization: replace each
    value ``x`` with the REFERENCE distribution's type-1 quantile at
    ``x``'s own percent rank — afterwards the column's empirical
    distribution equals the reference's (up to tie granularity). The
    feature-alignment / domain-adaptation staple (microarray quantile
    normalization, matching a score column across model versions,
    aligning a new data source's spend distribution to the corpus).
    Beyond-reference per SURVEY §2.7 (the reference has no
    distributional operator surface at all).

    Semantics: ``out = Q_ref(F_x(x))`` with ``F_x(x) = cum_x(x)/n_x``
    (inclusive ecdf) and ``Q_ref(p)`` the smallest reference value
    whose cumulative count reaches ``ceil(p·n_ref)`` — both sides the
    same type-1 machinery as :func:`exact_quantiles`/:func:`ecdf`.

    Exactness: the target rank is computed ENTIRELY in integer
    arithmetic — ``ceil(cum_x·n_ref / n_x) = (cum_x·n_ref + n_x − 1)
    div n_x`` over decimal(38,0) products — so no float ever enters
    the lookup and the output column is literal reference table
    values: hash-identical cross-engine by construction.

    Plan at 100 TB: both tables reduce to value histograms (map-side
    combined groupBy — the only full-scale shuffles); CDFs via
    ``_prefix_sums`` (no single-partition window); the rank lookup is
    a bounded range-bucket join between the two histogram-sized CDF
    tables (each target rank hits exactly one reference interval, ref
    expansion ≤ |distinct ref values| + 4·shuffle partitions); the
    #distinct-row mapping joins back on the value (broadcast or
    shuffle — Catalyst/AQE picks). Rows with NULL values keep NULL.
    Raises when the reference has no non-null values (no distribution
    to map onto)."""
    from etl_spark_gradle_spark.operators.relational import (
        interval_overlap_join,
    )

    if value_col not in df.columns:
        raise TransformationError(
            f"quantile_normalize: value column not in schema: {value_col}"
        )
    if ref_col not in ref.columns:
        raise TransformationError(
            f"quantile_normalize: reference column not in schema: {ref_col}"
        )
    out = out_col or f"{value_col}_qnorm"
    if out in df.columns:
        raise TransformationError(
            f"quantile_normalize: output column already in schema: {out}"
        )
    spark = df.sparkSession
    P = _shuffle_partitions(spark, num_partitions)

    def _hist(frame: DataFrame, col: str, alias: str):
        # fused pin per histogram: checkpoint + range bounds + grand
        # total in ONE job (was three: checkpoint, approxQuantile
        # inside _prefix_sums, and a totals branch/collect)
        h = (
            frame.select(F.col(col).alias("v"))
            .where(F.col("v").isNotNull())
            .groupBy("v")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        return _pin_with_bounds(
            h, "v", num_partitions,
            metrics=[F.sum("c").cast("long").alias(alias)],
        )

    hx, bx, gx = _hist(df, value_col, "_nx")
    hr, br, gr = _hist(ref, ref_col, "_nr")
    cum_x = _prefix_sums(
        hx, "v", ["c"], num_partitions, assume_pinned=True, bounds=bx
    )
    cum_r = _prefix_sums(
        hr, "v", ["c"], num_partitions, assume_pinned=True, bounds=br
    )
    n_x_val = gx["_nx"]
    n_r_val = gr["_nr"]
    if not n_r_val:
        raise TransformationError(
            "quantile_normalize: reference has no non-null values"
        )
    # integer ceil-division: rank = (cum_x·n_ref + n_x − 1) div n_x —
    # decimal(38,0) products cannot overflow for any pair of long
    # counts, and DIV is the exact integral quotient (no float, no
    # decimal-scale rounding hazard near integer boundaries)
    targets = (
        cum_x.withColumn("_nx", F.lit(n_x_val).cast("long"))
        .withColumn("_nr", F.lit(n_r_val).cast("long"))
        .select(
            F.col("v").alias("_qn_v"),
            F.greatest(
                F.lit(1).cast("long"),
                F.expr(
                    "CAST((CAST(cum_c AS DECIMAL(38,0)) * CAST(_nr AS "
                    "DECIMAL(38,0)) + CAST(_nx AS DECIMAL(38,0)) - 1) DIV "
                    "CAST(_nx AS DECIMAL(38,0)) AS BIGINT)"
                ),
            ).alias("_qn_rank"),
        )
        .withColumn("_qn_rank_hi", F.col("_qn_rank"))
    )
    ref_iv = cum_r.select(
        F.col("v").alias("_qn_ref_v"),
        (F.col("cum_c") - F.col("c") + F.lit(1)).cast("long").alias("_qn_lo"),
        F.col("cum_c").alias("_qn_hi"),
    )
    mapping = interval_overlap_join(
        targets,
        ref_iv,
        "_qn_rank",
        "_qn_rank_hi",
        "_qn_lo",
        "_qn_hi",
        bin_size=max(1.0, float(n_r_val) / (4 * P)),
    ).select("_qn_v", F.col("_qn_ref_v").alias("_qn_out"))
    joined = df.join(
        mapping, df[value_col] == mapping["_qn_v"], "left"
    ).drop("_qn_v")
    return joined.withColumn(out, F.col("_qn_out")).drop("_qn_out")


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_by: list[str] | None = None,
    k: float = 3.0,
    scale: float = 1.4826,
) -> DataFrame:
    """Robust outlier detection via the Median Absolute Deviation —
    the scale-safe alternative to mean±k·σ flagging (``zscore_flags``),
    which a single extreme value can mask (the outlier inflates σ).
    MAD's breakdown point is 50%: ``median`` and
    ``MAD = median(|x − median|)`` ignore up to half the data being
    corrupt. ``scale=1.4826`` makes MAD a consistent σ estimator under
    normality, so ``k`` reads in "robust sigmas".

    Both medians are EXACT type-1 quantiles computed by
    ``exact_quantiles`` (value-histogram shuffle + CDF; no
    executor-memory value buffering, no engine-specific sketch — the
    100 TB path), so every reported number is cross-engine
    reproducible: medians are table values, the threshold product is
    one IEEE double multiply spelled identically in the SQL oracle.

    Returns one summary row per group:
    ``(group…, n, median, mad, threshold, n_outliers)`` where
    ``threshold = k·scale·mad`` and ``n_outliers`` counts rows with
    ``|x − median| > threshold`` (strict: with MAD = 0 in a
    constant-majority group, only values ≠ median can flag).

    Plan: two histogram shuffles (values, then deviations) + two
    broadcast joins of the per-group medians (#groups rows) back onto
    the data — group cardinality is assumed dimension-like; for
    millions of groups swap the broadcasts for hash joins on the
    already group-partitioned frame.
    """
    if k <= 0 or scale <= 0:
        raise TransformationError("mad_outliers requires k > 0 and scale > 0")
    if value_col not in df.columns:
        raise TransformationError(
            f"mad_outliers: value column not in schema: {value_col}"
        )
    group_by = group_by or []
    for c in group_by:
        if c not in df.columns:
            raise TransformationError(f"group column not in input schema: {c}")
    base = df.select(
        *group_by, F.col(value_col).cast("double").alias("_x")
    ).where(F.col("_x").isNotNull())

    # #groups-row relation referenced twice (deviation join-back + the
    # final summary join) — pin so the exact-quantiles scaffold plans
    # once (r12 audit: 10 scans / 13 exchanges un-pinned)
    med = exact_quantiles(base, "_x", [0.5], group_by=group_by).select(
        *group_by, F.col("value").alias("_med")
    ).localCheckpoint(eager=False)
    j_med = broadcast_group_join(base, med, group_by)
    dev = j_med.select(
        *group_by, F.abs(F.col("_x") - F.col("_med")).alias("_adev")
    )
    mad = exact_quantiles(dev, "_adev", [0.5], group_by=group_by).select(
        *group_by, F.col("value").alias("_mad")
    )
    enriched = broadcast_group_join(dev, mad, group_by)
    thr = F.lit(float(k)) * F.lit(float(scale)) * F.col("_mad")
    summary = enriched.groupBy(*group_by).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.first("_mad").alias("mad"),
        F.sum((F.col("_adev") > thr).cast("long")).cast("long").alias("n_outliers"),
    )
    out = broadcast_group_join(summary, med, group_by, how="inner")
    return out.select(
        *group_by,
        "n",
        F.col("_med").alias("median"),
        "mad",
        (F.lit(float(k)) * F.lit(float(scale)) * F.col("mad")).alias("threshold"),
        "n_outliers",
    )


def quantile_clip(
    df: DataFrame,
    value_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
    group_by: list[str] | None = None,
    output_col: str | None = None,
) -> DataFrame:
    """Winsorize: CLIP values to the [lo, hi] quantile band instead of
    dropping the rows — the keep-everything complement to
    ``quantile_filter`` (relational.py), for features where tail rows
    carry signal but tail magnitudes poison downstream statistics.

    Quantiles are EXACT type-1 ranks via ``exact_quantiles`` (histogram
    + distributed CDF — no ``approx_percentile`` sketch, no
    executor-memory value buffering), so the clip boundaries are table
    values and the whole result is hash-reproducible cross-engine.
    Rows with NULL values pass through unchanged.

    Output: the input frame plus ``output_col`` (default
    ``<value_col>_clipped``) = ``least(greatest(x, q_lo), q_hi)``.

    Plan: one histogram shuffle for both quantiles (probs share the
    pass) + one broadcast join of the #groups-row threshold table back
    onto the data — the frame itself is never re-shuffled.
    """
    if not 0.0 <= float(lo) <= float(hi) <= 1.0:
        raise TransformationError(
            f"quantile_clip requires 0 <= lo <= hi <= 1, got [{lo}, {hi}]"
        )
    if value_col not in df.columns:
        raise TransformationError(
            f"quantile_clip: value column not in schema: {value_col}"
        )
    group_by = group_by or []
    for c in group_by:
        if c not in df.columns:
            raise TransformationError(f"group column not in input schema: {c}")
    out = output_col or f"{value_col}_clipped"

    q = exact_quantiles(
        df.select(*group_by, F.col(value_col).cast("double").alias(value_col)),
        value_col,
        [float(lo), float(hi)],
        group_by=group_by,
    )
    # one row per group: (group..., _qlo, _qhi)
    thresholds = q.groupBy(*group_by).agg(
        F.min(F.when(F.col("prob") == float(lo), F.col("value"))).alias("_qlo"),
        F.min(F.when(F.col("prob") == float(hi), F.col("value"))).alias("_qhi"),
    )
    joined = broadcast_group_join(df, thresholds, group_by)
    # Explicit NULL passthrough: greatest/least SKIP nulls in Spark, so
    # a bare least(greatest(x, qlo), qhi) would clip NULL x to qlo. A
    # group with no non-null values has no thresholds row (left join →
    # NULL bounds) and also passes through unchanged.
    clipped = F.when(
        F.col(value_col).isNull() | F.col("_qlo").isNull(),
        F.col(value_col).cast("double"),
    ).otherwise(
        F.least(
            F.greatest(F.col(value_col).cast("double"), F.col("_qlo")),
            F.col("_qhi"),
        )
    )
    return joined.withColumn(out, clipped).drop("_qlo", "_qhi")


def trimmed_mean(
    df: DataFrame,
    value_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
    group_by: list[str] | None = None,
    winsorize: bool = False,
) -> DataFrame:
    """Robust location estimate per group: the mean over the
    [lo, hi] EXACT-quantile band. ``winsorize=False`` (trimmed mean)
    DROPS tail values; ``winsorize=True`` (winsorized mean) CLIPS
    them to the band edges first — every row still contributes, tails
    just stop dominating. The aggregate companion to
    :func:`quantile_clip` (which returns per-row clipped values) and
    the parametric sibling of the median/MAD family — heavy-tailed
    feed metrics (latency, spend, token counts) where a plain mean is
    one outlier away from useless. Reference parity anchor: the
    reference's aggregation surface is plain avg
    (``transformer/Aggregator.scala:41-58``); this extends SURVEY §2.7
    beyond-reference robust statistics.

    Exactness (cross-engine hash gate): band edges are type-1
    exact-quantile TABLE VALUES (``exact_quantiles`` histogram+CDF, no
    sketch); the band sum accumulates in ``decimal(38,6)`` (exact for
    fixed-point-decimal doubles; a float sum is partition-order
    dependent) and closes to double through the string round-trip in
    one fixed-order division.

    Plan at 100 TB: one histogram shuffle for both quantiles, the
    #groups-row threshold table broadcast back, then ONE map-side
    combined aggregation — the frame is never re-shuffled and no
    executor buffers raw values.

    Output per group: ``n`` (non-null count), ``n_used`` (values
    contributing), ``q_lo``, ``q_hi``, ``mean`` (double; NULL when the
    band is empty)."""
    if not 0.0 <= float(lo) <= float(hi) <= 1.0:
        raise TransformationError(
            f"trimmed_mean requires 0 <= lo <= hi <= 1, got [{lo}, {hi}]"
        )
    if value_col not in df.columns:
        raise TransformationError(
            f"trimmed_mean: value column not in schema: {value_col}"
        )
    group_by = group_by or []
    for c in group_by:
        if c not in df.columns:
            raise TransformationError(f"group column not in input schema: {c}")
    data = df.select(
        *group_by, F.col(value_col).cast("double").alias("_tm_v")
    ).where(F.col("_tm_v").isNotNull())
    q = exact_quantiles(data, "_tm_v", [float(lo), float(hi)], group_by=group_by)
    thresholds = q.groupBy(*group_by).agg(
        F.min(F.when(F.col("prob") == float(lo), F.col("value"))).alias("_qlo"),
        F.min(F.when(F.col("prob") == float(hi), F.col("value"))).alias("_qhi"),
    )
    j = broadcast_group_join(data, thresholds, group_by)
    v = F.col("_tm_v")
    if winsorize:
        contrib = F.least(F.greatest(v, F.col("_qlo")), F.col("_qhi"))
    else:
        contrib = F.when(
            (v >= F.col("_qlo")) & (v <= F.col("_qhi")), v
        )
    agg = j.groupBy(*group_by).agg(
        F.count(v).cast("long").alias("n"),
        F.count(contrib).cast("long").alias("n_used"),
        F.min("_qlo").alias("q_lo"),
        F.min("_qhi").alias("q_hi"),
        F.sum(contrib.cast("decimal(38,6)")).alias("_s"),
    )
    mean = F.when(
        F.col("n_used") > 0,
        F.col("_s").cast("string").cast("double")
        / F.col("n_used").cast("double"),
    )
    return agg.withColumn("mean", mean).drop("_s")


def discretize(
    df: DataFrame,
    value_col: str,
    bins: int = 10,
    mode: str = "equal_freq",
    group_by: list[str] | None = None,
    output_col: str | None = None,
) -> DataFrame:
    """Bin a numeric column into ``bins`` integer buckets — the
    feature-engineering discretization primitive, and the DISTRIBUTED
    replacement for a global ``ntile(bins) OVER (ORDER BY x)``: that
    window has an empty PARTITION BY, so Spark funnels the entire
    table through ONE task — the classic 100-TB scale killer this
    module's CDF machinery exists to avoid.

    ``mode="equal_freq"`` (quantile binning, pandas ``qcut``
    analogue): bin edges are the EXACT type-1 quantiles at
    ``i/bins`` (i = 1..bins-1) via :func:`exact_quantiles`
    (histogram + distributed CDF, all edges in one pass); a row's bin
    is the number of edges strictly below its value. When heavy
    duplicates make adjacent edges EQUAL, the in-between bins are
    simply never assigned (deterministic collapse — same convention
    both engines; pandas ``qcut`` raises here instead).

    ``mode="equal_width"`` (pandas ``cut`` analogue): per-group
    ``lo``/``hi`` from one min/max aggregation; bin =
    ``least(floor((x - lo) / width), bins - 1)``, both engines closing
    the identical IEEE double expression. A constant group
    (``lo == hi``) puts everything in bin 0.

    NULL values (and rows of groups with no non-null values) get a
    NULL bin. Plan: one stats shuffle (histogram or min/max) + one
    broadcast join of the #groups-row edge table back; the frame
    itself is never re-shuffled.
    """
    if bins < 2:
        raise TransformationError("discretize requires bins >= 2")
    if mode not in ("equal_freq", "equal_width"):
        raise TransformationError(
            f"discretize mode must be equal_freq or equal_width, got '{mode}'"
        )
    if value_col not in df.columns:
        raise TransformationError(
            f"discretize: value column not in schema: {value_col}"
        )
    group_by = group_by or []
    for c in group_by:
        if c not in df.columns:
            raise TransformationError(f"group column not in input schema: {c}")
    out = output_col or f"{value_col}_bin"
    clash = {"_edges", "_lo", "_hi"} & set(df.columns)
    if clash:
        raise TransformationError(
            f"column names reserved by discretize: {sorted(clash)}"
        )
    v = F.col(value_col).cast("double")

    if mode == "equal_width":
        stats = df.groupBy(*[F.col(c) for c in group_by]).agg(
            F.min(v).alias("_lo"), F.max(v).alias("_hi")
        )
        joined = broadcast_group_join(df, stats, group_by)
        width = (F.col("_hi") - F.col("_lo")) / F.lit(float(bins))
        bin_expr = F.when(v.isNull() | F.col("_lo").isNull(), F.lit(None)).otherwise(
            F.when(F.col("_lo") == F.col("_hi"), F.lit(0)).otherwise(
                F.least(
                    F.floor((v - F.col("_lo")) / width), F.lit(bins - 1)
                )
            )
        )
        return joined.withColumn(out, bin_expr.cast("int")).drop("_lo", "_hi")

    probs = [i / bins for i in range(1, bins)]
    q = exact_quantiles(
        df.select(*group_by, v.alias(value_col)), value_col, probs,
        group_by=group_by,
    )
    edges = q.groupBy(*group_by).agg(
        F.array_sort(F.collect_list(F.col("value"))).alias("_edges")
    )
    joined = broadcast_group_join(df, edges, group_by)
    bin_expr = F.when(v.isNull() | F.col("_edges").isNull(), F.lit(None)).otherwise(
        F.aggregate(
            "_edges",
            F.lit(0),
            lambda acc, t: acc + F.when(v > t, F.lit(1)).otherwise(F.lit(0)),
        )
    )
    return joined.withColumn(out, bin_expr.cast("int")).drop("_edges")


class DiscretizeTransformer(_BaseTransformer):
    """Registry adapter (``type: discretize``). Options: ``column``
    (required), ``bins`` (default 10), ``mode`` equal_freq|equal_width,
    ``groupBy`` csv, ``outputColumn``."""

    def validate(self, df, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        col = opts.get("column")
        if not col:
            errors.append("discretize requires 'column'")
        elif col not in df.columns:
            errors.append(f"column not in input schema: {col}")
        try:
            if int(opts.get("bins", 10)) < 2:
                errors.append("discretize bins must be >= 2")
        except (TypeError, ValueError):
            errors.append("discretize bins must be an integer")
        if opts.get("mode", "equal_freq") not in ("equal_freq", "equal_width"):
            errors.append("discretize mode must be equal_freq or equal_width")
        for c in _split_csv(opts.get("groupBy")):
            if c not in df.columns:
                errors.append(f"group column not in input schema: {c}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        return discretize(
            df,
            opts["column"],
            bins=int(opts.get("bins", 10)),
            mode=opts.get("mode", "equal_freq"),
            group_by=_split_csv(opts.get("groupBy")) or None,
            output_col=opts.get("outputColumn"),
        )


class DriftTransformer(_BaseTransformer):
    """Registry adapter (``type: drift``): compares the pipeline frame
    against a registered view. Options: ``otherView`` (required — name
    registered under ``views:``) plus EXACTLY ONE of
    ``categoryColumn`` (categorical χ² table) or ``valueColumn``
    (continuous two-sample test; ``statistic: ks`` default,
    ``rank_sum`` for Mann–Whitney AUC, ``anderson_darling`` for the
    tail-sensitive Scholz–Stephens A²akN, ``kuiper`` for the
    direction-aware V = D⁺ + D⁻, ``cramer_von_mises`` for the
    mass-weighted squared-gap criterion, ``wasserstein`` /
    ``energy`` for the value-unit transport metrics, or ``psi`` for
    the Population Stability Index over the reference side's exact
    decile bins — ``bins``, ``smoothing``, ``perBin``). With ``categoryColumn``,
    ``statistic: tv`` selects the total-variation summary,
    ``js`` the Jensen-Shannon divergence (both take ``perCategory:
    true`` for the contribution table), and ``kl`` the add-α smoothed
    KL divergence (``smoothing``, default 0.5) instead of the default
    χ² table."""

    def validate(self, df, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        cat, val = opts.get("categoryColumn"), opts.get("valueColumn")
        if bool(cat) == bool(val):
            errors.append(
                "drift requires exactly one of 'categoryColumn' or 'valueColumn'"
            )
        elif cat and cat not in df.columns:
            errors.append(f"category column not in input schema: {cat}")
        elif val and val not in df.columns:
            errors.append(f"value column not in input schema: {val}")
        if not opts.get("otherView"):
            errors.append("drift requires 'otherView'")
        stat = opts.get("statistic")
        if val and stat not in (
            None, "ks", "rank_sum", "psi", "anderson_darling",
            "wasserstein", "kuiper", "cramer_von_mises", "energy",
        ):
            errors.append(
                "drift statistic for valueColumn must be "
                f"ks|rank_sum|psi|anderson_darling|wasserstein|"
                f"kuiper|cramer_von_mises|energy, got '{stat}'"
            )
        if cat and stat not in (None, "chi2", "tv", "js", "kl"):
            errors.append(
                "drift statistic for categoryColumn must be "
                f"chi2|tv|js|kl, got '{stat}'"
            )
        if stat in ("psi", "kl"):
            try:
                if float(opts.get("smoothing", 0.5)) <= 0:
                    errors.append("drift 'smoothing' must be > 0")
            except (TypeError, ValueError):
                errors.append("drift 'smoothing' must be numeric")
        if stat == "psi":
            try:
                if int(opts.get("bins", 10)) < 2:
                    errors.append("drift 'bins' must be an integer >= 2")
            except (TypeError, ValueError):
                errors.append("drift 'bins' must be an integer >= 2")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        try:
            other = ctx.spark.table(opts["otherView"])
        except Exception as exc:
            raise TransformationError(
                f"drift: otherView not found: {opts['otherView']}: {exc}"
            ) from exc
        if opts.get("valueColumn"):
            if opts.get("statistic", "ks") == "rank_sum":
                return rank_sum_drift(df, other, opts["valueColumn"])
            if opts.get("statistic", "ks") == "anderson_darling":
                return anderson_darling_drift(
                    df, other, opts["valueColumn"]
                )
            if opts.get("statistic", "ks") == "wasserstein":
                return wasserstein_drift(df, other, opts["valueColumn"])
            if opts.get("statistic", "ks") == "kuiper":
                return kuiper_drift(df, other, opts["valueColumn"])
            if opts.get("statistic", "ks") == "cramer_von_mises":
                return cramer_von_mises_drift(
                    df, other, opts["valueColumn"]
                )
            if opts.get("statistic", "ks") == "energy":
                return energy_distance_drift(
                    df, other, opts["valueColumn"]
                )
            if opts.get("statistic", "ks") == "psi":
                from etl_spark_gradle_spark.operators.infotheory import psi_drift

                return psi_drift(
                    df,
                    other,
                    opts["valueColumn"],
                    bins=int(opts.get("bins", 10)),
                    smoothing=float(opts.get("smoothing", 0.5)),
                    per_bin=str(opts.get("perBin", "false")).lower() == "true",
                )
            return ks_drift(df, other, opts["valueColumn"])
        if opts.get("statistic") == "tv":
            return tv_distance(
                df,
                other,
                opts["categoryColumn"],
                per_category=str(opts.get("perCategory", "false")).lower() == "true",
            )
        if opts.get("statistic") == "js":
            from etl_spark_gradle_spark.operators.infotheory import js_divergence

            return js_divergence(
                df,
                other,
                opts["categoryColumn"],
                per_category=str(opts.get("perCategory", "false")).lower() == "true",
            )
        if opts.get("statistic") == "kl":
            from etl_spark_gradle_spark.operators.infotheory import kl_divergence

            return kl_divergence(
                df,
                other,
                opts["categoryColumn"],
                smoothing=float(opts.get("smoothing", 0.5)),
            )
        return category_drift(df, other, opts["categoryColumn"])


def cochran_q(
    df: DataFrame,
    flag_cols: list[str],
    group_by: list[str] | None = None,
) -> DataFrame:
    """Cochran's Q — the k-treatment generalization of
    :func:`mcnemar_test` for PAIRED binary outcomes (k model variants
    scored correct/incorrect on the SAME eval rows; k pipeline stages
    pass/fail on the same documents)::

        Q = (k−1) · [k·ΣC_j² − (ΣC_j)²] / [k·ΣR_i − ΣR_i²]

    with ``C_j`` the per-treatment success totals and ``R_i`` each
    row's success count. Under H0 (no treatment effect) Q ~ χ²(k−1);
    the statistic is the gateable core (the ``welch_ttest`` posture).

    Exactness: EVERYTHING is exact 64-bit integer arithmetic up to
    ONE final division — C_j, ΣC_j², ΣR_i, ΣR_i² all accumulate as
    longs in ONE aggregation (C_j² ≤ n², so per-group n must stay
    below ~3·10⁹ — the repo-wide integer-bound contract). Rows with
    ANY null flag are excluded (pairing requires the full panel).
    Flags are truthy casts. A zero denominator (all rows all-success
    or all-failure) yields NULL ``q_stat``.

    Plan at 100 TB: one shuffle carrying k+3 longs per group; the
    moment row merges across shards by plain addition... except ΣC_j²
    which derives from the merged C_j — so the SHUFFLED row carries
    the k raw C_j totals and the close squares them after the final
    merge (fully mergeable, no approximation).

    Output: group cols + ``n`` (long), ``k_treatments`` (long),
    ``df`` (long), ``q_stat`` (double)."""
    if len(flag_cols) < 2:
        raise TransformationError(
            "cochran_q requires at least two flag columns"
        )
    group_by = group_by or []
    for c in (*flag_cols, *group_by):
        if c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")
    k = len(flag_cols)
    flags = [F.col(c).cast("boolean").cast("int") for c in flag_cols]
    cond = None
    for f in flags:
        nn = f.isNotNull()
        cond = nn if cond is None else (cond & nn)
    base = df.where(cond)
    r = None
    for f in flags:
        r = f if r is None else (r + f)
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for i, f in enumerate(flags):
        aggs.append(F.sum(f).cast("long").alias(f"_c{i}"))
    aggs.append(F.sum(r).cast("long").alias("_sr"))
    aggs.append(F.sum(r * r).cast("long").alias("_srr"))
    grouped = base.groupBy(*group_by) if group_by else base.groupBy()
    m = grouped.agg(*aggs)
    sc = None
    sc2 = None
    for i in range(k):
        c = F.col(f"_c{i}")
        sc = c if sc is None else (sc + c)
        sq = c * c
        sc2 = sq if sc2 is None else (sc2 + sq)
    num = (F.lit(k) * sc2 - sc * sc).cast("long")
    den = (F.lit(k) * F.col("_sr") - F.col("_srr")).cast("long")
    return m.select(
        *group_by,
        "n",
        F.lit(k).cast("long").alias("k_treatments"),
        F.lit(k - 1).cast("long").alias("df"),
        F.when(
            den > 0,
            (F.lit(float(k - 1)) * num.cast("double"))
            / den.cast("double"),
        ).alias("q_stat"),
    )


def friedman(
    df: DataFrame,
    value_cols: list[str],
    group_by: list[str] | None = None,
) -> DataFrame:
    """Friedman test — the k-treatment repeated-measures test on
    RANKS, completing the paired-panel family (:func:`mcnemar_test` /
    :func:`cochran_q` for binary flags; Friedman for continuous
    scores: k model variants' losses on the SAME eval rows, k
    pipeline configs' latencies on the same inputs)::

        T1 = (k−1)·[Σ_j R_j² − n²k(k+1)²/4] / [Σ_ij r_ij² − nk(k+1)²/4]

    with within-row average ranks (ties share midpoints) — the
    Conover tie-corrected form; with no ties it reduces to the
    classical ``12/(nk(k+1))·Σ(R_j − n(k+1)/2)²``. Under H0,
    T1 ~ χ²(k−1); the statistic is the gateable core.

    Exactness: within-row ranks use the doubled-rank integer encoding
    ``2r = 2·#less + #equal + 1`` (pure per-row Catalyst comparisons
    over the k literal columns — no sort, no window); multiplying the
    statistic through by 4 makes EVERY term exact integer:
    ``ΣR2_j²`` in decimal(38,0) (R2_j ≤ 2kn squares past long at
    n ~ 1.5·10⁹), ``S2 = Σ(2r)²`` as long, and T1 is ONE division of
    exact integers (string-round-trip close). Rows with ANY null
    value are excluded (pairing requires the full panel). A zero
    denominator (every row entirely tied) yields NULL.

    Plan at 100 TB: zero shuffles before the close — ranks ride the
    scan row-locally; ONE aggregation carries k+2 exact numbers per
    group (the k R2 totals shuffle raw, the close squares AFTER the
    final merge — fully mergeable).

    Output: group cols + ``n`` (long), ``k_treatments`` (long),
    ``df`` (long), ``chi2_friedman`` (double)."""
    k = len(value_cols)
    if k < 2:
        raise TransformationError(
            "friedman requires at least two value columns"
        )
    group_by = group_by or []
    for c in (*value_cols, *group_by):
        if c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")
    cols = [F.col(c) for c in value_cols]
    cond = None
    for c in cols:
        nn = c.isNotNull()
        cond = nn if cond is None else (cond & nn)
    base = df.where(cond)
    r2 = []
    for j in range(k):
        less = None
        eq = None
        for l in range(k):
            lt = (cols[l] < cols[j]).cast("int")
            e = (cols[l] == cols[j]).cast("int")
            less = lt if less is None else (less + lt)
            eq = e if eq is None else (eq + e)
        r2.append(F.lit(2) * less + eq + F.lit(1))
    s2_row = None
    for j in range(k):
        t = r2[j] * r2[j]
        s2_row = t if s2_row is None else (s2_row + t)
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for j in range(k):
        aggs.append(F.sum(r2[j]).cast("long").alias(f"_r{j}"))
    aggs.append(F.sum(s2_row).cast("long").alias("_s2"))
    grouped = base.groupBy(*group_by) if group_by else base.groupBy()
    m = grouped.agg(*aggs)
    dec = "decimal(38,0)"
    sum_r2sq = None
    for j in range(k):
        t = (F.col(f"_r{j}").cast(dec) * F.col(f"_r{j}").cast(dec)).cast(dec)
        sum_r2sq = t if sum_r2sq is None else (sum_r2sq + t).cast(dec)
    n_ = F.col("n").cast(dec)
    kk1sq = F.lit(k * (k + 1) * (k + 1)).cast(dec)
    num = (sum_r2sq - (n_ * n_ * kk1sq).cast(dec)).cast(dec)
    den = (F.col("_s2").cast(dec) - (n_ * kk1sq).cast(dec)).cast(dec)
    return m.select(
        *group_by,
        "n",
        F.lit(k).cast("long").alias("k_treatments"),
        F.lit(k - 1).cast("long").alias("df"),
        F.when(
            den > 0,
            F.lit(float(k - 1)) * _d(num) / _d(den),
        ).alias("chi2_friedman"),
    )


def tukey_hsd(
    df: DataFrame,
    value_col: str,
    factor_col: str,
) -> DataFrame:
    """Tukey's HSD pairwise table — the post-hoc that follows a
    significant :func:`anova_f`: WHICH pairs of factor levels differ,
    via the studentized-range statistic (Tukey–Kramer form for
    unequal level sizes)::

        q_ij = |mean_i − mean_j| / sqrt((MSE/2)·(1/n_i + 1/n_j)),
        MSE  = SSW / (N − k)

    The statistic (plus per-pair means/diff/se) is the gateable core;
    critical values of the studentized-range distribution are a
    lookup the caller applies (the ``welch_ttest`` posture — no
    p-values without an approximation library).

    Exactness: per-level moments are exact decimal from ONE
    map-side-combined shuffle; MSE's one cross-level float
    accumulation closes by the SAME level-sorted ordered fold as
    ``anova_f`` (replayed verbatim by DuckDB ``list_reduce``); each
    pair row is then a fixed short sequence of independent double
    ops. NULL value/level rows are excluded; zero MSE or n ≤ k
    yields NULL ``q_stat``.

    Plan at 100 TB: the pairwise join runs on the PINNED ≤k-row level
    table (k² pairs, k = factor cardinality — bounded by contract,
    never data-sized); MSE attaches as a 1-row broadcast. The raw
    data is scanned once.

    Output: one row per unordered level pair (lvl_a < lvl_b) —
    ``lvl_a``/``lvl_b`` (string), ``n_a``/``n_b`` (long),
    ``mean_a``/``mean_b``/``diff``/``se``/``q_stat`` (double)."""
    for c in (value_col, factor_col):
        if c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")
    per_level = (
        df.where(
            F.col(value_col).isNotNull() & F.col(factor_col).isNotNull()
        )
        .groupBy(F.col(factor_col).cast("string").alias("_lvl"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum(_dec(value_col)).alias("_sum"),
            F.sum(_prod(value_col, value_col)).alias("_sumsq"),
        )
        # the bounded level table feeds the MSE fold AND both sides
        # of the pair join — pin it so the raw scan runs ONCE
        .localCheckpoint(eager=False)
    )
    term = (
        (_d(F.col("_sum")) * _d(F.col("_sum")))
        / F.col("_n").cast("double")
    ).alias("_t")
    mse_row = per_level.select("_lvl", "_n", "_sumsq", term).agg(
        F.sum("_n").cast("long").alias("_N"),
        F.count(F.lit(1)).cast("long").alias("_k"),
        F.sum("_sumsq").alias("_gsumsq"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("_lvl", "_t"))),
            F.lit(0.0),
            lambda acc, x: acc + x["_t"],
        ).alias("_a"),
    ).select(
        "_N",
        "_k",
        F.when(
            F.col("_N") > F.col("_k"),
            (_d(F.col("_gsumsq")) - F.col("_a"))
            / (F.col("_N") - F.col("_k")).cast("double"),
        ).alias("_mse"),
    )
    a = per_level.select(
        F.col("_lvl").alias("lvl_a"),
        F.col("_n").alias("n_a"),
        F.col("_sum").alias("_sum_a"),
    )
    b = per_level.select(
        F.col("_lvl").alias("lvl_b"),
        F.col("_n").alias("n_b"),
        F.col("_sum").alias("_sum_b"),
    )
    pairs = a.join(F.broadcast(b), F.col("lvl_a") < F.col("lvl_b")).crossJoin(
        F.broadcast(mse_row)
    )
    mean_a = _d(F.col("_sum_a")) / F.col("n_a").cast("double")
    mean_b = _d(F.col("_sum_b")) / F.col("n_b").cast("double")
    se = F.sqrt(
        (F.col("_mse") / F.lit(2.0))
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    return pairs.select(
        "lvl_a",
        "lvl_b",
        "n_a",
        "n_b",
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        (mean_a - mean_b).alias("diff"),
        F.when(F.col("_mse") > 0, se).alias("se"),
        F.when(
            F.col("_mse") > 0,
            F.abs(mean_a - mean_b) / se,
        ).alias("q_stat"),
    )


def cronbach_alpha(
    df: DataFrame,
    item_cols: list[str],
    group_by: list[str] | None = None,
) -> DataFrame:
    """Cronbach's alpha — internal-consistency reliability of a
    k-item scale (rating rubrics, multi-judge quality scores, survey
    batteries): do the items measure the same construct?::

        α = k/(k−1) · (1 − Σ_i var_i / var_total)

    with sample variances of each item and of the per-row total.

    Exactness: rows with ANY null item are excluded (listwise
    deletion — the classical treatment, and the only one that keeps
    var_total well-defined); items quantize to the repo-wide
    decimal(18,2); every moment (Σx_i, Σx_i², Σt, Σt²) accumulates as
    exact decimal in ONE aggregation; Σ_i var_i numerators fold in
    LITERAL item-parameter order as exact decimal additions (no
    data-dependent order anywhere); the close is a fixed short double
    expression via the string round-trip. n < 2, k < 2 or zero total
    variance yields NULL ``alpha``.

    Plan at 100 TB: one shuffle carrying 2k+3 numbers per group — the
    moment row merges across shards by plain addition.

    Output: group cols + ``n`` (long), ``k_items`` (long),
    ``item_var_sum``/``total_var``/``alpha`` (double)."""
    if len(item_cols) < 2:
        raise TransformationError(
            "cronbach_alpha requires at least two item columns"
        )
    group_by = group_by or []
    for c in (*item_cols, *group_by):
        if c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")
    cond = None
    for c in item_cols:
        nn = F.col(c).isNotNull()
        cond = nn if cond is None else (cond & nn)
    base = df.where(cond)
    total = None
    for c in item_cols:
        total = _dec(c) if total is None else (total + _dec(c))
    total = total.cast("decimal(18,2)")
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for i, c in enumerate(item_cols):
        aggs.append(F.sum(_dec(c)).alias(f"_s{i}"))
        aggs.append(F.sum(_prod(c, c)).alias(f"_q{i}"))
    aggs.append(F.sum(total).alias("_st"))
    aggs.append(
        F.sum((total * total).cast("decimal(38,4)")).alias("_qt")
    )
    grouped = base.groupBy(*group_by) if group_by else base.groupBy()
    m = grouped.agg(*aggs)
    n = F.col("n").cast("double")
    k = len(item_cols)
    # Σ_i (n·Σx² − (Σx)²) in literal item order, exact decimal
    items_num = None
    for i in range(k):
        t = (
            F.col("n") * F.col(f"_q{i}")
            - (F.col(f"_s{i}") * F.col(f"_s{i}")).cast("decimal(38,4)")
        ).cast("decimal(38,4)")
        items_num = t if items_num is None else (
            (items_num + t).cast("decimal(38,4)")
        )
    total_num = (
        F.col("n") * F.col("_qt")
        - (F.col("_st") * F.col("_st")).cast("decimal(38,4)")
    ).cast("decimal(38,4)")
    denom = n * (n - F.lit(1.0))
    item_var_sum = F.when(F.col("n") >= 2, _d(items_num) / denom)
    total_var = F.when(F.col("n") >= 2, _d(total_num) / denom)
    return m.select(
        *group_by,
        "n",
        F.lit(k).cast("long").alias("k_items"),
        item_var_sum.alias("item_var_sum"),
        total_var.alias("total_var"),
        F.when(
            (F.col("n") >= 2) & (total_var > 0),
            F.lit(k / (k - 1.0))
            * (F.lit(1.0) - item_var_sum / total_var),
        ).alias("alpha"),
    )


def cohens_d(
    df: DataFrame,
    value_col: str,
    side_col: str,
    side_a=None,
    side_b=None,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Cohen's d and Hedges' g — the standardized two-group effect
    size that tells you whether a statistically significant
    :func:`welch_ttest` MATTERS (at 100 TB every difference is
    "significant"; effect size is the read that survives scale)::

        d = (mean_a − mean_b) / s_p,
        s_p² = ((n_a−1)s_a² + (n_b−1)s_b²) / (n_a+n_b−2),
        g = d · (1 − 3/(4(n_a+n_b) − 9))     (small-sample bias fix)

    Same single conditional moment aggregation as ``welch_ttest``
    (exact decimal n/Σx/Σx² per side, one shuffle, one short row per
    group), closed in fixed IEEE order through the string round-trip.
    ``side_col`` must carry exactly two non-null values; omit
    ``side_a``/``side_b`` to auto-detect (sorted ascending). Groups
    with n < 2 on either side or zero pooled variance yield NULL
    ``d``/``g``.

    Output: group cols + ``n_a``/``n_b`` (long), ``mean_a``/
    ``mean_b``/``pooled_var``/``d``/``g`` (double)."""
    for c in (value_col, side_col, *(group_by or [])):
        if c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")
    group_by = group_by or []
    if (side_a is None) != (side_b is None):
        raise TransformationError(
            "cohens_d: pass both side_a and side_b or neither"
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
                f"cohens_d: side column '{side_col}' must carry exactly "
                f"two distinct non-null values, found {len(sides)}"
            )
        side_a, side_b = sides
    if side_a == side_b:
        raise TransformationError("cohens_d: side_a and side_b must differ")
    aggs = []
    for tag, side in (("a", side_a), ("b", side_b)):
        cond = F.col(side_col) == F.lit(side)
        aggs += [
            F.count(
                F.when(cond & F.col(value_col).isNotNull(), F.lit(1))
            ).cast("long").alias(f"n_{tag}"),
            F.sum(F.when(cond, _dec(value_col))).alias(f"sum_{tag}"),
            F.sum(F.when(cond, _prod(value_col, value_col))).alias(
                f"sumsq_{tag}"
            ),
        ]
    grouped = df.groupBy(*group_by) if group_by else df.groupBy()
    m = grouped.agg(*aggs)
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sa, sb = _d(F.col("sum_a")), _d(F.col("sum_b"))
    sqa, sqb = _d(F.col("sumsq_a")), _d(F.col("sumsq_b"))
    mean_a = F.when(F.col("n_a") > 0, sa / na)
    mean_b = F.when(F.col("n_b") > 0, sb / nb)
    var_a = F.when(
        F.col("n_a") >= 2, (na * sqa - sa * sa) / (na * (na - F.lit(1.0)))
    )
    var_b = F.when(
        F.col("n_b") >= 2, (nb * sqb - sb * sb) / (nb * (nb - F.lit(1.0)))
    )
    out = m.select(
        *group_by, "n_a", "n_b",
        mean_a.alias("mean_a"), mean_b.alias("mean_b"),
        var_a.alias("var_a"), var_b.alias("var_b"),
    )
    pooled = (
        (F.col("n_a").cast("double") - F.lit(1.0)) * F.col("var_a")
        + (F.col("n_b").cast("double") - F.lit(1.0)) * F.col("var_b")
    ) / (
        F.col("n_a").cast("double") + F.col("n_b").cast("double")
        - F.lit(2.0)
    )
    out = out.withColumn(
        "pooled_var",
        F.when(
            (F.col("n_a") >= 2) & (F.col("n_b") >= 2), pooled
        ),
    )
    d = F.when(
        F.col("pooled_var") > 0,
        (F.col("mean_a") - F.col("mean_b")) / F.sqrt(F.col("pooled_var")),
    )
    nsum = F.col("n_a").cast("double") + F.col("n_b").cast("double")
    return out.select(
        *group_by, "n_a", "n_b", "mean_a", "mean_b", "pooled_var",
        d.alias("d"),
        (
            d
            * (
                F.lit(1.0)
                - F.lit(3.0) / (F.lit(4.0) * nsum - F.lit(9.0))
            )
        ).alias("g"),
    )


class StatsTransformer(_BaseTransformer):
    """Registry adapter (``type: stats``). Options: ``operation``
    correlation|linear_fit|zscore|quantiles|mad_outliers|ecdf|
    quantile_clip|trimmed_mean|impute|multiple_regression|benford|
    welch_ttest|prop_ztest|spearman|anova|kruskal_wallis|fdr_bh|
    chi_square (``xColumn``/``yColumn``)|mcnemar (``flagAColumn``/
    ``flagBColumn``/``correction``)|brown_forsythe (``valueColumn``/
    ``factorColumn``),
    ``columns`` (csv — correlation), ``xColumn``/``yColumn``
    (linear_fit), ``valueColumn``/``threshold`` (zscore),
    ``valueColumn``/``probs`` csv (quantiles),
    ``valueColumn``/``k``/``scale`` (mad_outliers),
    ``valueColumn``/``lo``/``hi``/``outputColumn`` (quantile_clip),
    ``valueColumn``/``lo``/``hi``/``winsorize`` (trimmed_mean),
    ``groupBy`` (csv, optional for all)."""

    def validate(self, df, config):
        from etl_spark_gradle_spark.operators.relational import _split_csv
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        op = opts.get("operation", "correlation")
        cols_needed: list[str] = list(_split_csv(opts.get("groupBy")))
        if op == "correlation":
            cols = _split_csv(opts.get("columns"))
            if len(cols) < 2:
                errors.append("stats correlation requires 'columns' (>= 2)")
            cols_needed += cols
        elif op == "linear_fit":
            for key in ("xColumn", "yColumn"):
                if not opts.get(key):
                    errors.append(f"stats linear_fit requires '{key}'")
                else:
                    cols_needed.append(opts[key])
        elif op == "zscore":
            if not opts.get("valueColumn"):
                errors.append("stats zscore requires 'valueColumn'")
            else:
                cols_needed.append(opts["valueColumn"])
        elif op == "quantiles":
            if not opts.get("valueColumn"):
                errors.append("stats quantiles requires 'valueColumn'")
            else:
                cols_needed.append(opts["valueColumn"])
            try:
                probs = [float(p) for p in _split_csv(opts.get("probs"))]
                if not probs or any(not 0.0 <= p <= 1.0 for p in probs):
                    errors.append(
                        "stats quantiles requires 'probs' (csv of floats in [0, 1])"
                    )
            except ValueError:
                errors.append(
                    "stats quantiles requires 'probs' (csv of floats in [0, 1])"
                )
        elif op == "mad_outliers":
            if not opts.get("valueColumn"):
                errors.append("stats mad_outliers requires 'valueColumn'")
            else:
                cols_needed.append(opts["valueColumn"])
            try:
                if float(opts.get("k", 3.0)) <= 0 or float(opts.get("scale", 1.4826)) <= 0:
                    errors.append("stats mad_outliers requires k > 0 and scale > 0")
            except ValueError:
                errors.append("stats mad_outliers requires numeric 'k'/'scale'")
        elif op == "ecdf":
            if not opts.get("valueColumn"):
                errors.append("stats ecdf requires 'valueColumn'")
            else:
                cols_needed.append(opts["valueColumn"])
        elif op in ("quantile_clip", "trimmed_mean"):
            if not opts.get("valueColumn"):
                errors.append(f"stats {op} requires 'valueColumn'")
            else:
                cols_needed.append(opts["valueColumn"])
            try:
                lo = float(opts.get("lo", 0.05))
                hi = float(opts.get("hi", 0.95))
                if not 0.0 <= lo <= hi <= 1.0:
                    errors.append(
                        f"stats {op} requires 0 <= lo <= hi <= 1"
                    )
            except ValueError:
                errors.append(f"stats {op} requires numeric 'lo'/'hi'")
        elif op == "impute":
            if not opts.get("valueColumn"):
                errors.append("stats impute requires 'valueColumn'")
            else:
                cols_needed.append(opts["valueColumn"])
            strat = opts.get("strategy", "mean")
            if strat not in ("mean", "median", "mode", "constant"):
                errors.append(
                    "stats impute strategy must be mean|median|mode|constant"
                )
            if strat == "constant" and opts.get("fillValue") is None:
                errors.append("stats impute strategy=constant requires 'fillValue'")
        elif op == "multiple_regression":
            xs = _split_csv(opts.get("xColumns"))
            if len(xs) != 2:
                errors.append(
                    "stats multiple_regression requires 'xColumns' (csv of "
                    "exactly 2)"
                )
            cols_needed += xs
            if not opts.get("yColumn"):
                errors.append("stats multiple_regression requires 'yColumn'")
            else:
                cols_needed.append(opts["yColumn"])
        elif op == "benford":
            if not opts.get("valueColumn"):
                errors.append("stats benford requires 'valueColumn'")
            else:
                cols_needed.append(opts["valueColumn"])
        elif op == "welch_ttest":
            for key in ("valueColumn", "sideColumn"):
                if not opts.get(key):
                    errors.append(f"stats welch_ttest requires '{key}'")
                else:
                    cols_needed.append(opts[key])
            if (opts.get("sideA") is None) != (opts.get("sideB") is None):
                errors.append(
                    "stats welch_ttest requires both 'sideA' and 'sideB' "
                    "or neither"
                )
        elif op == "prop_ztest":
            for key in ("flagColumn", "sideColumn"):
                if not opts.get(key):
                    errors.append(f"stats prop_ztest requires '{key}'")
                else:
                    cols_needed.append(opts[key])
            if (opts.get("sideA") is None) != (opts.get("sideB") is None):
                errors.append(
                    "stats prop_ztest requires both 'sideA' and 'sideB' "
                    "or neither"
                )
        elif op == "bootstrap_ci":
            for key in ("valueColumn", "idColumn"):
                if not opts.get(key):
                    errors.append(f"stats bootstrap_ci requires '{key}'")
                else:
                    cols_needed.append(opts[key])
            try:
                if not 8 <= int(opts.get("replicates", 40)) <= 200:
                    errors.append(
                        "stats bootstrap_ci replicates must be an int"
                        " in [8, 200]"
                    )
            except (TypeError, ValueError):
                errors.append(
                    "stats bootstrap_ci replicates must be an int"
                    " in [8, 200]"
                )
            try:
                if not 0.0 < float(opts.get("alpha", 0.05)) < 0.5:
                    errors.append(
                        "stats bootstrap_ci alpha must be in (0, 0.5)"
                    )
            except (TypeError, ValueError):
                errors.append(
                    "stats bootstrap_ci alpha must be in (0, 0.5)"
                )
        elif op == "ratio_ttest":
            for key in ("numeratorColumn", "denominatorColumn",
                        "sideColumn"):
                if not opts.get(key):
                    errors.append(f"stats ratio_ttest requires '{key}'")
                else:
                    cols_needed.append(opts[key])
            if (opts.get("sideA") is None) != (opts.get("sideB") is None):
                errors.append(
                    "stats ratio_ttest requires both 'sideA' and "
                    "'sideB' or neither"
                )
            if opts.get("sideA") is not None and str(
                opts.get("sideA")
            ) == str(opts.get("sideB")):
                errors.append(
                    "stats ratio_ttest sideA and sideB must differ"
                )
        elif op == "cuped":
            for key in ("valueColumn", "covariateColumn", "sideColumn"):
                if not opts.get(key):
                    errors.append(f"stats cuped requires '{key}'")
                else:
                    cols_needed.append(opts[key])
            if (opts.get("sideA") is None) != (opts.get("sideB") is None):
                errors.append(
                    "stats cuped requires both 'sideA' and 'sideB' "
                    "or neither"
                )
            if opts.get("sideA") is not None and str(
                opts.get("sideA")
            ) == str(opts.get("sideB")):
                errors.append("stats cuped sideA and sideB must differ")
        elif op == "permutation_test":
            for key in ("valueColumn", "sideColumn", "idColumn"):
                if not opts.get(key):
                    errors.append(
                        f"stats permutation_test requires '{key}'"
                    )
                else:
                    cols_needed.append(opts[key])
            try:
                if not 8 <= int(opts.get("replicates", 60)) <= 200:
                    errors.append(
                        "stats permutation_test replicates must be an"
                        " int in [8, 200]"
                    )
            except (TypeError, ValueError):
                errors.append(
                    "stats permutation_test replicates must be an int"
                    " in [8, 200]"
                )
            if (opts.get("sideA") is None) != (opts.get("sideB") is None):
                errors.append(
                    "stats permutation_test requires both 'sideA' and"
                    " 'sideB' or neither"
                )
            if opts.get("sideA") is not None and str(
                opts.get("sideA")
            ) == str(opts.get("sideB")):
                errors.append(
                    "stats permutation_test sideA and sideB must differ"
                )
            if opts.get("groupBy"):
                errors.append(
                    "stats permutation_test does not support groupBy"
                )
        elif op == "mantel_haenszel":
            for key in ("exposureColumn", "outcomeColumn",
                        "stratumColumn"):
                if not opts.get(key):
                    errors.append(
                        f"stats mantel_haenszel requires '{key}'"
                    )
                else:
                    cols_needed.append(opts[key])
        elif op == "cochran_armitage":
            for key in ("doseColumn", "flagColumn"):
                if not opts.get(key):
                    errors.append(
                        f"stats cochran_armitage requires '{key}'"
                    )
                else:
                    cols_needed.append(opts[key])
        elif op == "spearman":
            for key in ("xColumn", "yColumn"):
                if not opts.get(key):
                    errors.append(f"stats spearman requires '{key}'")
                else:
                    cols_needed.append(opts[key])
            if opts.get("groupBy"):
                errors.append("stats spearman does not support groupBy")
        elif op in ("anova", "kruskal_wallis", "brown_forsythe",
                    "tukey_hsd"):
            for key in ("valueColumn", "factorColumn"):
                if not opts.get(key):
                    errors.append(f"stats {op} requires '{key}'")
                else:
                    cols_needed.append(opts[key])
            if op in ("kruskal_wallis", "tukey_hsd") and opts.get(
                "groupBy"
            ):
                errors.append(
                    f"stats {op} does not support groupBy"
                )
        elif op == "cronbach_alpha":
            cols = _split_csv(opts.get("itemColumns"))
            if len(cols) < 2:
                errors.append(
                    "stats cronbach_alpha requires 'itemColumns' (>= 2)"
                )
            cols_needed += cols
        elif op == "cochran_q":
            cols = _split_csv(opts.get("flagColumns"))
            if len(cols) < 2:
                errors.append(
                    "stats cochran_q requires 'flagColumns' (>= 2)"
                )
            cols_needed += cols
        elif op == "friedman":
            cols = _split_csv(opts.get("valueColumns"))
            if len(cols) < 2:
                errors.append(
                    "stats friedman requires 'valueColumns' (>= 2)"
                )
            cols_needed += cols
        elif op == "cohens_d":
            for key in ("valueColumn", "sideColumn"):
                if not opts.get(key):
                    errors.append(f"stats cohens_d requires '{key}'")
                else:
                    cols_needed.append(opts[key])
            if (opts.get("sideA") is None) != (opts.get("sideB") is None):
                errors.append(
                    "stats cohens_d requires both 'sideA' and 'sideB' "
                    "or neither"
                )
        elif op in ("chi_square", "kendall_tau", "mann_kendall",
                    "theil_sen", "pettitt"):
            for key in ("xColumn", "yColumn"):
                if not opts.get(key):
                    errors.append(f"stats {op} requires '{key}'")
                else:
                    cols_needed.append(opts[key])
            if op != "chi_square" and opts.get("groupBy"):
                errors.append(f"stats {op} does not support groupBy")
        elif op == "rmst":
            for key in ("durationColumn", "eventColumn"):
                if not opts.get(key):
                    errors.append(f"stats rmst requires '{key}'")
                else:
                    cols_needed.append(opts[key])
            try:
                if float(opts.get("tau", 0)) <= 0:
                    errors.append("stats rmst requires tau > 0")
            except (TypeError, ValueError):
                errors.append("stats rmst tau must be numeric")
        elif op == "cox":
            for key in ("durationColumn", "eventColumn"):
                if not opts.get(key):
                    errors.append(f"stats cox requires '{key}'")
                else:
                    cols_needed.append(opts[key])
            covs = _split_csv(opts.get("covariateColumns"))
            if not covs:
                errors.append("stats cox requires 'covariateColumns'")
            cols_needed += covs
            if opts.get("groupBy"):
                errors.append("stats cox does not support groupBy")
        elif op == "logrank":
            for key in ("durationColumn", "eventColumn", "sideColumn"):
                if not opts.get(key):
                    errors.append(f"stats logrank requires '{key}'")
                else:
                    cols_needed.append(opts[key])
            if (opts.get("sideA") is None) != (opts.get("sideB") is None):
                errors.append(
                    "stats logrank requires both 'sideA' and 'sideB' "
                    "or neither"
                )
            if opts.get("groupBy"):
                errors.append("stats logrank does not support groupBy")
        elif op == "mcnemar":
            for key in ("flagAColumn", "flagBColumn"):
                if not opts.get(key):
                    errors.append(f"stats mcnemar requires '{key}'")
                else:
                    cols_needed.append(opts[key])
        elif op == "fdr_bh":
            for key in ("pColumn", "idColumn"):
                if not opts.get(key):
                    errors.append(f"stats fdr_bh requires '{key}'")
                else:
                    cols_needed.append(opts[key])
            try:
                if not 0.0 < float(opts.get("q", 0.05)) < 1.0:
                    errors.append("stats fdr_bh requires 0 < q < 1")
            except (TypeError, ValueError):
                errors.append("stats fdr_bh q must be numeric")
            if opts.get("groupBy"):
                errors.append("stats fdr_bh does not support groupBy")
            if opts.get("method") not in (None, "bh", "by"):
                errors.append("stats fdr_bh method must be bh|by")
        else:
            errors.append(
                "stats operation must be correlation|linear_fit|zscore|quantiles"
                "|mad_outliers|quantile_clip|ecdf|trimmed_mean|impute"
                "|multiple_regression|benford|welch_ttest|prop_ztest"
                "|spearman|anova|kruskal_wallis|fdr_bh|chi_square"
                "|mcnemar|brown_forsythe|kendall_tau|logrank"
                "|cochran_armitage|mantel_haenszel|bootstrap_ci"
                "|permutation_test|cuped|ratio_ttest"
                "|mann_kendall|pettitt|theil_sen|cox|rmst|tukey_hsd"
                "|cronbach_alpha|cohens_d|cochran_q|friedman, "
                f"got '{op}'"
            )
        for c in cols_needed:
            if c not in df.columns:
                errors.append(f"column not in input schema: {c}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        from etl_spark_gradle_spark.operators.relational import _split_csv

        opts = config.options
        op = opts.get("operation", "correlation")
        gb = _split_csv(opts.get("groupBy")) or None
        if op == "correlation":
            return correlation_matrix(df, _split_csv(opts["columns"]), group_by=gb)
        if op == "linear_fit":
            return linear_fit(df, opts["xColumn"], opts["yColumn"], group_by=gb)
        if op == "quantiles":
            return exact_quantiles(
                df,
                opts["valueColumn"],
                [float(p) for p in _split_csv(opts["probs"])],
                group_by=gb,
                interpolation=opts.get("interpolation", "lower"),
                weight_col=opts.get("weightColumn"),
            )
        if op == "mad_outliers":
            return mad_outliers(
                df,
                opts["valueColumn"],
                group_by=gb,
                k=float(opts.get("k", 3.0)),
                scale=float(opts.get("scale", 1.4826)),
            )
        if op == "ecdf":
            return ecdf(
                df,
                opts["valueColumn"],
                group_by=gb,
                output_col=opts.get("outputColumn", "ecdf"),
                rank_col=opts.get("rankColumn"),
            )
        if op == "quantile_clip":
            return quantile_clip(
                df,
                opts["valueColumn"],
                lo=float(opts.get("lo", 0.05)),
                hi=float(opts.get("hi", 0.95)),
                group_by=gb,
                output_col=opts.get("outputColumn"),
            )
        if op == "spearman":
            return spearman(df, opts["xColumn"], opts["yColumn"])
        if op == "anova":
            return anova_f(
                df, opts["valueColumn"], opts["factorColumn"], group_by=gb
            )
        if op == "kruskal_wallis":
            return kruskal_wallis(
                df, opts["valueColumn"], opts["factorColumn"]
            )
        if op == "tukey_hsd":
            return tukey_hsd(
                df, opts["valueColumn"], opts["factorColumn"]
            )
        if op == "cronbach_alpha":
            from etl_spark_gradle_spark.operators.relational import (
                _split_csv,
            )

            return cronbach_alpha(
                df, list(_split_csv(opts["itemColumns"])), group_by=gb
            )
        if op == "cohens_d":
            return cohens_d(
                df,
                opts["valueColumn"],
                opts["sideColumn"],
                side_a=opts.get("sideA"),
                side_b=opts.get("sideB"),
                group_by=gb,
            )
        if op == "cochran_q":
            from etl_spark_gradle_spark.operators.relational import (
                _split_csv,
            )

            return cochran_q(
                df, list(_split_csv(opts["flagColumns"])), group_by=gb
            )
        if op == "friedman":
            from etl_spark_gradle_spark.operators.relational import (
                _split_csv,
            )

            return friedman(
                df, list(_split_csv(opts["valueColumns"])), group_by=gb
            )
        if op == "chi_square":
            return chi_square(
                df, opts["xColumn"], opts["yColumn"], group_by=gb
            )
        if op == "kendall_tau":
            return kendall_tau(df, opts["xColumn"], opts["yColumn"])
        if op == "mann_kendall":
            return mann_kendall(df, opts["xColumn"], opts["yColumn"])
        if op == "pettitt":
            return pettitt_test(df, opts["xColumn"], opts["yColumn"])
        if op == "theil_sen":
            return theil_sen(df, opts["xColumn"], opts["yColumn"])
        if op == "rmst":
            from etl_spark_gradle_spark.operators.timeseries import rmst

            return rmst(
                df,
                opts["durationColumn"],
                opts["eventColumn"],
                tau=float(opts["tau"]),
                group_by=gb,
            )
        if op == "cox":
            from etl_spark_gradle_spark.operators.timeseries import cox_ph

            return cox_ph(
                df,
                opts["durationColumn"],
                opts["eventColumn"],
                _split_csv(opts["covariateColumns"]),
                iterations=int(opts.get("iterations", 8)),
                ridge=float(opts.get("ridge", 0.0)),
            )
        if op == "logrank":
            from etl_spark_gradle_spark.operators.timeseries import (
                logrank_test,
            )

            return logrank_test(
                df,
                opts["durationColumn"],
                opts["eventColumn"],
                opts["sideColumn"],
                side_a=opts.get("sideA"),
                side_b=opts.get("sideB"),
            )
        if op == "mcnemar":
            from etl_spark_gradle_spark.options import parse_bool

            return mcnemar_test(
                df,
                opts["flagAColumn"],
                opts["flagBColumn"],
                group_by=gb,
                correction=parse_bool(opts.get("correction", "true")),
            )
        if op == "brown_forsythe":
            return brown_forsythe(
                df, opts["valueColumn"], opts["factorColumn"], group_by=gb
            )
        if op == "fdr_bh":
            return fdr_bh(
                df,
                opts["pColumn"],
                opts["idColumn"],
                q=float(opts.get("q", 0.05)),
                method=str(opts.get("method", "bh")),
            )
        if op == "multiple_regression":
            return multiple_regression(
                df,
                opts["yColumn"],
                _split_csv(opts["xColumns"]),
                group_by=gb,
            )
        if op == "benford":
            return benford_test(df, opts["valueColumn"], group_by=gb)
        if op == "welch_ttest":
            return welch_ttest(
                df,
                opts["valueColumn"],
                opts["sideColumn"],
                side_a=opts.get("sideA"),
                side_b=opts.get("sideB"),
                group_by=gb,
            )
        if op == "prop_ztest":
            return prop_ztest(
                df,
                opts["flagColumn"],
                opts["sideColumn"],
                side_a=opts.get("sideA"),
                side_b=opts.get("sideB"),
                group_by=gb,
            )
        if op == "cochran_armitage":
            return cochran_armitage(
                df, opts["doseColumn"], opts["flagColumn"], group_by=gb
            )
        if op == "bootstrap_ci":
            return bootstrap_ci(
                df,
                opts["valueColumn"],
                opts["idColumn"],
                replicates=int(opts.get("replicates", 40)),
                alpha=float(opts.get("alpha", 0.05)),
                salt=str(opts.get("salt", "")),
                group_by=gb,
            )
        if op == "ratio_ttest":
            return ratio_ttest(
                df,
                opts["numeratorColumn"],
                opts["denominatorColumn"],
                opts["sideColumn"],
                side_a=opts.get("sideA"),
                side_b=opts.get("sideB"),
                group_by=gb,
            )
        if op == "cuped":
            return cuped(
                df,
                opts["valueColumn"],
                opts["covariateColumn"],
                opts["sideColumn"],
                side_a=opts.get("sideA"),
                side_b=opts.get("sideB"),
                group_by=gb,
            )
        if op == "permutation_test":
            return permutation_test(
                df,
                opts["valueColumn"],
                opts["sideColumn"],
                opts["idColumn"],
                replicates=int(opts.get("replicates", 60)),
                salt=str(opts.get("salt", "")),
                side_a=opts.get("sideA"),
                side_b=opts.get("sideB"),
            )
        if op == "mantel_haenszel":
            return mantel_haenszel(
                df,
                opts["exposureColumn"],
                opts["outcomeColumn"],
                opts["stratumColumn"],
                group_by=gb,
            )
        if op == "impute":
            return impute(
                df,
                opts["valueColumn"],
                strategy=opts.get("strategy", "mean"),
                group_by=gb,
                fill_value=opts.get("fillValue"),
                out_col=opts.get("outputColumn"),
                flag_col=opts.get("flagColumn"),
            )
        if op == "trimmed_mean":
            return trimmed_mean(
                df,
                opts["valueColumn"],
                lo=float(opts.get("lo", 0.05)),
                hi=float(opts.get("hi", 0.95)),
                group_by=gb,
                winsorize=str(opts.get("winsorize", "false")).lower()
                == "true",
            )
        return zscore_flags(
            df,
            opts["valueColumn"],
            group_by=gb,
            threshold=float(opts.get("threshold", 3.0)),
        )


class QuantileNormalizeTransformer(_BaseTransformer):
    """Registry adapter (``type: quantile_normalize``). Options:
    ``valueColumn`` (required), ``referenceTable`` (a ``views:``
    entry, required), ``referenceColumn`` (defaults to
    ``valueColumn``), ``outputColumn`` (default in-place). Completes
    the YAML surface for :func:`quantile_normalize` — the operator
    itself predates the adapter (round 8); the reference distribution
    arrives as a named secondary source, the ``negative_sample``
    pattern."""

    def validate(self, df, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        if not opts.get("valueColumn"):
            errors.append("quantile_normalize requires 'valueColumn'")
        elif opts["valueColumn"] not in df.columns:
            errors.append(
                f"column not in input schema: {opts['valueColumn']}"
            )
        if not opts.get("referenceTable"):
            errors.append(
                "quantile_normalize requires 'referenceTable' "
                "(a views: entry)"
            )
        return (
            ValidationResult.ok()
            if not errors
            else ValidationResult.fail(*errors)
        )

    def _apply(self, df, config, ctx):
        opts = config.options
        ref = ctx.spark.table(opts["referenceTable"])
        return quantile_normalize(
            df,
            opts["valueColumn"],
            ref,
            opts.get("referenceColumn", opts["valueColumn"]),
            out_col=opts.get("outputColumn"),
        )
