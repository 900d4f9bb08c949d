"""Information-theoretic corpus statistics: entropy/diversity, KL/JS
divergence, mutual information.

Beyond-reference analytics (the reference's statistics stop at
avg/stddev aggregation) and the natural completion of the drift family
(`stats.category_drift` χ², `tv_distance`, `ks_drift`,
`rank_sum_drift`): the LLM-corpus questions these answer —

- **How diverse is this source?** (`category_entropy`: Shannon entropy
  + Simpson diversity of a categorical column, per group) — mixture
  monitoring, dedup-effectiveness tracking.
- **How far has the mixture moved?** (`js_divergence`,
  `kl_divergence`: distribution distance between two snapshots /
  sources over a categorical column) — JS is the symmetric, bounded
  ([0, ln 2]) choice for dashboards; smoothed KL for directional
  questions ("how surprising is B under A's model?").
- **Are these two labels related?** (`mutual_information`: MI, χ², and
  Cramér's V between two categorical columns) — feature/leak
  screening over fact tables.

Design rules shared with the rest of `stats`:

- Counts are EXACT (one map-side-combined groupBy per input; shuffles
  carry |categories| rows, never data rows).
- Rates/expectations close as doubles in a FIXED operand order —
  cross-engine reproducible (divide/multiply are correctly rounded).
- Log-based closings (`entropy_nats`, `js_nats`, `mi_nats`) are the
  one place IEEE gives no cross-engine guarantee (libm vs JVM `log`
  may differ in the last ulp — same caveat as `collocations.pmi`);
  they are therefore emitted ROUNDED to 9 decimals in oracle-gated
  queries and pinned at full precision against pure-python references
  in pytest. Log-free companions (Simpson index, χ², Cramér's V —
  products/quotients only) ride the same row exactly.

At 100 TB every operator here is one (or for MI, one joint) groupBy
of the raw table down to a category-sized relation; everything after
is arithmetic over that small frame (marginals derive from the JOINT
table, never a second scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_spark_gradle_spark.operators.relational import (
    TransformationError,
    _BaseTransformer,
    _split_csv,
)
from etl_spark_gradle_spark.operators.stats import _two_sample_counts

__all__ = [
    "category_entropy",
    "js_divergence",
    "kl_divergence",
    "mutual_information",
    "theil_u",
    "psi_drift",
    "InfoTheoryTransformer",
]


def category_entropy(
    df: DataFrame,
    column: str,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Per-group diversity profile of a categorical column: ``n``
    (non-null rows), ``n_categories``, ``entropy_nats`` (Shannon
    entropy of the empirical distribution, ``ln n − (Σ c·ln c)/n``),
    and ``simpson`` (Gini–Simpson index ``1 − Σ c(c−1) / (n(n−1))``,
    the collision probability complement — log-free, exact integer
    mass over decimals, so it cross-engine gates where entropy
    cannot). Single-category or single-row groups close to entropy 0
    and simpson 0 (n=1: no pair to collide — emitted as 0, not NULL).
    NULL categories are excluded (COUNT(x) semantics)."""
    group_by = group_by or []
    if column not in df.columns:
        raise TransformationError(f"entropy column not in schema: {column}")
    for c in group_by:
        if c not in df.columns:
            raise TransformationError(f"group column not in input schema: {c}")
    counts = (
        df.where(F.col(column).isNotNull())
        .groupBy(*group_by, F.col(column).alias("_cat"))
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    c = F.col("_c").cast("double")
    pair_mass = (F.col("_c").cast("decimal(38,0)") * (F.col("_c") - 1).cast("decimal(38,0)"))
    agg = counts.groupBy(*group_by).agg(
        F.sum("_c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_categories"),
        F.sum(c * F.log(c)).alias("_clogc"),
        F.sum(pair_mass).cast("decimal(38,0)").alias("_pairs"),
    )
    n = F.col("n").cast("double")
    entropy = F.when(
        F.col("n") > 1, F.log(n) - F.col("_clogc") / n
    ).otherwise(F.lit(0.0))
    simpson = F.when(
        F.col("n") > 1,
        F.lit(1.0)
        - F.col("_pairs").cast("string").cast("double") / (n * (n - 1)),
    ).otherwise(F.lit(0.0))
    return agg.select(
        *group_by,
        "n",
        "n_categories",
        entropy.alias("entropy_nats"),
        simpson.alias("simpson"),
    )


def js_divergence(
    df_a: DataFrame,
    df_b: DataFrame,
    category_col: str,
    per_category: bool = False,
) -> DataFrame:
    """Jensen–Shannon divergence between the two sides' categorical
    distributions: ``JS(P,Q) = ½ Σ p·ln(p/m) + ½ Σ q·ln(q/m)`` with
    ``m = (p+q)/2`` — symmetric, bounded by ln 2, defined for ANY pair
    of distributions (zero-count categories contribute only through
    the present side, no smoothing needed — the JS advantage over raw
    KL). Summary row: ``n_a, n_b, n_categories, js_nats``; with
    ``per_category=True`` the contribution table ``category, n_a, n_b,
    rate_a, rate_b, js_contrib`` (contributions sum to js_nats).
    Empty-side inputs yield an empty frame (`_two_sample_counts`
    contract, shared with the whole drift family)."""
    j = _two_sample_counts(df_a, df_b, category_col)
    p = F.col("n_a").cast("double") / F.col("_ta").cast("double")
    q = F.col("n_b").cast("double") / F.col("_tb").cast("double")
    m = (p + q) / F.lit(2.0)
    term_a = F.when(F.col("n_a") > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
    term_b = F.when(F.col("n_b") > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
    contrib = (term_a + term_b) / F.lit(2.0)
    if per_category:
        return j.select(
            "category",
            "n_a",
            "n_b",
            p.alias("rate_a"),
            q.alias("rate_b"),
            contrib.alias("js_contrib"),
        )
    return (
        j.groupBy("_ta", "_tb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_categories"),
            F.sum(contrib).alias("_js"),
        )
        .select(
            F.col("_ta").alias("n_a"),
            F.col("_tb").alias("n_b"),
            "n_categories",
            F.col("_js").alias("js_nats"),
        )
    )


def kl_divergence(
    df_a: DataFrame,
    df_b: DataFrame,
    category_col: str,
    smoothing: float = 0.5,
) -> DataFrame:
    """Smoothed Kullback–Leibler divergence ``KL(P‖Q)`` over a
    categorical column — "how surprising is side A under side B's
    model". Raw KL is infinite whenever A holds a category B lacks, so
    both distributions are add-α smoothed over the UNION support
    (``p = (c_a + α) / (n_a + α·K)``, Jeffreys α=0.5 default) — always
    finite, standard LM practice. Summary row: ``n_a, n_b,
    n_categories, kl_nats`` (asymmetric: swap inputs for the reverse
    direction)."""
    if smoothing <= 0:
        raise TransformationError("kl_divergence smoothing must be > 0")
    j = _two_sample_counts(df_a, df_b, category_col)
    a = F.lit(float(smoothing))
    agg = j.groupBy("_ta", "_tb").agg(
        F.count(F.lit(1)).cast("long").alias("n_categories"),
        F.collect_list(F.struct("n_a", "n_b")).alias("_cells"),
    )
    k = F.col("n_categories").cast("double")
    ta = F.col("_ta").cast("double") + a * k
    tb = F.col("_tb").cast("double") + a * k
    kl = F.aggregate(
        F.col("_cells"),
        F.lit(0.0),
        lambda acc, s: acc
        + (
            ((s["n_a"].cast("double") + a) / ta)
            * F.log(
                ((s["n_a"].cast("double") + a) / ta)
                / ((s["n_b"].cast("double") + a) / tb)
            )
        ),
    )
    return agg.select(
        F.col("_ta").alias("n_a"),
        F.col("_tb").alias("n_b"),
        "n_categories",
        kl.alias("kl_nats"),
    )


def mutual_information(
    df: DataFrame,
    col_x: str,
    col_y: str,
    per_pair: bool = False,
) -> DataFrame:
    """Dependence profile of two categorical columns from ONE joint
    groupBy (marginals derive from the joint table — the raw frame is
    scanned once): ``mi_nats = Σ (c_xy/n)·ln(n·c_xy/(c_x·c_y))``,
    ``chi2 = Σ_observed c_xy²/e_xy − n`` (the algebraic full-grid χ²:
    unobserved cells contribute exactly their expectation, which the
    identity absorbs — log-free, oracle-gateable), and ``cramers_v =
    sqrt(chi2 / (n·(min(K_x,K_y)−1)))`` (0 for a degenerate 1-level
    column). Rows with a NULL in either column are excluded. With
    ``per_pair=True``: the observed-cell table ``x, y, c_xy, expected,
    chi2_contrib, mi_contrib``."""
    for c in (col_x, col_y):
        if c not in df.columns:
            raise TransformationError(f"mutual_information column not in schema: {c}")
    if col_x == col_y:
        raise TransformationError("mutual_information requires two distinct columns")
    joint = (
        df.where(F.col(col_x).isNotNull() & F.col(col_y).isNotNull())
        .groupBy(F.col(col_x).alias("_x"), F.col(col_y).alias("_y"))
        .agg(F.count(F.lit(1)).cast("long").alias("_cxy"))
    )
    from pyspark.sql import Window

    wx = Window.partitionBy("_x")
    wy = Window.partitionBy("_y")
    wall = Window.partitionBy()
    # marginals + total via windows over the |X×Y|-sized joint table
    cells = (
        joint.withColumn("_cx", F.sum("_cxy").over(wx).cast("long"))
        .withColumn("_cy", F.sum("_cxy").over(wy).cast("long"))
        .withColumn("_n", F.sum("_cxy").over(wall).cast("long"))
        .withColumn("_kx", F.size(F.collect_set("_x").over(wall)))
        .withColumn("_ky", F.size(F.collect_set("_y").over(wall)))
    )
    n = F.col("_n").cast("double")
    cxy = F.col("_cxy").cast("double")
    cx = F.col("_cx").cast("double")
    cy = F.col("_cy").cast("double")
    expected = (cx * cy) / n
    chi2_contrib = (cxy * cxy) / expected
    mi_contrib = (cxy / n) * F.log((n * cxy) / (cx * cy))
    if per_pair:
        return cells.select(
            F.col("_x").alias("x"),
            F.col("_y").alias("y"),
            F.col("_cxy").alias("c_xy"),
            expected.alias("expected"),
            ((cxy - expected) * (cxy - expected) / expected).alias("chi2_contrib"),
            mi_contrib.alias("mi_contrib"),
        )
    agg = cells.groupBy("_n", "_kx", "_ky").agg(
        F.count(F.lit(1)).cast("long").alias("n_observed_pairs"),
        F.sum(chi2_contrib).alias("_sum_c2e"),
        F.sum(mi_contrib).alias("_mi"),
    )
    n2 = F.col("_n").cast("double")
    chi2 = F.col("_sum_c2e") - n2
    dof_min = F.least(F.col("_kx"), F.col("_ky")).cast("double") - F.lit(1.0)
    v = F.when(dof_min > 0, F.sqrt(chi2 / (n2 * dof_min))).otherwise(F.lit(0.0))
    return agg.select(
        F.col("_n").alias("n"),
        F.col("_kx").cast("long").alias("k_x"),
        F.col("_ky").cast("long").alias("k_y"),
        "n_observed_pairs",
        F.col("_mi").alias("mi_nats"),
        chi2.alias("chi2"),
        v.alias("cramers_v"),
    )


def theil_u(
    df: DataFrame,
    col_x: str,
    col_y: str,
) -> DataFrame:
    """Theil's uncertainty coefficient — the ASYMMETRIC categorical
    association :func:`mutual_information`'s symmetric MI (and
    Cramér's V) cannot give::

        U(X|Y) = (H(X) − H(X|Y)) / H(X) = MI / H(X)

    "knowing Y removes what fraction of X's uncertainty" — direction
    matters (zip code predicts city almost perfectly; city barely
    predicts zip code), which is exactly the feature-selection and
    schema-discovery question the symmetric measures blur. Both
    directions are returned.

    Same single-scan plan as ``mutual_information``: ONE joint
    groupBy, marginals via windows over the |X×Y| cell table, one
    closing aggregation. Entropies use the ``ln n − (Σ c·ln c)/n``
    form (:func:`category_entropy`'s identity). Rows with a NULL in
    either column are excluded. Degenerate single-level columns have
    H = 0 — that direction's U is NULL (0/0). Log closings round to
    9 dp (the module posture); U is a division of two rounded
    doubles, itself rounded to 9.

    Output: one row — ``n, k_x, k_y`` (long), ``mi_nats, h_x, h_y,
    u_x_given_y, u_y_given_x`` (double)."""
    for c in (col_x, col_y):
        if c not in df.columns:
            raise TransformationError(
                f"theil_u column not in schema: {c}"
            )
    if col_x == col_y:
        raise TransformationError("theil_u requires two distinct columns")
    joint = (
        df.where(F.col(col_x).isNotNull() & F.col(col_y).isNotNull())
        .groupBy(F.col(col_x).alias("_x"), F.col(col_y).alias("_y"))
        .agg(F.count(F.lit(1)).cast("long").alias("_cxy"))
    )
    from pyspark.sql import Window

    wall = Window.partitionBy()
    cells = (
        joint.withColumn(
            "_cx", F.sum("_cxy").over(Window.partitionBy("_x")).cast("long")
        )
        .withColumn(
            "_cy", F.sum("_cxy").over(Window.partitionBy("_y")).cast("long")
        )
        .withColumn("_n", F.sum("_cxy").over(wall).cast("long"))
    )
    n = F.col("_n").cast("double")
    cxy = F.col("_cxy").cast("double")
    cx = F.col("_cx").cast("double")
    cy = F.col("_cy").cast("double")
    mi_contrib = (cxy / n) * F.log((n * cxy) / (cx * cy))
    # per-cell c·ln c would double-count marginals cell-multiple times;
    # divide each marginal's term by how many cells share it so the
    # one aggregation still closes everything (Σ over cells of
    # cx·ln cx / #cells(x) = Σ over x of cx·ln cx)
    kx_cells = F.count(F.lit(1)).over(Window.partitionBy("_x"))
    ky_cells = F.count(F.lit(1)).over(Window.partitionBy("_y"))
    hx_term = (cx * F.log(cx)) / kx_cells.cast("double")
    hy_term = (cy * F.log(cy)) / ky_cells.cast("double")
    agg = cells.select(
        "_n",
        "_x",
        "_y",
        mi_contrib.alias("_mi"),
        hx_term.alias("_hx"),
        hy_term.alias("_hy"),
    ).groupBy("_n").agg(
        F.count_distinct("_x").cast("long").alias("k_x"),
        F.count_distinct("_y").cast("long").alias("k_y"),
        F.sum("_mi").alias("_mi"),
        F.sum("_hx").alias("_sx"),
        F.sum("_hy").alias("_sy"),
    )
    n2 = F.col("_n").cast("double")
    h_x = F.round(F.log(n2) - F.col("_sx") / n2, 9)
    h_y = F.round(F.log(n2) - F.col("_sy") / n2, 9)
    mi = F.round(F.col("_mi"), 9)
    out = agg.select(
        F.col("_n").alias("n"),
        "k_x",
        "k_y",
        mi.alias("mi_nats"),
        h_x.alias("h_x"),
        h_y.alias("h_y"),
    )
    return out.select(
        "n",
        "k_x",
        "k_y",
        "mi_nats",
        "h_x",
        "h_y",
        F.when(
            F.col("h_x") > 0,
            F.round(F.col("mi_nats") / F.col("h_x"), 9),
        ).alias("u_x_given_y"),
        F.when(
            F.col("h_y") > 0,
            F.round(F.col("mi_nats") / F.col("h_y"), 9),
        ).alias("u_y_given_x"),
    )


def psi_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    bins: int = 10,
    smoothing: float = 0.5,
    per_bin: bool = False,
) -> DataFrame:
    """Population Stability Index over a NUMERIC column — the feature-
    monitoring industry standard (credit-scoring lineage; PSI < 0.1
    stable, 0.1-0.25 moderate shift, > 0.25 action): side A is the
    REFERENCE whose exact type-1 quantiles at ``i/bins`` define the
    bin edges (:func:`~etl_spark_gradle_spark.operators.stats.exact_quantiles`
    — histogram + distributed CDF, never a single-partition ntile);
    BOTH sides are binned by those same edges (a row's bin = number of
    edges strictly below its value, the :func:`discretize` convention
    — duplicate edges collapse deterministically), and
    ``PSI = Σ (p_i − q_i)·ln(p_i / q_i)`` over add-α smoothed bin
    rates (``p = (c + α) / (n + α·bins)`` with the FIXED nominal bin
    count in the denominator — empty bins stay finite and the
    smoothing is partition-independent).

    Summary row: ``n_a, n_b, n_bins, psi`` (``n_bins`` = nominal
    ``bins``); ``per_bin=True`` gives ``bin, n_a, n_b, rate_a,
    rate_b, psi_contrib`` (smoothed rates; contributions sum to psi).
    Empty-side inputs yield an empty frame (drift-family contract).

    At 100 TB: one histogram shuffle on A for the edges, one
    bins-sized groupBy per side for the counts; the raw frames are
    never re-shuffled (edges come back as a broadcast)."""
    from etl_spark_gradle_spark.operators.stats import exact_quantiles

    if bins < 2:
        raise TransformationError("psi_drift requires bins >= 2")
    if smoothing <= 0:
        raise TransformationError("psi_drift smoothing must be > 0")
    for df, side in ((df_a, "a"), (df_b, "b")):
        if value_col not in df.columns:
            raise TransformationError(
                f"psi_drift: value column not in side-{side} schema: {value_col}"
            )
    probs = [i / bins for i in range(1, bins)]
    a_vals = df_a.select(F.col(value_col).cast("double").alias("v")).where(
        F.col("v").isNotNull()
    )
    b_vals = df_b.select(F.col(value_col).cast("double").alias("v")).where(
        F.col("v").isNotNull()
    )
    # 1-row relation broadcast into BOTH sides' binning — un-pinned,
    # the whole exact-quantiles prefix-sum scaffold re-planned per side
    # (35 exchanges in the executed plan, r12 audit); pinned, it runs
    # once and both sides reference the materialized row
    edges = (
        exact_quantiles(a_vals, "v", probs)
        .agg(F.array_sort(F.collect_list(F.col("value"))).alias("_edges"))
        .localCheckpoint(eager=False)
    )

    def bin_counts(vals: DataFrame, alias: str) -> DataFrame:
        binned = vals.crossJoin(F.broadcast(edges)).select(
            F.aggregate(
                F.col("_edges"),
                F.lit(0),
                lambda acc, e: acc + F.when(F.col("v") > e, 1).otherwise(0),
            ).alias("bin")
        )
        return binned.groupBy("bin").agg(
            F.count(F.lit(1)).cast("long").alias(alias)
        )

    ca = bin_counts(a_vals, "n_a")
    cb = bin_counts(b_vals, "n_b")
    # full nominal-bin spine: bins empty on BOTH sides (structurally
    # unoccupiable between duplicate edges, or simply unpopulated)
    # still carry their smoothed (p − q)·ln(p/q) term whenever
    # n_a != n_b — the documented fixed-denominator formula (review
    # finding: dropping them understated PSI on skewed references)
    spine = a_vals.sparkSession.range(int(bins)).select(
        F.col("id").cast("int").alias("bin")
    )
    j = (
        spine.join(ca, on="bin", how="left")
        .join(cb, on="bin", how="left")
        .select(
            "bin",
            F.coalesce(F.col("n_a"), F.lit(0)).cast("long").alias("n_a"),
            F.coalesce(F.col("n_b"), F.lit(0)).cast("long").alias("n_b"),
        )
    )
    totals = (
        j.agg(
            F.sum("n_a").cast("long").alias("_ta"),
            F.sum("n_b").cast("long").alias("_tb"),
        )
        .where(F.col("_ta") > 0)
        .where(F.col("_tb") > 0)
    )
    cells = j.crossJoin(F.broadcast(totals))
    al = F.lit(float(smoothing))
    kb = F.lit(float(bins))
    p = (F.col("n_a").cast("double") + al) / (F.col("_ta").cast("double") + al * kb)
    q = (F.col("n_b").cast("double") + al) / (F.col("_tb").cast("double") + al * kb)
    contrib = (p - q) * F.log(p / q)
    if per_bin:
        return cells.select(
            "bin",
            "n_a",
            "n_b",
            p.alias("rate_a"),
            q.alias("rate_b"),
            contrib.alias("psi_contrib"),
        )
    return (
        cells.groupBy("_ta", "_tb")
        .agg(F.sum(contrib).alias("_psi"))
        .select(
            F.col("_ta").alias("n_a"),
            F.col("_tb").alias("n_b"),
            F.lit(int(bins)).cast("long").alias("n_bins"),
            F.col("_psi").alias("psi"),
        )
    )


class InfoTheoryTransformer(_BaseTransformer):
    """Registry adapter (``type: infotheory``). Options: ``operation``
    entropy|mutual_information|theil_u (two-sample divergences route
    through ``type: drift`` with ``statistic: js``/``kl``); entropy
    takes ``categoryColumn`` + optional ``groupBy`` csv;
    mutual_information takes ``xColumn``/``yColumn`` + optional
    ``perPair``; theil_u takes ``xColumn``/``yColumn``."""

    def validate(self, df, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        op = opts.get("operation", "entropy")
        if op == "entropy":
            col = opts.get("categoryColumn")
            if not col:
                errors.append("infotheory entropy requires 'categoryColumn'")
            elif col not in df.columns:
                errors.append(f"category column not in input schema: {col}")
            for c in _split_csv(opts.get("groupBy")):
                if c not in df.columns:
                    errors.append(f"group column not in input schema: {c}")
        elif op in ("mutual_information", "theil_u"):
            for key in ("xColumn", "yColumn"):
                col = opts.get(key)
                if not col:
                    errors.append(f"infotheory {op} requires '{key}'")
                elif col not in df.columns:
                    errors.append(f"{key} not in input schema: {col}")
            if opts.get("xColumn") and opts.get("xColumn") == opts.get("yColumn"):
                errors.append("xColumn and yColumn must differ")
        else:
            errors.append(
                f"unknown infotheory operation '{op}' "
                "(entropy|mutual_information|theil_u)"
            )
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        if opts.get("operation", "entropy") == "entropy":
            return category_entropy(
                df,
                opts["categoryColumn"],
                group_by=_split_csv(opts.get("groupBy")) or None,
            )
        if opts.get("operation") == "theil_u":
            return theil_u(df, opts["xColumn"], opts["yColumn"])
        return mutual_information(
            df,
            opts["xColumn"],
            opts["yColumn"],
            per_pair=str(opts.get("perPair", "false")).lower() == "true",
        )
