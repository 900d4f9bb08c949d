"""Mergeable distinct-count sketches: Apache DataSketches HLL via the
Spark SQL built-ins ``hll_sketch_agg`` / ``hll_union_agg`` /
``hll_sketch_estimate`` (Spark 3.5+, JVM-side, codegen'd — no UDFs).

Beyond-reference operator: the reference has no sketch surface at all
(SURVEY.md §2.7 verifies approximate aggregates absent from
``src/main``); this is the "novel sketch" extension the brief calls for
as a first-class custom operator.

100-TB design notes
-------------------
- ``build_distinct_sketch`` is ONE hash aggregation. The sketch is a
  fixed-size register array (≤ 2^lg_k bytes, ~4 KB at the default
  lg_k=12) **regardless of input rows**, so map-side partial
  aggregation compresses each task's contribution to KBs and the
  shuffle carries |groups| × KB — never raw values. An exact
  count(DISTINCT x) by contrast shuffles every distinct value.
- ``merge_sketches`` rolls PRE-AGGREGATED sketch tables up to a coarser
  grouping (day→month, shard→global, partition→table) by register-wise
  max — re-slicing a 100-TB corpus's distinct counts becomes a
  KB-per-group union with NO raw re-scan. This is the pattern that
  matters at scale: persist per-partition sketches once, answer every
  future rollup from them.
- Union is **lossless at matched lg_k**:
  ``estimate(union(sketch(A), sketch(B))) == estimate(sketch(A ∪ B))``
  exactly, not approximately (both sides hold identical registers) —
  property-tested in ``tests/test_sketch.py``.
- Error ~ ``1.04 / sqrt(2^lg_k)``: lg_k=12 → ~1.6 % relative standard
  error for ~4 KB per group; raise lg_k for tighter bounds (each +1
  doubles sketch size, halves variance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_spark_gradle_spark.operators.relational import (
    TransformationError,
    _BaseTransformer,
    _split_csv,
)
from etl_spark_gradle_spark.plans.config import ValidationResult

DEFAULT_LG_K = 12


def build_distinct_sketch(
    df: DataFrame,
    group_by: list[str],
    column: str,
    lg_k: int = DEFAULT_LG_K,
    sketch_col: str = "sketch",
    estimate_col: str | None = "distinct_est",
) -> DataFrame:
    """Per-group HLL sketch of ``column`` plus (optionally) its distinct
    estimate. The sketch column is a mergeable binary — persist it and
    roll it up later with :func:`merge_sketches` instead of re-scanning.

    Empty ``group_by`` builds one global sketch row.
    """
    agg = [F.hll_sketch_agg(F.col(column), F.lit(lg_k)).alias(sketch_col)]
    grouped = df.groupBy(*[F.col(c) for c in group_by]) if group_by else df.groupBy()
    out = grouped.agg(*agg)
    if estimate_col:
        out = out.withColumn(estimate_col, F.hll_sketch_estimate(F.col(sketch_col)))
    return out


def merge_sketches(
    df: DataFrame,
    group_by: list[str],
    sketch_col: str = "sketch",
    estimate_col: str = "distinct_est",
    keep_sketch: bool = False,
) -> DataFrame:
    """Roll sketches up to a coarser grouping via ``hll_union_agg``
    (register-wise max — lossless at matched lg_k, and tolerant of
    mixed lg_k inputs via allowDifferentLgConfigK, which degrades to the
    coarser sketch's bound).

    ``keep_sketch=True`` retains the merged binary so rollup chains
    (hour→day→month) can keep merging without touching raw data.
    """
    grouped = df.groupBy(*[F.col(c) for c in group_by]) if group_by else df.groupBy()
    out = grouped.agg(
        F.hll_union_agg(F.col(sketch_col), F.lit(True)).alias(sketch_col)
    )
    out = out.withColumn(estimate_col, F.hll_sketch_estimate(F.col(sketch_col)))
    return out if keep_sketch else out.drop(sketch_col)


def distinct_estimate(
    df: DataFrame,
    group_by: list[str],
    column: str,
    lg_k: int = DEFAULT_LG_K,
    estimate_col: str = "distinct_est",
) -> DataFrame:
    """Convenience: per-group approximate distinct count, no sketch kept."""
    return build_distinct_sketch(
        df, group_by, column, lg_k=lg_k, estimate_col=estimate_col
    ).drop("sketch")


# ---------------------------------------------------------------- KMV
#
# K-minimum-values sketch: the k smallest md5 hashes of a column's
# distinct values, stored as a SORTED ARRAY OF HEX STRINGS — plain
# relational cells, no binary format. The HLL surface above is the
# fast path (JVM DataSketches, smaller state); KMV complements it with
# the two things HLL can't do here: (a) the sketch is replayable
# cell-for-cell on any engine that has md5 (the driver's DuckDB oracle
# rebuilds it bit-identically), and (b) SET ALGEBRA — intersection /
# Jaccard estimates between sketches (Spark's hll_* builtins expose
# union only). Estimator: E = (k-1) / U_k with U_k the kth smallest
# hash as a fraction of the hash space (Bar-Yossef et al. 2002,
# Beyer et al. 2007 — RSE ≈ 1/sqrt(k-2)).
#
# 100-TB notes: the (group, hash) dedup aggregation is map-side
# combined (each task ships its distinct hashes once), and the top-k
# per group runs as row_number ≤ k — Spark's WindowGroupLimit rule
# inserts a PARTIAL group limit before the exchange, so the group
# shuffle carries ≤ k hashes per group per map task, never the full
# distinct set. A global sketch (empty group_by) funnels those ≤
# k×tasks survivors into one task — bounded and cheap, unlike a global
# exact distinct. Sketches merge EXACTLY (k smallest of the union of
# two KMVs = KMV of the union), so persist per-shard sketches once and
# answer every rollup from KBs.

KMV_HASH_SPACE = 281474976710656.0  # 2^48: md5's first 12 hex chars


def _kmv_hash(column: str):
    return F.md5(F.concat(F.lit("kmv:"), F.col(column).cast("string")))


def kmv_estimate_expr(sketch, k: int):
    """Distinct-count estimate from a KMV array column: exact size when
    the sketch never filled (|sketch| < k, the group had fewer distinct
    values), else ``(k-1) / U_k`` — spelled in fixed operand order so
    DuckDB closes the identical IEEE doubles."""
    kth = F.element_at(sketch, k)
    frac = (
        F.conv(F.substring(kth, 1, 12), 16, 10).cast("long").cast("double")
        / F.lit(KMV_HASH_SPACE)
    )
    return F.when(
        F.size(sketch) < k, F.size(sketch).cast("double")
    ).otherwise(F.lit(float(k - 1)) / frac)


def kmv_jaccard_expr(a, b, k: int):
    """Jaccard estimate between two KMV arrays: over the k smallest
    hashes of the UNION (itself the KMV of the union), the fraction
    present in BOTH input sketches. All Catalyst array expressions —
    no shuffle, no python."""
    merged = F.slice(F.array_sort(F.array_distinct(F.concat(a, b))), 1, k)
    inter = F.size(
        F.filter(
            merged,
            lambda x: F.array_contains(a, x) & F.array_contains(b, x),
        )
    )
    return inter.cast("double") / F.size(merged).cast("double")


def build_kmv(
    df: DataFrame,
    group_by: list[str],
    column: str,
    k: int = 256,
    sketch_col: str = "kmv",
    estimate_col: str | None = "distinct_est",
    k_col: str | None = None,
) -> DataFrame:
    """Per-group KMV sketch of ``column`` (sorted array of the k
    smallest distinct-value hashes) plus optionally its distinct
    estimate. NULL values are excluded (COUNT(x) semantics, matching
    the HLL and CMS builders above)."""
    if k < 2:
        raise TransformationError("kmv requires k >= 2")
    if column not in df.columns:
        raise TransformationError(f"kmv column not in input schema: {column}")
    from pyspark.sql import Window

    dedup = (
        df.filter(F.col(column).isNotNull())
        .select(*group_by, _kmv_hash(column).alias("_h"))
        .distinct()
    )
    w = Window.partitionBy(*[F.col(c) for c in group_by]).orderBy(F.col("_h"))
    ranked = dedup.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    grouped = (
        ranked.groupBy(*[F.col(c) for c in group_by])
        if group_by
        else ranked.groupBy()
    )
    out = grouped.agg(F.array_sort(F.collect_list("_h")).alias(sketch_col))
    if estimate_col:
        out = out.withColumn(
            estimate_col, kmv_estimate_expr(F.col(sketch_col), k)
        )
    if k_col:
        # carry the build parameter alongside the sketch so a later
        # merge_kmv can VALIDATE its declared k instead of trusting it
        out = out.withColumn(k_col, F.lit(int(k)))
    return out


def merge_kmv(
    df: DataFrame,
    group_by: list[str],
    k: int,
    sketch_col: str = "kmv",
    estimate_col: str = "distinct_est",
    keep_sketch: bool = True,
    k_col: str | None = None,
) -> DataFrame:
    """Roll KMV sketches up to a coarser grouping: the k smallest of
    the union of each group's sketches — EXACTLY the sketch a direct
    build over the union would produce, so rollup chains (shard → day
    → global) never lose accuracy relative to a fresh build.

    The declared ``k`` must equal the k the inputs were BUILT with:
    merging a filled smaller-k sketch under a larger declared k makes
    the estimator read a truncated union as an exact one (silent
    underestimate). Two runtime guards:

    - any input sketch LARGER than ``k`` (provable larger-k build)
      raises during execution;
    - when ``k_col`` names the build-parameter column recorded by
      ``build_kmv(..., k_col=...)``, any recorded build k SMALLER than
      the declared ``k`` raises too — closing the undetectable-from-
      data-alone direction. Pass ``k_col`` whenever the sketches
      travel through storage between build and merge."""
    if k < 2:
        raise TransformationError("kmv requires k >= 2")
    if sketch_col not in df.columns:
        raise TransformationError(f"kmv sketch column not in schema: {sketch_col}")
    if k_col is not None and k_col not in df.columns:
        raise TransformationError(f"kmv k column not in schema: {k_col}")
    grouped = (
        df.groupBy(*[F.col(c) for c in group_by]) if group_by else df.groupBy()
    )
    aggs = [
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list(sketch_col)))),
            1,
            k,
        ).alias(sketch_col),
        F.max(F.size(F.col(sketch_col))).alias("_kmv_max_sz"),
    ]
    if k_col is not None:
        aggs.append(F.min(F.col(k_col).cast("int")).alias("_kmv_min_k"))
    out = grouped.agg(*aggs)
    guard = F.assert_true(
        F.coalesce(F.col("_kmv_max_sz"), F.lit(0)) <= F.lit(k),
        F.lit(
            f"merge_kmv: input sketch exceeds declared k={k} — "
            "inputs were built with a larger k"
        ),
    )
    if k_col is not None:
        guard_small = F.assert_true(
            F.coalesce(F.col("_kmv_min_k"), F.lit(k)) >= F.lit(k),
            F.lit(
                f"merge_kmv: input built with smaller k than declared k={k}"
                " — the merged estimate would silently underestimate"
            ),
        )
        guard = F.when(guard.isNull(), guard_small)
    # fold the guard into BOTH kept columns (assert_true yields NULL on
    # pass): estimate alone is not enough — a caller that selects just
    # the sketch column lets Catalyst prune the unevaluated estimate
    # expression and an invalid merge would pass silently
    out = (
        out.withColumn(
            estimate_col,
            F.when(guard.isNull(), kmv_estimate_expr(F.col(sketch_col), k)),
        )
        .withColumn(sketch_col, F.when(guard.isNull(), F.col(sketch_col)))
        .drop("_kmv_max_sz", *(["_kmv_min_k"] if k_col is not None else []))
    )
    if k_col is not None:
        out = out.withColumn(k_col, F.lit(int(k)))
    return out if keep_sketch else out.drop(sketch_col)


def build_mg(
    df: DataFrame,
    group_by: list[str],
    column: str,
    capacity: int,
    value_col: str = "value",
    weight_col: str = "mg_weight",
    err_col: str = "mg_err",
) -> DataFrame:
    """Per-group Misra–Gries heavy-hitters summary of ``column`` —
    at most ``capacity`` counters per group, built from the exact
    batch histogram by the canonical prune: subtract the
    (capacity+1)-th largest count ``d`` from every counter and drop
    the non-positive (Misra & Gries 1982; the mergeable-summaries
    form of Agarwal et al., PODS 2012).

    Guarantee carried in ``err_col``: for every stored value,
    ``true_count − weight ≤ err`` (weights UNDERCOUNT by at most
    ``err``), and any value whose true count exceeds ``err`` is
    guaranteed present — the frequent-items contract that survives
    :func:`merge_mg` with errors adding. When the group has ≤
    ``capacity`` distinct values, ``d = 0`` and the summary is EXACT.

    Plan at 100 TB: one map-side-combined (group, value) count
    shuffle; the rank window partitions on the group keys (parallel
    across groups — per-group work is bounded by value cardinality,
    and the WindowGroupLimit pushdown caps it at capacity+1 rows per
    group before the full sort materializes). NULLs excluded.

    Output: one row per kept (group…, value) — ``value_col``
    (string), ``weight_col`` (long), ``err_col`` (long,
    group-constant)."""
    from pyspark.sql import Window

    from etl_spark_gradle_spark.operators.relational import (
        broadcast_group_join,
    )

    if int(capacity) < 1:
        raise TransformationError("misra-gries requires capacity >= 1")
    if column not in df.columns:
        raise TransformationError(
            f"misra-gries column not in input schema: {column}"
        )
    cap = int(capacity)
    counts = (
        df.filter(F.col(column).isNotNull())
        .groupBy(*group_by, F.col(column).cast("string").alias(value_col))
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    w = Window.partitionBy(*[F.col(c) for c in group_by]).orderBy(
        F.col("_c").desc(), F.col(value_col).asc()
    )
    ranked = counts.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= cap + 1
    )
    d_tab = ranked.groupBy(*group_by).agg(
        F.coalesce(
            F.max(F.when(F.col("_rn") == cap + 1, F.col("_c"))),
            F.lit(0),
        )
        .cast("long")
        .alias("_d")
    )
    joined = (
        broadcast_group_join(ranked, d_tab, group_by, how="inner")
        if group_by
        else ranked.crossJoin(F.broadcast(d_tab))
    )
    return joined.where(
        (F.col("_rn") <= cap) & (F.col("_c") > F.col("_d"))
    ).select(
        *group_by,
        value_col,
        (F.col("_c") - F.col("_d")).cast("long").alias(weight_col),
        F.col("_d").alias(err_col),
    )


def merge_mg(
    df: DataFrame,
    group_by: list[str],
    capacity: int,
    src_col: str,
    value_col: str = "value",
    weight_col: str = "mg_weight",
    err_col: str = "mg_err",
) -> DataFrame:
    """Merge Misra–Gries summaries (shard → day → global rollups, or
    stream-state + batch-delta): counters add by value, per-SOURCE
    error bounds add, then the combined counter set prunes back to
    ``capacity`` exactly as :func:`build_mg` does — the mergeable-
    summaries theorem (Agarwal et al. 2012) keeps the undercount
    guarantee ``true − weight ≤ err`` through ANY merge tree.

    ``src_col`` identifies which summary each row came from (errors
    are group-constant PER SOURCE — summing raw per-row errs would
    multiply-count them)."""
    from pyspark.sql import Window

    from etl_spark_gradle_spark.operators.relational import (
        broadcast_group_join,
    )

    if int(capacity) < 1:
        raise TransformationError("misra-gries requires capacity >= 1")
    for c in (src_col, value_col, weight_col, err_col):
        if c not in df.columns:
            raise TransformationError(
                f"misra-gries merge column not in schema: {c}"
            )
    cap = int(capacity)
    summed = df.groupBy(*group_by, value_col).agg(
        F.sum(weight_col).cast("long").alias("_c")
    )
    err_in = (
        df.select(*group_by, src_col, err_col)
        .distinct()
        .groupBy(*group_by)
        .agg(F.sum(err_col).cast("long").alias("_e"))
    )
    w = Window.partitionBy(*[F.col(c) for c in group_by]).orderBy(
        F.col("_c").desc(), F.col(value_col).asc()
    )
    ranked = summed.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= cap + 1
    )
    d_tab = ranked.groupBy(*group_by).agg(
        F.coalesce(
            F.max(F.when(F.col("_rn") == cap + 1, F.col("_c"))),
            F.lit(0),
        )
        .cast("long")
        .alias("_d")
    )
    if group_by:
        joined = broadcast_group_join(ranked, d_tab, group_by, how="inner")
        joined = broadcast_group_join(joined, err_in, group_by, how="inner")
    else:
        joined = ranked.crossJoin(F.broadcast(d_tab)).crossJoin(
            F.broadcast(err_in)
        )
    return joined.where(
        (F.col("_rn") <= cap) & (F.col("_c") > F.col("_d"))
    ).select(
        *group_by,
        value_col,
        (F.col("_c") - F.col("_d")).cast("long").alias(weight_col),
        (F.col("_e") + F.col("_d")).cast("long").alias(err_col),
    )


def _bin_of(column: str, lo: float, hi: float, bins: int):
    """Bin index with explicit floor arithmetic (NOT width_bucket) so the
    DuckDB oracle can replicate the exact same IEEE double operations:
    0 = underflow, 1..bins interior, bins+1 = overflow; nulls bin to
    null (counted nowhere)."""
    x = F.col(column).cast("double")
    return (
        F.when(x.isNull(), F.lit(None))
        .when(x < lo, F.lit(0))
        .when(x >= hi, F.lit(bins + 1))
        .otherwise((F.floor((x - F.lit(lo)) / F.lit(hi - lo) * bins)).cast("int") + 1)
    )


def build_histogram_sketch(
    df: DataFrame,
    group_by: list[str],
    column: str,
    lo: float,
    hi: float,
    bins: int = 64,
    counts_col: str = "hist_counts",
) -> DataFrame:
    """Fixed-bin histogram sketch: per-group array of ``bins + 2`` bin
    counts (underflow, interior, overflow). The quantile companion to
    the HLL distinct sketch: bin counts are EXACTLY mergeable (vector
    add), so per-partition histograms persisted once answer every later
    quantile/distribution rollup with no raw re-scan.

    Plan shape: ``bins + 2`` conditional sums in ONE hash aggregation —
    map-side partial compresses each task to a (bins+2)-long vector, the
    shuffle carries |groups| × vector, never raw values (same plan
    family as the conditional-agg pivot). Fixed bounds are the price of
    exact mergeability — pick them from domain knowledge or a one-off
    min/max scan; out-of-range mass lands in the labeled overflow bins
    rather than silently skewing estimates."""
    if bins < 1:
        raise TransformationError("histogram bins must be >= 1")
    if not hi > lo:
        raise TransformationError("histogram requires hi > lo")
    b = _bin_of(column, lo, hi, bins)
    sums = [
        F.sum(F.when(b == i, 1).otherwise(0)).cast("long").alias(f"__b{i}")
        for i in range(bins + 2)
    ]
    grouped = df.groupBy(*[F.col(c) for c in group_by]) if group_by else df.groupBy()
    out = grouped.agg(*sums)
    return out.select(
        *group_by, F.array(*[F.col(f"__b{i}") for i in range(bins + 2)]).alias(counts_col)
    )


def merge_histograms(
    df: DataFrame,
    group_by: list[str],
    counts_col: str = "hist_counts",
) -> DataFrame:
    """Roll histogram sketches up to a coarser grouping by element-wise
    vector add — EXACT (unlike HLL this isn't even approximate: counts
    are counts). Input rows are one small vector per fine group, so the
    posexplode → re-sum → reassemble dance shuffles |groups| × bins tiny
    rows, never raw data."""
    ex = df.select(*group_by, F.posexplode(counts_col).alias("__pos", "__cnt"))
    summed = ex.groupBy(*[F.col(c) for c in group_by], F.col("__pos")).agg(
        F.sum("__cnt").alias("__cnt")
    )
    return (
        summed.groupBy(*[F.col(c) for c in group_by])
        .agg(
            F.sort_array(F.collect_list(F.struct("__pos", "__cnt"))).alias("__pairs")
        )
        .select(
            *group_by,
            F.transform(F.col("__pairs"), lambda s: s["__cnt"]).alias(counts_col),
        )
    )


def histogram_quantile(
    counts_col: str, lo: float, hi: float, q: float, out_type: str = "double"
):
    """Quantile estimate from a histogram-sketch column as a pure
    expression (no UDF): walk the cumulative counts to the target rank,
    then linearly interpolate inside the hit bin. Underflow/overflow
    hits clamp to lo/hi. Accuracy is ±bin_width/2 — the fixed-bin trade;
    raise ``bins`` for tighter estimates."""
    counts = F.col(counts_col)
    bins = F.size(counts) - 2
    total = F.aggregate(counts, F.lit(0).cast("long"), lambda a, x: a + x)
    target = total.cast("double") * F.lit(q)
    zero = F.struct(
        F.lit(0).cast("long").alias("cum"),
        F.lit(-1).alias("idx"),
        F.lit(0).alias("i"),
        F.lit(0).cast("long").alias("before"),
    )

    def step(acc, x):
        new_cum = acc["cum"] + x
        hit = (acc["idx"] < 0) & (new_cum.cast("double") >= target) & (x > 0)
        return F.struct(
            new_cum.alias("cum"),
            F.when(hit, acc["i"]).otherwise(acc["idx"]).alias("idx"),
            (acc["i"] + 1).alias("i"),
            F.when(hit, acc["cum"]).otherwise(acc["before"]).alias("before"),
        )

    walked = F.aggregate(counts, zero, step)
    idx = walked["idx"]
    width = (F.lit(hi) - F.lit(lo)) / bins.cast("double")
    in_bin = F.element_at(counts, idx + 1).cast("double")
    frac = (target - walked["before"].cast("double")) / in_bin
    est = (
        F.when(total == 0, F.lit(None))
        .when(idx <= 0, F.lit(lo))
        .when(idx >= bins + 1, F.lit(hi))
        .otherwise(F.lit(lo) + ((idx - 1).cast("double") + frac) * width)
    )
    return est.cast(out_type)


# ---------------------------------------------------------------------------
# Count-min sketch (frequency), relational representation
# ---------------------------------------------------------------------------

_CMS_HASH_FNS = ("xxhash64", "md5")


def _cms_cell(column: str, i: int, width: int, hash_fn: str):
    """Row index ``i``'s cell for a value: ``h_i(value) mod width``.

    ``xxhash64`` (default) stays in whole-stage codegen and is the fast
    path; ``md5`` derives the cell from the first 8 hex chars (portable
    across engines — DuckDB computes the identical cell, which is what
    makes the driver's value-hash oracle possible). Nulls hash to a
    reserved per-row cell? No — nulls return null and are EXCLUDED
    (counted by the caller separately if needed), matching COUNT(x)
    semantics."""
    v = F.col(column).cast("string")
    if hash_fn == "xxhash64":
        h = F.xxhash64(F.lit(i), v)
    else:
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit(f"cms{i}:"), v)), 1, 8), 16, 10
        ).cast("long")
    return F.when(v.isNull(), F.lit(None)).otherwise(F.pmod(h, F.lit(width)).cast("int"))


def build_cms(
    df: DataFrame,
    column: str,
    depth: int = 4,
    width: int = 8192,
    group_by: list[str] | None = None,
    weight_col: str | None = None,
    counts_col: str = "cnt",
    hash_fn: str = "xxhash64",
    pre_aggregate: bool = False,
) -> DataFrame:
    """Count-min frequency sketch as a RELATIONAL table: one row per
    non-empty cell ``(group..., d, w, cnt)``. The third mergeable
    sketch beside HLL (distinct) and the fixed-bin histogram
    (quantiles): persist per-partition/per-day sketches once, answer
    every later "how often did key X appear" without re-scanning raw
    data, with the classic CMS guarantee — estimates never undercount,
    and overcount by at most ``e/width × N`` with probability
    ``1 − e^−depth``.

    Representing the sketch as rows instead of an opaque binary keeps
    everything JVM-side and mergeable by plain ``GROUP BY sum`` — no
    UDAF, no serialization format, and the driver's DuckDB oracle can
    replicate it cell-for-cell (``hash_fn="md5"``).

    Plan shape: ``posexplode`` multiplies rows by ``depth`` (4×)
    BEFORE a hash aggregation whose partial collapses each task to at
    most ``depth × width`` cells — the shuffle carries bounded sketch
    state, never the corpus. ``weight_col`` sums a weight instead of
    counting (pre-aggregated input).

    ``pre_aggregate=True`` first collapses the input to
    ``(group..., key) → count`` and hashes each DISTINCT key once with
    the count as weight. Cell sums are integer-identical (a cell's
    count is the sum over its keys of per-key counts, grouped either
    way), but the hash chain — the expensive part on the portable
    ``md5`` path (concat → md5 → substring → conv per depth row) — runs
    once per distinct key instead of once per input row. Use when keys
    repeat (fact tables: lineitem carries ~4 rows per order key at
    every TPC-H SF); skip when keys are near-unique, where the extra
    ``(group, key)`` exchange shuffles ~the whole input for no hash
    savings. Count path only: a fractional ``weight_col`` re-summed in
    two steps would reorder float additions."""
    if depth < 1 or width < 2:
        raise TransformationError("cms requires depth >= 1 and width >= 2")
    if hash_fn not in _CMS_HASH_FNS:
        raise TransformationError(
            f"cms hash_fn must be one of {_CMS_HASH_FNS}, got '{hash_fn}'"
        )
    if pre_aggregate and weight_col:
        raise TransformationError(
            "cms pre_aggregate composes only with the count path "
            "(fractional weights would re-order float additions)"
        )
    group_by = group_by or []
    if pre_aggregate:
        df = (
            df.where(F.col(column).isNotNull())
            .groupBy(*group_by, column)
            .agg(F.count("*").alias("_cms_key_cnt"))
        )
        weight_col = "_cms_key_cnt"
    cells = F.array(*[_cms_cell(column, i, width, hash_fn) for i in range(depth)])
    agg = (
        F.sum(F.col(weight_col)).cast("long") if weight_col else F.count("*")
    ).alias(counts_col)
    return (
        df.where(F.col(column).isNotNull())
        .select(*group_by, *( [F.col(weight_col)] if weight_col else [] ), F.posexplode(cells).alias("d", "w"))
        .groupBy(*group_by, "d", "w")
        .agg(agg)
    )


def merge_cms(
    df: DataFrame,
    group_by: list[str] | None = None,
    counts_col: str = "cnt",
) -> DataFrame:
    """Roll pre-built CMS tables up to a coarser grouping (or to one
    global sketch): cell-wise sum — exactly mergeable, KB-sized
    shuffles. Input is the output of :func:`build_cms` (or a union of
    several)."""
    group_by = group_by or []
    for c in (*group_by, "d", "w", counts_col):
        if c not in df.columns:
            raise TransformationError(f"merge_cms input is missing column: {c}")
    return (
        df.groupBy(*group_by, "d", "w")
        .agg(F.sum(F.col(counts_col)).cast("long").alias(counts_col))
    )


def cms_estimate(
    sketch: DataFrame,
    items: DataFrame,
    column: str,
    depth: int,
    width: int,
    counts_col: str = "cnt",
    estimate_col: str = "cms_count",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Point-query a CMS: for every row of ``items``, the estimated
    frequency of ``column``'s value — ``min`` over the ``depth`` probed
    cells, 0 when a cell is empty (never undercounts the true total
    the sketch was built over).

    ``depth``/``width``/``hash_fn`` MUST match the build (a relational
    sketch carries no self-describing header; wrap the three in config
    where the sketch is persisted). Plan shape: items × depth probe
    rows hash-join the sketch — broadcast when the sketch is
    KB/MB-sized (depth × width cells bounded), the items side never
    moves twice."""
    if hash_fn not in _CMS_HASH_FNS:
        raise TransformationError(
            f"cms hash_fn must be one of {_CMS_HASH_FNS}, got '{hash_fn}'"
        )
    for c in ("d", "w", counts_col):
        if c not in sketch.columns:
            raise TransformationError(f"cms_estimate sketch is missing column: {c}")
    cells = F.array(*[_cms_cell(column, i, width, hash_fn) for i in range(depth)])
    probes = items.select(
        *items.columns, F.posexplode(cells).alias("d", "w")
    )
    joined = probes.join(
        F.broadcast(sketch.select("d", "w", counts_col)), on=["d", "w"], how="left"
    )
    return (
        joined.groupBy(*items.columns)
        .agg(
            F.min(F.coalesce(F.col(counts_col), F.lit(0)))
            .cast("long")
            .alias(estimate_col)
        )
    )


def cms_prune(
    df: DataFrame,
    column: str,
    sketch: DataFrame,
    depth: int,
    width: int,
    min_count: int = 1,
    counts_col: str = "cnt",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Frequency-gated row pruning against a CMS — the CMS used as a
    counting Bloom filter. Keeps rows whose ``column`` value's
    estimated frequency in the sketch's source corpus is
    ``>= min_count``; because CMS never undercounts there are NO false
    negatives (every truly-frequent-enough row survives), only bounded
    false positives from cell collisions.

    The 100 TB use cases: (a) ``min_count=1`` ≈ a Bloom-filtered
    semi-join — prune a fact scan against a key set too big to
    broadcast exactly but fixed-size as a sketch (depth × width cells
    regardless of key count); (b) ``min_count=k`` — vocabulary/entity
    pruning ("keep tokens seen ≥ k times corpus-wide") without ever
    materializing the vocabulary. Spark's own runtime bloom-filter
    rewrite does (a) internally but exposes no API; this is the
    declarative equivalent with counting on top.

    Plan shape: ``depth`` BROADCAST hash joins (one per sketch row,
    each ``width`` cells max) and a scan predicate — the input is never
    shuffled, never row-multiplied; everything stays in whole-stage
    codegen."""
    if hash_fn not in _CMS_HASH_FNS:
        raise TransformationError(
            f"cms hash_fn must be one of {_CMS_HASH_FNS}, got '{hash_fn}'"
        )
    if min_count < 1:
        raise TransformationError("cms_prune min_count must be >= 1")
    for c in ("d", "w", counts_col):
        if c not in sketch.columns:
            raise TransformationError(f"cms_prune sketch is missing column: {c}")
    out = df
    keep = F.lit(True)
    helpers = []
    # the sketch (<= depth x width cells) is sliced once per depth row
    # below — un-pinned, each broadcast slice re-planned and re-ran the
    # whole sketch-build aggregation over the source corpus (depth x
    # the build cost; 10 scans in the r12 plan audit). Pin the bounded
    # cell table once; estimates unchanged.
    sketch = sketch.localCheckpoint(eager=False)
    for i in range(depth):
        w_col, c_col = f"_cms_w{i}", f"_cms_c{i}"
        helpers += [w_col, c_col]
        slice_i = sketch.where(F.col("d") == i).select(
            F.col("w").alias(w_col), F.col(counts_col).alias(c_col)
        )
        out = out.join(
            F.broadcast(slice_i),
            _cms_cell(column, i, width, hash_fn) == F.col(w_col),
            "left",
        )
        keep = keep & (F.coalesce(F.col(c_col), F.lit(0)) >= min_count)
    return out.where(keep).drop(*helpers)


def cms_join_cardinality(
    sketch_a: DataFrame,
    sketch_b: DataFrame,
    counts_col: str = "cnt",
    estimate_col: str = "est_join_rows",
) -> DataFrame:
    """Equi-join output-size estimate from two CMS tables built on the
    join keys (same depth/width/hash): the classic count-min
    inner-product estimate ``min_d Σ_w cntA(d,w)·cntB(d,w)``. True join
    cardinality is ``Σ_k cntA(k)·cntB(k)``; hashing only MERGES cells,
    so every depth row's inner product ≥ the truth — the estimate
    never undercounts, and the min over depth rows tightens it.

    The 100 TB use: size a join's shuffle/output (skew checks, capacity
    planning, "will this explode?") from two KB-sized sketches —
    neither table is touched. Plan: one (d,w) equi-join of two
    depth×width tables + a 1-row aggregate."""
    for c in ("d", "w", counts_col):
        if c not in sketch_a.columns:
            raise TransformationError(f"cms sketch A is missing column: {c}")
        if c not in sketch_b.columns:
            raise TransformationError(f"cms sketch B is missing column: {c}")
    a = sketch_a.select("d", "w", F.col(counts_col).alias("_ca"))
    b = sketch_b.select("d", "w", F.col(counts_col).alias("_cb"))
    per_d = (
        a.join(b, on=["d", "w"])
        .groupBy("d")
        .agg(F.sum(F.col("_ca") * F.col("_cb")).alias("_ip"))
    )
    return per_d.agg(F.min("_ip").cast("long").alias(estimate_col))


class SketchTransformer(_BaseTransformer):
    """Registry adapter (``type: sketch``).

    ``strategy: build`` (default) — options ``column`` (required),
    ``groupBy`` (comma list, optional), ``lgK`` (default 12),
    ``keepSketch`` ("true" keeps the mergeable binary column).

    ``strategy: merge`` — input must carry a sketch column from a prior
    build; options ``groupBy`` (coarser rollup keys), ``sketchColumn``
    (default "sketch"), ``keepSketch``.

    ``strategy: histogram`` — fixed-bin quantile sketch build; options
    ``column``, ``lo``, ``hi`` (required), ``bins`` (default 64),
    ``groupBy``, ``quantiles`` (comma list like "0.5,0.9" → one
    ``p<q>`` estimate column each).

    ``strategy: merge_histogram`` — vector-add rollup of a prior
    histogram build; options ``groupBy``, ``countsColumn`` (default
    "hist_counts"), ``lo``/``hi`` + ``quantiles`` for estimates.

    ``strategy: kmv`` — engine-portable k-minimum-values distinct
    sketch; options ``column`` (required), ``groupBy``, ``k`` (default
    256), ``sketchColumn`` (default "kmv"), ``keepSketch``.

    ``strategy: kmv_merge`` — exact rollup of prior kmv builds; options
    ``groupBy``, ``k`` (required — same k as the build), 
    ``sketchColumn``, ``keepSketch``.

    Validates like the relational transformers (parity contract:
    ``core/DataTransformer.scala:36-40``)."""

    def validate(self, df: DataFrame, config) -> ValidationResult:
        opts = config.options
        strategy = opts.get("strategy", "build").lower()
        if strategy not in (
            "build", "merge", "histogram", "merge_histogram", "cms",
            "cms_merge", "kmv", "kmv_merge",
        ):
            return ValidationResult.fail(
                "sketch strategy must be build|merge|histogram|merge_histogram"
                f"|cms|cms_merge|kmv|kmv_merge, got '{strategy}'"
            )
        missing = [c for c in _split_csv(opts.get("groupBy")) if c not in df.columns]
        if strategy == "histogram":
            column = opts.get("column")
            if not column:
                return ValidationResult.fail("histogram requires 'column'")
            if column not in df.columns:
                missing.append(column)
            if opts.get("lo") is None or opts.get("hi") is None:
                return ValidationResult.fail("histogram requires 'lo' and 'hi'")
        elif strategy == "merge_histogram":
            cc = opts.get("countsColumn", "hist_counts")
            if cc not in df.columns:
                missing.append(cc)
        elif strategy == "cms":
            column = opts.get("column")
            if not column:
                return ValidationResult.fail("cms requires 'column'")
            if column not in df.columns:
                missing.append(column)
            if opts.get("hashFn", "xxhash64") not in _CMS_HASH_FNS:
                return ValidationResult.fail(
                    f"cms hashFn must be one of {_CMS_HASH_FNS}"
                )
        elif strategy == "cms_merge":
            for c in ("d", "w", opts.get("countsColumn", "cnt")):
                if c not in df.columns:
                    missing.append(c)
        elif strategy == "kmv":
            column = opts.get("column")
            if not column:
                return ValidationResult.fail("kmv requires 'column'")
            if column not in df.columns:
                missing.append(column)
            if not str(opts.get("k", 256)).isdigit():
                return ValidationResult.fail("kmv k must be an integer")
        elif strategy == "kmv_merge":
            if opts.get("k") is None or not str(opts["k"]).isdigit():
                return ValidationResult.fail("kmv_merge requires integer 'k'")
            sc = opts.get("sketchColumn", "kmv")
            if sc not in df.columns:
                missing.append(sc)
        elif strategy == "build":
            column = opts.get("column")
            if not column:
                return ValidationResult.fail("sketch build requires 'column'")
            if column not in df.columns:
                missing.append(column)
            lg_k = opts.get("lgK")
            if lg_k is not None and not str(lg_k).isdigit():
                return ValidationResult.fail(f"lgK must be an integer, got '{lg_k}'")
        else:
            sketch_col = opts.get("sketchColumn", "sketch")
            if sketch_col not in df.columns:
                missing.append(sketch_col)
        if missing:
            return ValidationResult.fail(
                *[f"column not in input schema: {c}" for c in missing]
            )
        return ValidationResult.ok()

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        opts = config.options
        group_by = _split_csv(opts.get("groupBy"))
        keep = str(opts.get("keepSketch", "false")).lower() == "true"
        strategy = opts.get("strategy", "build").lower()
        if strategy in ("histogram", "merge_histogram"):
            cc = opts.get("countsColumn", "hist_counts")
            if strategy == "histogram":
                out = build_histogram_sketch(
                    df,
                    group_by,
                    opts["column"],
                    lo=float(opts["lo"]),
                    hi=float(opts["hi"]),
                    bins=int(opts.get("bins", 64)),
                    counts_col=cc,
                )
            else:
                out = merge_histograms(df, group_by, counts_col=cc)
            for q in _split_csv(opts.get("quantiles")):
                if opts.get("lo") is None or opts.get("hi") is None:
                    raise TransformationError(
                        "histogram quantiles require 'lo' and 'hi'"
                    )
                out = out.withColumn(
                    f"p{q.replace('0.', '').replace('.', '_')}",
                    histogram_quantile(cc, float(opts["lo"]), float(opts["hi"]), float(q)),
                )
            return out
        if strategy == "cms":
            return build_cms(
                df,
                opts["column"],
                depth=int(opts.get("depth", 4)),
                width=int(opts.get("width", 8192)),
                group_by=group_by,
                weight_col=opts.get("weightColumn"),
                counts_col=opts.get("countsColumn", "cnt"),
                hash_fn=opts.get("hashFn", "xxhash64"),
            )
        if strategy == "cms_merge":
            return merge_cms(df, group_by, counts_col=opts.get("countsColumn", "cnt"))
        if strategy == "kmv":
            out = build_kmv(
                df,
                group_by,
                opts["column"],
                k=int(opts.get("k", 256)),
                sketch_col=opts.get("sketchColumn", "kmv"),
            )
            return out if keep else out.drop(opts.get("sketchColumn", "kmv"))
        if strategy == "kmv_merge":
            return merge_kmv(
                df,
                group_by,
                k=int(opts["k"]),
                sketch_col=opts.get("sketchColumn", "kmv"),
                keep_sketch=keep,
            )
        if strategy == "merge":
            return merge_sketches(
                df,
                group_by,
                sketch_col=opts.get("sketchColumn", "sketch"),
                keep_sketch=keep,
            )
        lg_k = int(opts.get("lgK", DEFAULT_LG_K))
        built = build_distinct_sketch(df, group_by, opts["column"], lg_k=lg_k)
        return built if keep else built.drop("sketch")
