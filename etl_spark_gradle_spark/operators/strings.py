"""String similarity join: edit-distance pairs via lossless segment
blocking (the PassJoin principle — Li, Deng, Wang & Feng, ICDE 2011).

Beyond-reference operator: the entity-resolution primitive ("which
names/titles/SKUs are within k edits of each other") that record
linkage and catalog dedup need. The naive formulation is an all-pairs
levenshtein — quadratic and dead at scale. This is the relational
re-expression of segment blocking:

1. **Index side**: every string of length ``l`` is cut into ``k+1``
   contiguous segments (PassJoin's even-partition scheme). Pigeonhole:
   if two strings are within ``k`` edits, at least one index segment
   appears VERBATIM in the other string, at a position shifted by at
   most ``k``.
2. **Probe side**: every string emits, for each candidate indexed
   length ``l ∈ [m−k, m+k]`` and segment ``i``, the substrings at the
   segment's position ± ``k`` — a bounded ``(2k+1)²·(k+1)`` row
   multiplication (75× at k=2), pure projection.
3. ONE equi-join on ``(segment_text, segment_index, indexed_length)``
   produces candidates; a built-in JVM ``levenshtein`` verifies. No
   cartesian product anywhere, and the blocking is LOSSLESS — the
   driver gate proves it by matching a full quadratic oracle.

Strings shorter than ``k+1`` cannot donate ``k+1`` non-empty segments;
they fall into a per-length "short bucket" that joins by length band
only — bounded by the (tiny) population of near-empty strings.

Scale: the shuffle carries (segment, index, length, string) rows —
index side ×(k+1), probe side ×≤75. Hot segments (e.g. a common word)
can skew the join; the standard mitigation applies (salt or filter
stop-segments by document frequency, as minhash does with
``max_shingle_df``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_spark_gradle_spark.operators.relational import (
    TransformationError,
    _BaseTransformer,
    estimated_bytes,
)

__all__ = ["edit_distance_join", "py_edit_distance"]


def _seg_bounds(i: int, k: int, length: Column) -> tuple[Column, Column]:
    """(start, len) of segment ``i`` of a string of ``length`` chars cut
    into k+1 even parts — PassJoin scheme: the last ``l mod (k+1)``
    segments are one char longer. 0-based start, as Columns."""
    parts = k + 1
    base = F.floor(length / parts).cast("int")
    rem = (length % parts).cast("int")
    longer_from = parts - rem  # segments >= this index get base+1
    li = base + F.when(F.lit(i) >= longer_from, 1).otherwise(0)
    start = F.lit(i) * base + F.greatest(F.lit(0), F.lit(i) - longer_from)
    return start, li


def _seg_bounds_sql(i: int, k: int, length_sql: str) -> tuple[str, str]:
    """SQL-text twin of :func:`_seg_bounds` (same arithmetic over a
    length expression given as SQL). The probe side instantiates this
    (2k+1)²·(k+1) times; building those trees Column-call by
    Column-call costs one py4j round trip per call, so the whole
    candidate array is rendered as ONE SQL string and parsed with a
    single ``F.expr`` (the q28_bootstrap device — integer/string
    expressions, so tree-shape differences cannot change a value)."""
    parts = k + 1
    base = f"CAST(FLOOR({length_sql} / {parts}) AS INT)"
    rem = f"CAST(({length_sql} % {parts}) AS INT)"
    longer_from = f"({parts} - {rem})"
    li = f"({base} + (CASE WHEN {i} >= {longer_from} THEN 1 ELSE 0 END))"
    start = f"(({i} * {base}) + GREATEST(0, ({i} - {longer_from})))"
    return start, li


def edit_distance_join(
    left: DataFrame,
    string_col: str,
    right: DataFrame | None = None,
    right_string_col: str | None = None,
    max_distance: int = 2,
    out_left: str = "s_a",
    out_right: str = "s_b",
    dist_col: str = "edit_distance",
) -> DataFrame:
    """All DISTINCT string pairs within ``max_distance`` edits:
    self-join over ``left[string_col]`` (pairs ordered ``s_a < s_b``)
    or left×right when ``right`` is given. Returns
    (s_a, s_b, edit_distance). Inputs are deduplicated to distinct
    strings first — join back on the string to recover rows/ids."""
    k = max_distance
    if k < 1:
        raise TransformationError("edit_distance_join max_distance must be >= 1")
    if string_col not in left.columns:
        raise TransformationError(f"string column not in left schema: {string_col}")
    self_mode = right is None
    rcol = right_string_col or string_col
    if not self_mode and rcol not in right.columns:
        raise TransformationError(f"string column not in right schema: {rcol}")

    idx_src = (
        left.select(F.col(string_col).alias("_s"))
        if self_mode
        else right.select(F.col(rcol).alias("_s"))
    )
    probe_src = left.select(F.col(string_col).alias("_s"))
    idx_src = idx_src.where(F.col("_s").isNotNull()).distinct()
    probe_src = probe_src.where(F.col("_s").isNotNull()).distinct()

    # --- index side: k+1 segments (or the short bucket) -------------
    # ONE scan: the short bucket (length <= k) rides the same explode
    # as a one-element array branch instead of a second scan + union
    # (the union form planned 2 scans + 2 distinct exchanges over the
    # same strings for the two length classes).
    def _index_rows(df: DataFrame) -> DataFrame:
        segs = []
        for i in range(k + 1):
            start, li = _seg_bounds_sql(i, k, "length(_s)")
            segs.append(
                f"named_struct('seg', substring(_s, {start} + 1, {li}), "
                f"'i', {i}, 'l', length(_s))"
            )
        case_sql = (
            f"CASE WHEN length(_s) > {k} THEN array({', '.join(segs)}) "
            f"ELSE array(named_struct('seg', '', 'i', -1, 'l', length(_s))) END"
        )
        return df.select(
            F.col("_s").alias("_idx_s"), F.explode(F.expr(case_sql)).alias("b")
        ).select("_idx_s", "b.seg", "b.i", "b.l")

    # --- probe side: candidate substrings per (target length, i, ±k) -
    def _probe_rows(df: DataFrame) -> DataFrame:
        m = "length(_s)"
        cands = []
        for d in range(-k, k + 1):
            tgt = f"({m} + {d})"  # indexed length this candidate addresses
            for i in range(k + 1):
                start, li = _seg_bounds_sql(i, k, tgt)
                for off in range(-k, k + 1):
                    p = f"({start} + {off})"
                    valid = (
                        f"({tgt} > {k}) AND ({p} >= 0) AND ({li} >= 1) "
                        f"AND (({p} + {li}) <= {m})"
                    )
                    cands.append(
                        f"CASE WHEN {valid} THEN named_struct("
                        f"'seg', substring(_s, {p} + 1, {li}), "
                        f"'i', {i}, 'l', CAST({tgt} AS INT)) END"
                    )
            # short-bucket probes: indexed strings of length <= k within band
            cands.append(
                f"CASE WHEN ({tgt} >= 1) AND ({tgt} <= {k}) THEN named_struct("
                f"'seg', '', 'i', -1, 'l', CAST({tgt} AS INT)) END"
            )
        arr_sql = f"filter(array({', '.join(cands)}), c -> c IS NOT NULL)"
        exploded = df.select(
            F.col("_s").alias("_probe_s"),
            F.explode(F.expr(arr_sql)).alias("b"),
        )
        return exploded.select("_probe_s", "b.seg", "b.i", "b.l").distinct()

    # broadcast the index side: it is structurally the smaller side —
    # (k+1) rows per string vs the probe side's up to (2k+1)²·(k+1)
    # (25x at k=2); without the hint the planner's post-explode size
    # estimates picked the PROBE side as build (a ~1.5M-row broadcast
    # at sf0.1 where the index is ~60k rows). The hint stays under the
    # session's broadcast threshold: past it (or with no estimate) the
    # planner's shuffle join keeps an unbounded index off the driver.
    index = _index_rows(idx_src)
    est = estimated_bytes(index)
    limit = index.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if est is not None and est < limit:
        index = F.broadcast(index)
    candidates = (
        _probe_rows(probe_src)
        .join(index, on=["seg", "i", "l"])
        .select("_probe_s", "_idx_s")
        .distinct()
    )
    if self_mode:
        candidates = candidates.where(F.col("_probe_s") < F.col("_idx_s"))
    pairs = candidates.select(
        F.col("_probe_s").alias(out_left),
        F.col("_idx_s").alias(out_right),
        F.levenshtein(F.col("_probe_s"), F.col("_idx_s")).alias(dist_col),
    )
    return pairs.where(F.col(dist_col) <= k)


def py_edit_distance(a: str, b: str) -> int:
    """Pure-Python Wagner–Fischer reference for tests."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


class EditJoinTransformer(_BaseTransformer):
    """Registry adapter (``type: edit_join``): self-join the pipeline
    frame's ``stringColumn`` (or join against ``rightTable``'s
    ``rightStringColumn``) within ``maxDistance`` edits. Output is the
    distinct pair table (s_a, s_b, edit_distance)."""

    def validate(self, df, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        col = config.options.get("stringColumn")
        if not col:
            errors.append("edit_join requires 'stringColumn'")
        elif col not in df.columns:
            errors.append(f"stringColumn not in input schema: {col}")
        k = config.options.get("maxDistance", "2")
        if not str(k).isdigit() or int(k) < 1:
            errors.append("maxDistance must be an integer >= 1")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        right = None
        if opts.get("rightTable"):
            right = ctx.spark.table(opts["rightTable"])
        return edit_distance_join(
            df,
            opts["stringColumn"],
            right=right,
            right_string_col=opts.get("rightStringColumn"),
            max_distance=int(opts.get("maxDistance", 2)),
        )
