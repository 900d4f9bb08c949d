"""Distributed k-means clustering over embedding columns.

The LLM-curation use case is SemDeDup-style *semantic* dedup and
corpus stratification (Abbas et al. 2023): cluster document embeddings
with k-means, then act per cluster (keep one representative, sample
per cluster, diversity-balance a mixture). This module provides the
clustering core; ``semantic_representatives`` picks the per-cluster
survivor.

Design for determinism AND scale — the same two constraints that
shaped ``graph.pagerank`` (float accumulation is partition-order
dependent; a naive crossJoin of points x centroids explodes):

- **Power-of-two fixed-point quantization.** Components quantize as
  ``floor(x * 2^scale_bits)``: a float32 value is exactly
  representable in double and multiplying by a power of two only
  shifts the exponent, so the product is EXACT and ``floor`` is
  engine-independent — no round-half-to-even vs half-away hazard at
  all. Every subsequent operation (squared distances, component sums,
  floor-divided means) is pure BIGINT arithmetic, identical on any
  engine under any partitioning.
- **Zero-shuffle assignment.** Centroids live on the driver (k x dim
  integers, a few KB); each iteration builds the k squared-distance
  expressions as literals, so the assignment is a pure projection that
  rides the scan — no crossJoin, no shuffle, full codegen. Argmin =
  ``array_position(d, array_min(d))``, which breaks distance ties
  toward the smallest cluster id deterministically.
- **One shuffle per iteration.** The centroid update explodes points
  to ``(cluster, dim, component)`` and sums — map-side combine
  reduces each partition to at most k*dim partials, so the shuffle
  moves O(P * k * dim) rows regardless of data size. The k*dim sums
  are collected to the driver (bounded, like pagerank's node count)
  and the new centroids are computed there with Python's exact
  floor division. Empty clusters keep their previous centroid.
- **Deterministic init.** Default seeds are the quantized vectors
  of the k smallest ids (rank order = cluster id). k-means++ would
  need a seeded RNG that an oracle engine can't replay; for
  correctness-gated clustering the deterministic seed is the point.
  ``seeding="spread"`` upgrades this for the 100 TB posture without
  losing replayability: md5-hash-rank the points, pull the top
  k*oversample candidates in one extra pass, greedy farthest-point
  (k-center) over them on the driver — deterministic k-means‖
  (Bahmani et al. 2012) with hashing standing in for the RNG, so a
  SQL oracle replays the exact seed choice. First-k stays the
  default because it is the oracle-compat baseline; use spread when
  ids correlate with shards/domains/time (first-k would then draw
  every seed from one region). Callers can also pass ``init_ids``.

Reference parity anchor: the reference engine has no clustering
operators (SURVEY.md §2 — transformers are filter/map/agg/join/window
only); this is beyond-reference surface for the 100 TB curation use
case, same family as dedup.py's MinHash-LSH and similarity.py's IVF
(whose cell-assignment step is the float cousin of the assignment
here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_spark_gradle_spark.operators.relational import TransformationError, _BaseTransformer

__all__ = [
    "kmeans",
    "semantic_representatives",
    "KMeansTransformer",
]

# in-plan Lloyd iterations per driver materialization of the 1-row
# centroid frame: bounds nested-plan depth for high iteration counts
# while keeping the common 2-4 iteration calls a single fully-lazy plan
_LLOYD_CHUNK = 4


def _dist_arr(qcol):
    """Exact integer squared L2 distances from ``qcol`` (array<long>)
    to every centroid in the broadcast ``_c`` column, as one array."""
    return F.transform(
        F.col("_c"),
        lambda c: F.aggregate(
            F.zip_with(qcol, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )


# SQL-text twin of :func:`_dist_arr` (same exact-integer arithmetic).
# The Lloyd loop instantiates the distance/argmin/rebuild trees once
# per iteration; built Column-call by Column-call they cost hundreds of
# py4j round trips each (~0.4 s of q23's bench wall), so each tree is
# rendered as ONE SQL string and parsed with a single ``F.expr`` — the
# q28_bootstrap device. Integer-only expressions: a different parse
# shape cannot change a value.
_DIST_ARR_SQL = (
    "transform(_c, c -> aggregate(zip_with({q}, c, (x, y) -> "
    "(x - y) * (x - y)), CAST(0 AS BIGINT), (acc, x) -> acc + x))"
)


def _argmin_cluster_sql(q: str = "_q") -> str:
    d = _DIST_ARR_SQL.format(q=q)
    return f"CAST(array_position({d}, array_min({d})) - 1 AS INT)"


def _spread_seeds(pts: DataFrame, k: int, oversample: int, salt: str) -> list:
    """Deterministic k-means‖-style seeding (VERDICT r8 ask #6): md5
    hash-rank the cleaned points, take the top ``k * oversample``
    candidates in ONE extra pass (a partial top-L per task — no full
    sort), then run greedy farthest-point (k-center) over the
    collected candidates on the driver and return the chosen rows
    sorted by id (rank order = cluster id, matching first-k's
    contract).

    Why: first-k-ids seeding is deterministic but degenerate on
    id-correlated data — when ids encode shard/domain/time, all k
    seeds come from one region of the space and Lloyd starts from the
    worst possible place. md5 ranking decorrelates the candidate draw
    from id order (the ``hash_sample`` reproducibility posture — a
    seeded ``rand()`` would re-draw per partitioning), and
    farthest-point spreading guarantees the seeds span the candidate
    set's diameter. Everything is exact integer arithmetic on the
    already-quantized vectors, so a SQL oracle replays it verbatim
    (same md5 ranking, same unrolled greedy argmax with the same
    max-distance-then-smallest-id tie-break).

    Scale: the candidate pull is TopK(L) — per-task partial top-L,
    one tiny driver collect of L vectors; the greedy loop is
    O(k * L * dim) driver-side integer math on a few-hundred-row
    table. One scan added over first-k seeding, exactly the "one
    extra pass" k-means‖ budgets (Bahmani et al. 2012, VLDB)."""
    L = max(int(k) * max(int(oversample), 1), int(k))
    cand_rows = (
        pts.withColumn(
            "_seedr",
            F.md5(F.concat(F.col("_kid").cast("string"), F.lit(salt))),
        )
        .orderBy("_seedr", "_kid")
        .limit(L)
        .collect()
    )
    if not cand_rows:
        return []
    chosen = [cand_rows[0]]  # smallest md5 = first seed
    rest = list(cand_rows[1:])

    def _min_d2(row):
        return min(
            sum((a - b) * (a - b) for a, b in zip(row["_q"], c["_q"]))
            for c in chosen
        )

    while len(rest) > 0 and len(chosen) < int(k):
        # farthest candidate from the chosen set; ties -> smallest id
        best_i = min(
            range(len(rest)),
            key=lambda i: (-_min_d2(rest[i]), rest[i]["_kid"]),
        )
        chosen.append(rest.pop(best_i))
    chosen.sort(key=lambda r: r["_kid"])
    return chosen


def kmeans(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iterations: int = 3,
    scale_bits: int = 20,
    init_ids: list | None = None,
    seeding: str = "first_k",
    oversample: int = 8,
    seed_salt: str = "",
) -> DataFrame:
    """Lloyd's k-means over an ``array<float|double>`` column with
    exact fixed-point arithmetic.

    Returns ``(id_col, cluster int, dist_int long)``: the final
    cluster assignment and the exact integer squared distance to the
    final centroid (in quantized units^2) — both hash-gateable.

    Rows with a NULL id/vector, a vector whose length differs from
    the inferred dimension, or NULL components are dropped (same
    posture as similarity.py's ANN operators).

    ``seeding``: ``"first_k"`` (default — k smallest ids, the
    oracle-compat baseline) or ``"spread"`` (deterministic
    k-means‖-style: see :func:`_spread_seeds`). ``oversample`` and
    ``seed_salt`` apply to spread only. ``init_ids`` overrides both.

    Overflow bounds (BIGINT): |component| <= 2^scale_bits * max|x|;
    per-dim squared diff <= (2*that)^2; the distance sum adds dim of
    them, so safety requires dim * (2 * 2^scale_bits * max|x|)^2 <
    2^63. At the default scale_bits=20 that is max|x| <= 22 at
    dim 4096, or dim <= 8 at max|x| = 500 — NOT both large at once.
    Rather than trust the caller's arithmetic, the function measures
    the actual max quantized magnitude (one column-pruned aggregate
    over the cleaned points) and raises TransformationError with the
    largest safe scale_bits when the bound would be exceeded —
    distance sums would otherwise wrap silently (Spark BIGINT
    arithmetic is non-ANSI by default) and produce wrong clusters.
    """
    if int(k) < 1:
        raise TransformationError("kmeans requires k >= 1")
    if int(iterations) < 1:
        raise TransformationError("kmeans requires iterations >= 1")
    if not 1 <= int(scale_bits) <= 30:
        raise TransformationError("kmeans scale_bits must be in [1, 30]")
    if seeding not in ("first_k", "spread"):
        raise TransformationError(
            "kmeans seeding must be 'first_k' or 'spread'"
        )
    for c in (id_col, vec_col):
        if c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")

    scale = float(2 ** int(scale_bits))
    q = F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * F.lit(scale))
    )
    pts = (
        df.select(F.col(id_col).alias("_kid"), q.alias("_q"))
        .where(F.col("_kid").isNotNull() & F.col("_q").isNotNull())
        .where(~F.exists("_q", lambda x: x.isNull()))
    )
    # ONE probe job replaces three sequential driver round-trips
    # (dim-inference limit(1), overflow max agg, first-k seed collect
    # — each a full job submission, together ~1.4 s of the q23 bench
    # wall): the k smallest-id rows ride a TakeOrdered branch and the
    # per-vector-size overflow maxima ride a tiny groupBy branch
    # (tagged _kid = NULL — impossible in pts, which is null-filtered),
    # unioned and collected once. Seeds/dim/maxc all derive from the
    # same rows the old three jobs returned, so behavior is identical;
    # the only re-queries are the rare short-seed fallbacks below.
    _idt = pts.schema["_kid"].dataType
    _maxes = (
        pts.groupBy(F.size("_q").alias("_sz"))
        .agg(
            F.max(
                F.array_max(F.transform("_q", lambda x: F.abs(x)))
            ).alias("_m")
        )
        .select(
            F.lit(None).cast(_idt).alias("_kid"),
            F.array(F.col("_sz").cast("long"), F.col("_m")).alias("_q"),
        )
    )
    _probe = (
        pts.orderBy("_kid")
        .limit(max(int(k), 1))
        .select("_kid", "_q")
        .unionAll(_maxes)
        .collect()
    )
    _cand = sorted(
        (r for r in _probe if r["_kid"] is not None),
        key=lambda r: r["_kid"],
    )
    _size_max = {
        int(r["_q"][0]): r["_q"][1]
        for r in _probe
        if r["_kid"] is None
    }
    first = _cand[:1]
    if not first:
        # Preserve the input id type (ADVICE r8): a hardcoded string id
        # here would give the empty path a different schema from the
        # non-empty path, breaking unions/joins over empty inputs.
        from pyspark.sql.types import (
            IntegerType,
            LongType,
            StructField,
            StructType,
        )

        return df.sparkSession.createDataFrame(
            [],
            StructType(
                [
                    StructField(id_col, df.schema[id_col].dataType, True),
                    StructField("cluster", IntegerType(), True),
                    StructField("dist_int", LongType(), True),
                ]
            ),
        )
    dim = len(first[0]["_q"])
    pts = pts.where(F.size("_q") == dim).localCheckpoint(eager=False)

    # Overflow guard (ADVICE r8): measure the real max quantized
    # magnitude and refuse to run if the distance sum could exceed
    # BIGINT — dim * (2 * maxc)^2 must stay under 2^63. The max comes
    # from the probe job's per-size branch, restricted to the kept
    # dimension (ragged rows are dropped and must not trip the guard).
    maxc = _size_max.get(dim)
    if maxc and dim * (2 * int(maxc)) ** 2 >= 2**63:
        import math

        mag = int(maxc) / scale  # ≈ max|x| of the raw vectors
        safe = int(0.5 * math.log2(2**61 / (dim * max(mag, 1e-300) ** 2)))
        raise TransformationError(
            f"kmeans scale_bits={int(scale_bits)} overflows BIGINT at "
            f"dim={dim}, max|x|~={mag:.4g}: distance sums would wrap "
            f"silently. Use scale_bits <= {max(safe, 1)}."
        )

    if init_ids is not None:
        seed_rows = (
            pts.where(F.col("_kid").isin(list(init_ids)))
            .orderBy("_kid")
            .collect()
        )
    elif seeding == "spread":
        seed_rows = _spread_seeds(pts, int(k), oversample, seed_salt)
    else:
        # first-k seeds from the probe rows (same k smallest ids the
        # old dedicated job returned); a ragged row among them or a
        # probe shorter than k falls back to the filtered query
        seed_rows = [r for r in _cand if len(r["_q"]) == dim][: int(k)]
        if len(seed_rows) < int(k):
            seed_rows = pts.orderBy("_kid").limit(int(k)).collect()
    if not seed_rows:
        raise TransformationError("kmeans: no usable seed rows")
    centroids = [list(r["_q"]) for r in seed_rows]  # cluster j = j-th seed

    # Lloyd iterations folded into ONE lazy plan (VERDICT r12 ask #3):
    # the r12 shape ran one job PER iteration (assignment + posexplode
    # aggregation + driver collect + centroid-literal rebuild), so a
    # 3-iteration run paid 3 job submissions + 3 plan analyses + 3
    # collects of driver wall (~2.2 s of q23's 2.5 s bench wall, exec
    # only 0.3 s). Instead the centroid update happens IN-PLAN: each
    # iteration's (cluster, dim) sums collapse to a 1-row broadcast
    # map {cluster*dim+dim_idx -> floor(s/n)} and the next centroid
    # array is rebuilt from map + previous array (empty cluster keeps
    # its old centroid via the coalesce fallback, exactly the old
    # driver-side rule). Arithmetic is unchanged exact-integer:
    # (s - pmod(s, n)) DIV n is Python's floor division for n > 0, the
    # same value the driver loop computed with //. Each iteration
    # references the previous centroid frame exactly ONCE, so the plan
    # grows linearly in `iterations`; `_LLOYD_CHUNK` bounds the nesting
    # by materializing the 1-row centroid frame to the driver every
    # few iterations (typical calls — iterations=3 — stay fully lazy:
    # ZERO Lloyd jobs at build time, everything rides the caller's one
    # action).
    def _centroid_frame(cents) -> DataFrame:
        return pts.sparkSession.createDataFrame(
            [([[int(v) for v in c] for c in cents],)],
            "_c array<array<long>>",
        )

    kk = min(int(k), len(centroids))  # fewer usable seed rows than k
    cframe = _centroid_frame(centroids)
    for it in range(int(iterations)):
        if it and it % _LLOYD_CHUNK == 0:
            # bound plan depth for unusually high iteration counts:
            # collect the 1-row centroid array and restart from a
            # literal frame (one tiny job per chunk boundary)
            cframe = _centroid_frame(cframe.collect()[0]["_c"])
        # Two-step on purpose: the assignment expression must be
        # materialized BEFORE the explode — inside the same select,
        # Generate re-evaluates it once per EXPLODED row (dim× the
        # work; measured 10.7 s -> 0.6 s per iteration at 2k x 64).
        # `_c` rides along so the update can fall back to the old
        # centroid for empty clusters without a second reference to
        # the centroid frame (which would double the subtree per
        # iteration): one array per partial-agg group in the k*dim
        # shuffle, bounded at k²·dim longs per task.
        assigned = pts.crossJoin(F.broadcast(cframe)).select(
            F.expr(_argmin_cluster_sql()).alias("cluster"), "_q", "_c"
        )
        sums = (
            assigned.select(
                "cluster", F.posexplode("_q").alias("dim", "v"), "_c"
            )
            .groupBy("cluster", "dim")
            .agg(
                F.sum("v").cast("long").alias("s"),
                F.count(F.lit(1)).cast("long").alias("n"),
                F.first("_c").alias("_c0"),
            )
        )
        # one global aggregate produces the NEXT 1-row centroid frame
        # directly: {cluster*dim + dim_idx -> floor(s/n)} as a map
        # aggregate (pmod makes the truncating DIV an exact floor
        # division; n > 0 always — a (cluster, dim) group exists only
        # with rows in it), projected through the array rebuild in the
        # same result expression
        _m = (
            f"map_from_entries(collect_list(named_struct("
            f"'key', CAST(cluster AS BIGINT) * {dim} + dim, "
            f"'value', (s - pmod(s, n)) DIV n)))"
        )
        cframe = sums.agg(
            F.expr(
                f"transform(sequence(0, {kk - 1}), j -> "
                f"transform(sequence(0, {dim - 1}), i -> "
                f"coalesce("
                f"element_at({_m}, CAST(j AS BIGINT) * {dim} + CAST(i AS BIGINT)), "
                f"element_at(element_at(first(_c0), CAST(j + 1 AS INT)), "
                f"CAST(i + 1 AS INT)))))"
            ).alias("_c")
        )

    # Materialize the k distances once, then derive argmin/min from the
    # plain 8-element array (no re-evaluation of the distance HOFs).
    with_d = pts.crossJoin(F.broadcast(cframe)).select(
        F.col("_kid").alias(id_col),
        F.expr(_DIST_ARR_SQL.format(q="_q")).alias("_d"),
    )
    return with_d.select(
        id_col,
        (F.array_position("_d", F.array_min("_d")) - 1).cast("int").alias("cluster"),
        F.array_min("_d").cast("long").alias("dist_int"),
    )


def semantic_representatives(assigned: DataFrame, id_col: str) -> DataFrame:
    """SemDeDup keep-one-per-cluster: from a ``kmeans`` output, keep
    the row closest to its centroid (ties -> smallest id). One
    cluster-keyed window; survivors carry their cluster and distance."""
    from pyspark.sql import Window

    for c in (id_col, "cluster", "dist_int"):
        if c not in assigned.columns:
            raise TransformationError(f"column not in input schema: {c}")
    w = Window.partitionBy("cluster").orderBy("dist_int", id_col)
    return (
        assigned.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


class KMeansTransformer(_BaseTransformer):
    """Registry adapter (``type: kmeans``). Options: ``idColumn``,
    ``vectorColumn`` (required), ``k`` (default 8), ``iterations``
    (default 3), ``scaleBits`` (default 20), ``representativesOnly``
    (default false -> full assignment; true -> SemDeDup survivors),
    ``seeding`` (``firstK`` default | ``spread`` = deterministic
    k-means‖-style md5-ranked candidates + farthest-point),
    ``oversample`` (default 8, spread candidate pool = k*oversample),
    ``seedSalt`` (default empty, varies the spread candidate draw)."""

    def validate(self, df, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        for key in ("idColumn", "vectorColumn"):
            if not opts.get(key):
                errors.append(f"kmeans requires '{key}'")
            elif opts[key] not in df.columns:
                errors.append(f"column not in input schema: {opts[key]}")
        for key, lo in (("k", 1), ("iterations", 1), ("scaleBits", 1)):
            try:
                if int(opts.get(key, lo)) < lo:
                    errors.append(f"kmeans {key} must be >= {lo}")
            except (TypeError, ValueError):
                errors.append(f"kmeans {key} must be an integer")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        seeding = {"firstk": "first_k", "first_k": "first_k",
                   "spread": "spread"}.get(
            str(opts.get("seeding", "firstK")).lower()
        )
        if seeding is None:
            raise TransformationError(
                f"kmeans seeding must be firstK or spread: {opts['seeding']}"
            )
        out = kmeans(
            df,
            opts["idColumn"],
            opts["vectorColumn"],
            k=int(opts.get("k", 8)),
            iterations=int(opts.get("iterations", 3)),
            scale_bits=int(opts.get("scaleBits", 20)),
            seeding=seeding,
            oversample=int(opts.get("oversample", 8)),
            seed_salt=str(opts.get("seedSalt", "")),
        )
        if str(opts.get("representativesOnly", "false")).lower() == "true":
            out = semantic_representatives(out, opts["idColumn"])
        return out
