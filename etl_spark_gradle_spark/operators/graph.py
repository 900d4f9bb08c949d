"""Graph analytics over relational edge lists.

The other iterative-graph primitive in the engine is
``dedup.connected_components`` (min-label propagation for duplicate
clusters). This module adds PageRank — the canonical "importance over
a link graph" ranking used in corpus curation (page/domain quality
weighting for crawl sampling, e.g. the Common-Crawl-style pipelines
the LLM-operator family targets).

Design for determinism AND scale (the two constraints that rule out
the textbook float implementation):

- **Fixed-point integer arithmetic.** Float PageRank sums incoming
  contributions per node — partition-order-dependent at any scale (the
  one-ulp class of bug the sf1 sweep caught in the resample family).
  Here every rank is an integer number of 1e-12 "mass units": per-edge
  contributions use integer floor division (``pr DIV outdeg``), the
  per-node sum is an exact BIGINT sum, and the damping multiply is
  ``(d100 · sum) DIV 100``. Every operation is exact and identical on
  any engine and any partitioning; the oracle replays it verbatim.
  Flooring leaks ≤ 1 unit (1e-12) per edge per iteration — bounded,
  deterministic, and irrelevant at ranking granularity.
- **One shuffle per iteration** (edges ⋈ ranks on the source key, then
  a dst-keyed sum), ranks ``localCheckpoint``-ed per round so the plan
  stays fixed-size instead of replaying all prior rounds (same posture
  as ``connected_components``). Edge count, not node count, drives the
  cost — at 100 TB of edges each iteration is one join + one agg.
- **Dangling nodes** (no out-edges) keep receiving the teleport term
  but their mass is NOT redistributed (the "ignore dangling" PageRank
  variant). This keeps the iteration a pure edge join — the classic
  redistribution needs a global 1-row sum per iteration, which is a
  broadcast away if ever needed; for ranking (ordinal use) the variant
  is standard. Total mass therefore shrinks slightly each round; ranks
  remain comparable within an iteration count.

Reference parity anchor: the reference engine has no graph operators
(SURVEY.md §2 — transformers are filter/map/agg/join/window only);
this is beyond-reference surface for the 100 TB curation use case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_spark_gradle_spark.operators.relational import (
    TransformationError,
    _BaseTransformer,
    pin_bounded,
)

__all__ = [
    "pagerank",
    "triangle_count",
    "bfs_distances",
    "PagerankTransformer",
    "TriangleCountTransformer",
    "BfsDistancesTransformer",
]

SCALE = 10**12  # rank mass units per 1.0 of probability


def pagerank(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    damping: float = 0.85,
    iterations: int = 5,
) -> DataFrame:
    """Fixed-point PageRank over a directed edge list.

    Returns ``(node, pr_int, pr)``: the integer rank in 1e-12 mass
    units (hash-gateable, exact) and its double rendering
    ``pr_int / 1e12`` (exact: pr_int < 2^53). Multi-edges collapse to
    one edge (standard). ``damping`` must be expressible in hundredths
    (0.85 → 85) so the damping multiply stays integer-exact.

    Iteration (all integer):
        teleport  = ((100 − d100) · SCALE) DIV (100 · N)
        contrib_e = pr[src] DIV outdeg[src]            (per edge)
        pr'[v]    = teleport + (d100 · Σ contrib_e→v) DIV 100
    """
    d100 = int(round(float(damping) * 100))
    if not 0 < d100 < 100 or abs(d100 / 100.0 - float(damping)) > 1e-9:
        raise TransformationError(
            f"pagerank damping must be in (0, 1) with 2-decimal precision, "
            f"got {damping}"
        )
    if int(iterations) < 1:
        raise TransformationError("pagerank requires iterations >= 1")
    for c in (src_col, dst_col):
        if c not in edges.columns:
            raise TransformationError(f"edge column not in input schema: {c}")

    e = (
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("t"))
        .where(F.col("s").isNotNull() & F.col("t").isNotNull())
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("s").alias("node"))
        .union(e.select(F.col("t").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_nodes = nodes.count()  # driver point: ONE long, bounded
    if n_nodes == 0:
        return nodes.select(
            "node",
            F.lit(None).cast("long").alias("pr_int"),
            F.lit(None).cast("double").alias("pr"),
        )
    teleport = ((100 - d100) * SCALE) // (100 * n_nodes)
    outdeg = e.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("outdeg"))

    ranks = nodes.select("node", (F.lit(SCALE // n_nodes)).cast("long").alias("pr_int"))
    for _ in range(int(iterations)):
        contrib = (
            e.join(ranks, e["s"] == ranks["node"])
            .join(outdeg, "s")
            .select(
                F.col("t").alias("node"),
                F.expr("pr_int DIV outdeg").cast("long").alias("c"),
            )
        )
        in_sum = contrib.groupBy("node").agg(F.sum("c").cast("long").alias("in_sum"))
        ranks = (
            nodes.join(in_sum, "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport).cast("long")
                    + F.expr(f"({d100} * coalesce(in_sum, 0L)) DIV 100").cast("long")
                ).alias("pr_int"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select(
        "node",
        "pr_int",
        (F.col("pr_int").cast("double") / F.lit(float(SCALE))).alias("pr"),
    )


class PagerankTransformer(_BaseTransformer):
    """Registry adapter (``type: pagerank``). Options: ``srcColumn``,
    ``dstColumn`` (required), ``damping`` (default 0.85, hundredths
    precision), ``iterations`` (default 5)."""

    def validate(self, df, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        for key in ("srcColumn", "dstColumn"):
            if not opts.get(key):
                errors.append(f"pagerank requires '{key}'")
            elif opts[key] not in df.columns:
                errors.append(f"column not in input schema: {opts[key]}")
        try:
            d = float(opts.get("damping", 0.85))
            if not 0 < d < 1:
                errors.append("pagerank damping must be in (0, 1)")
        except ValueError:
            errors.append("pagerank damping must be numeric")
        try:
            if int(opts.get("iterations", 5)) < 1:
                errors.append("pagerank requires iterations >= 1")
        except ValueError:
            errors.append("pagerank iterations must be an integer")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        return pagerank(
            df,
            opts["srcColumn"],
            opts["dstColumn"],
            damping=float(opts.get("damping", 0.85)),
            iterations=int(opts.get("iterations", 5)),
        )


def triangle_count(
    df: DataFrame,
    src_col: str,
    dst_col: str,
    per_vertex: bool = True,
) -> DataFrame:
    """Exact triangle counting over an undirected edge list — the
    standard cohesion metric (clustering coefficients, spam/community
    detection, link-farm discovery in a crawl graph).

    Spark-first re-expression of the degree-ordered algorithm (Cohen
    2009 / Suri & Vassilvitskii WWW'11 "MapReduce clustering"): edges
    canonicalize to ``least/greatest`` pairs (self-loops and
    multi-edges dropped), every edge is ORIENTED from its
    lower-(degree, id) endpoint to the higher, wedges are generated by
    joining the oriented list with itself on the center vertex, and a
    final join against the oriented edges closes each wedge. The
    orientation is the whole scale story: out-degree after orienting
    by degree is O(sqrt m), so the wedge table — the intermediate that
    explodes under a naive formulation (a celebrity vertex with 10M
    neighbors yields 5·10^13 naive wedges) — is bounded by O(m^1.5)
    TOTAL, evenly spread. Three equi-join shuffles, no cartesian, no
    iteration, each triangle counted exactly once.

    ``per_vertex=True`` (default) returns ``(vertex, triangles)`` for
    every vertex of at least one triangle (each triangle credits all
    three corners); ``False`` returns the single global count row
    ``(triangles)``.
    """
    for c in (src_col, dst_col):
        if c not in df.columns:
            raise TransformationError(f"triangle_count column not in schema: {c}")
    a, b = F.col(src_col), F.col(dst_col)
    # The dataflow references edges 3x (degree union + rank join), deg
    # 2x (both endpoints) and directed 3x (both wedge legs + closing
    # set); Catalyst re-plans the whole upstream per reference, so the
    # un-pinned composition compounded to ~45 copies of the edge
    # subtree (90 parquet scans / 91 exchanges in the executed plan,
    # r12 audit). deg is the genuinely bounded one (O(V), two columns)
    # and keeps the localCheckpoint pin; edges/directed are O(m), so
    # they go through the size-aware pin_bounded (VERDICT r12 ask #5 /
    # ADVICE): small graphs pin as before, estimate-large ones persist
    # MEMORY_AND_DISK instead, keeping lineage so an executor loss
    # recomputes rather than failing the job. Results are unchanged.
    edges = pin_bounded(
        df.filter(a.isNotNull() & b.isNotNull() & (a != b))
        .select(F.least(a, b).alias("x"), F.greatest(a, b).alias("y"))
        .distinct()
    )
    deg = (
        edges.select(F.col("x").alias("v"))
        .unionAll(edges.select(F.col("y").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=False)
    )
    dx = deg.select(F.col("v").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("v").alias("y"), F.col("d").alias("dy"))
    ranked = edges.join(dx, "x").join(dy, "y")
    # orient low-(degree, id) -> high-(degree, id)
    low_first = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))
    )
    directed = pin_bounded(
        ranked.select(
            F.when(low_first, F.col("x")).otherwise(F.col("y")).alias("u"),
            F.when(low_first, F.col("y")).otherwise(F.col("x")).alias("w"),
        )
    )
    d1 = directed.select(F.col("u"), F.col("w").alias("v1"))
    d2 = directed.select(F.col("u"), F.col("w").alias("v2"))
    wedges = d1.join(d2, "u").filter(F.col("v1") < F.col("v2"))
    closing = directed.select(
        F.least("u", "w").alias("c1"), F.greatest("u", "w").alias("c2")
    ).distinct()
    tris = wedges.join(
        closing,
        (F.least("v1", "v2") == F.col("c1"))
        & (F.greatest("v1", "v2") == F.col("c2")),
    ).select("u", "v1", "v2")
    if not per_vertex:
        return tris.agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    # one reference to tris instead of a 3-way self-union: each
    # triangle still credits exactly its three corners
    corners = tris.select(
        F.explode(F.array("u", "v1", "v2")).alias("vertex")
    )
    return corners.groupBy("vertex").agg(
        F.count(F.lit(1)).cast("long").alias("triangles")
    )


class TriangleCountTransformer(_BaseTransformer):
    """Registry adapter (``type: triangle_count``). Options:
    ``srcColumn``, ``dstColumn`` (required), ``perVertex``
    (default true)."""

    def validate(self, df, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        for key in ("srcColumn", "dstColumn"):
            if not opts.get(key):
                errors.append(f"triangle_count requires '{key}'")
            elif opts[key] not in df.columns:
                errors.append(f"column not in input schema: {opts[key]}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        return triangle_count(
            df,
            opts["srcColumn"],
            opts["dstColumn"],
            per_vertex=str(opts.get("perVertex", "true")).lower() == "true",
        )


def bfs_distances(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    seeds: DataFrame,
    seed_col: str,
    max_hops: int = 3,
    directed: bool = False,
) -> DataFrame:
    """Minimum hop distance from a SEED SET over an edge list —
    the "link distance from trusted domains" signal corpus-curation
    pipelines use to weight crawl quality (seeds at 0, their direct
    neighbors 1, ...). Returns ``(node, dist int)`` for every node
    reachable within ``max_hops``; unreachable nodes are absent.

    The third iterative-graph primitive beside ``pagerank`` and
    ``dedup.connected_components``, with the same determinism-and-
    scale posture: distances are small integers (exact under any
    partitioning — min of a set is order-free), each hop is ONE
    frontier ⋈ edges join plus an anti-join against the settled set,
    and the settled frame is ``localCheckpoint``-ed per round so the
    plan stays fixed-size. The frontier count per hop is the early-
    exit driver point (bounded: one long per hop). Frontier-keyed
    joins mean cost tracks the frontier size, not the full node set —
    at 100 TB of edges each hop shuffles edges once on the join key.

    ``directed=False`` (default) walks edges both ways (the union is
    computed once, before iteration). Seed values not present in the
    graph still report dist 0 (they are legitimate query points).
    """
    if int(max_hops) < 0:
        raise TransformationError("bfs_distances requires max_hops >= 0")
    for c in (src_col, dst_col):
        if c not in edges.columns:
            raise TransformationError(f"edge column not in input schema: {c}")
    if seed_col not in seeds.columns:
        raise TransformationError(f"seed column not in input schema: {seed_col}")

    e = (
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("t"))
        .where(F.col("s").isNotNull() & F.col("t").isNotNull())
    )
    if not directed:
        e = e.union(e.select(F.col("t").alias("s"), F.col("s").alias("t")))
    e = e.distinct().localCheckpoint(eager=False)

    dist = (
        seeds.select(F.col(seed_col).alias("node"))
        .where(F.col("node").isNotNull())
        .distinct()
        .select("node", F.lit(0).cast("int").alias("dist"))
        .localCheckpoint(eager=False)
    )
    frontier = dist
    for hop in range(1, int(max_hops) + 1):
        nbr = (
            frontier.join(e, frontier["node"] == e["s"])
            .select(F.col("t").alias("node"))
            .distinct()
        )
        new = nbr.join(dist, "node", "left_anti").select(
            "node", F.lit(hop).cast("int").alias("dist")
        )
        new = new.localCheckpoint(eager=False)
        if new.count() == 0:  # driver point: one long per hop
            break
        dist = dist.union(new).localCheckpoint(eager=False)
        frontier = new
    return dist


class BfsDistancesTransformer(_BaseTransformer):
    """Registry adapter (``type: bfs``). Options: ``srcColumn``,
    ``dstColumn``, ``seedValues`` (csv of seed node ids — or use a
    ``views:``-registered seed table via ``seedView``/``seedColumn``),
    ``maxHops`` (default 3), ``directed`` (default false)."""

    def validate(self, df, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        for key in ("srcColumn", "dstColumn"):
            if not opts.get(key):
                errors.append(f"bfs requires '{key}'")
            elif opts[key] not in df.columns:
                errors.append(f"column not in input schema: {opts[key]}")
        if not opts.get("seedValues") and not opts.get("seedView"):
            errors.append("bfs requires 'seedValues' (csv) or 'seedView'")
        if opts.get("seedView") and not opts.get("seedColumn"):
            errors.append("bfs seedView requires 'seedColumn'")
        try:
            if int(opts.get("maxHops", 3)) < 0:
                errors.append("bfs maxHops must be >= 0")
        except ValueError:
            errors.append("bfs maxHops must be an integer")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        from etl_spark_gradle_spark.operators.relational import _split_csv

        opts = config.options
        spark = df.sparkSession
        if opts.get("seedView"):
            seeds = spark.table(opts["seedView"])
            seed_col = opts["seedColumn"]
        else:
            values = _split_csv(opts["seedValues"])
            seeds = spark.createDataFrame(
                [(v,) for v in values], ["seed"]
            )
            seed_col = "seed"
        return bfs_distances(
            df,
            opts["srcColumn"],
            opts["dstColumn"],
            seeds,
            seed_col,
            max_hops=int(opts.get("maxHops", 3)),
            directed=str(opts.get("directed", "false")).lower() == "true",
        )
