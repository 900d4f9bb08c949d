"""Similarity search over embedding columns (`array<float>`): exact
brute-force cosine top-k as the correctness baseline, and a
random-hyperplane-LSH bucketed variant as the 100 TB scale path.

Beyond-reference operators (the reference has no vector surface at all —
SURVEY.md §7.2 step 8 / BASELINE north star). Everything here is stock
DataFrame API; the dot products are Catalyst ``zip_with``/``aggregate``
expressions, JVM-side, whole-stage-codegen'd — no Python in the hot
path.

100-TB design notes
-------------------
- ``brute_force_topk``: query side is explicitly ``broadcast()`` (query
  batches are small by construction); the corpus is never shuffled — the
  join is a broadcast nested loop, each corpus partition scores locally,
  and ``row_number() <= k`` plans as WindowGroupLimit so each partition
  keeps k candidates before the single top-k exchange. Cost is O(corpus
  × queries) compute but ZERO corpus movement; use it for exact answers
  on filtered subsets or as the verifier for the LSH path.
- ``lsh_bucketed_topk``: sign-random-projection signatures (Charikar
  hyperplane LSH for cosine) built from deterministic seeded
  hyperplanes; candidates join on (band, band-hash) buckets only —
  shuffle carries (id, 8-byte hash) pairs, never all-pairs. Recall is
  tunable with ``num_bits``/``bands``/multi-probe; exactness falls back
  to ``brute_force_topk`` re-scoring of the candidate set.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product of two numeric array columns as a left-fold Catalyst
    expression (deterministic accumulation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def _cosine_pre(va: Column, vb: Column, na: Column, nb: Column) -> Column:
    """:func:`cosine` with the two L2 norms precomputed per SIDE (once
    per row before the join/explode) instead of per PAIR — the pair
    stage then evaluates one interpreted HOF dot product instead of
    three aggregates. Bit-identical to ``cosine(va, vb)``: the same
    ``l2_norm`` expression runs on the same values, just earlier, and
    ``dot / (na * nb)`` closes in the same IEEE order, including the
    zero-denominator guard on the product."""
    denom = na * nb
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(va, vb) / denom)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    include_self: bool = False,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Returns ``(query_id, neighbor_id, cos_sim, rank)``. Ties broken by
    neighbor id so the result is deterministic. The query side is
    broadcast; the corpus is scored in place (no corpus shuffle, see
    module docstring).
    """
    from etl_spark_gradle_spark.operators.dedup import _ensure_parallelism

    # norms are computed ONCE PER SIDE before the crossJoin (per
    # corpus row and per query row) instead of per PAIR — the pair
    # stage then evaluates a single dot product rather than dot + two
    # norms (3x fewer interpreted HOF evaluations on the q x c hot
    # path). Bit-identical: the same l2_norm expression runs on the
    # same values, just earlier, and the product/division close in the
    # same IEEE order as the old fused `cosine` expression.
    q = F.broadcast(
        queries.select(
            F.col(query_id).alias("query_id"),
            F.col(query_vec).alias("__qv"),
            l2_norm(F.col(query_vec)).alias("__qn"),
        )
    )
    c = _ensure_parallelism(corpus).select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("__cv"),
        l2_norm(F.col(corpus_vec)).alias("__cn"),
    )
    scored = q.crossJoin(c)
    if not include_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    denom = F.col("__qn") * F.col("__cn")
    scored = scored.select(
        "query_id",
        "neighbor_id",
        F.when(denom == 0, F.lit(0.0))
        .otherwise(dot(F.col("__qv"), F.col("__cv")) / denom)
        .alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def embedding_cosine_pairs_exact(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Exact embedding near-duplicate pairs: all (id_a < id_b) with
    cosine >= threshold.

    O(n²) broadcast nested loop — the CORRECTNESS baseline and the
    verifier for the LSH variant. At corpus scale run
    ``embedding_cosine_dups_lsh`` to generate candidates and this
    formula only on the candidate set.
    """
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2_norm(F.col(vec_col)).alias("__na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2_norm(F.col(vec_col)).alias("__nb"),
    )
    return (
        F.broadcast(a)
        .join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            _cosine_pre(
                F.col("va"), F.col("vb"), F.col("__na"), F.col("__nb")
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_cosine_dups_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    num_bits: int = 32,
    bands: int = 16,
    seed: int = 42,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Embedding near-dup pairs at scale: hyperplane-LSH self-bucketing.

    Same shuffle shape as MinHash-LSH dedup (``operators/dedup.py``):
    signature (narrow) → explode band hashes → ONE shuffle grouping on
    band hash → within-bucket pairs via a higher-order combination
    expression → exact cosine rescoring → threshold filter. Never
    all-pairs; bucket blow-up capped. High thresholds want many short
    bands (collision prob per band = (1 - θ/π)^r).
    """
    from etl_spark_gradle_spark.operators.dedup import _ensure_parallelism

    if num_bits % bands != 0:
        raise ValueError("num_bits must be divisible by bands")
    r = num_bits // bands
    planes = random_hyperplanes(dim, num_bits, seed)
    base = _ensure_parallelism(df).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )
    # per-row norm computed ONCE before banding; it rides the (band,
    # hash) shuffle as one extra double per exploded row (8 B against a
    # 512 B vector) so the within-bucket pair stage evaluates a single
    # dot product instead of dot + two norms per pair (_cosine_pre)
    sig = base.select(
        "id",
        "v",
        l2_norm(F.col("v")).alias("__n"),
        F.expr(srp_signature_sql("v", planes)).alias("__sig"),
    )
    banded = sig.select(
        "id",
        "v",
        "__n",
        F.explode(
            F.array(
                *[
                    F.xxhash64(F.lit(b), *[F.col("__sig")[b * r + i] for i in range(r)])
                    for b in range(bands)
                ]
            )
        ).alias("bh"),
    )
    bucketed = (
        banded.groupBy("bh")
        .agg(F.collect_list(F.struct("id", "v", "__n")).alias("members"))
        .filter((F.size("members") > 1) & (F.size("members") <= max_bucket_size))
    )
    combos = F.flatten(
        F.transform(
            F.col("members"),
            lambda x, i: F.transform(
                F.slice(F.col("members"), i + F.lit(2), F.size(F.col("members"))),
                lambda y: F.struct(
                    F.least(x["id"], y["id"]).alias("id_a"),
                    F.greatest(x["id"], y["id"]).alias("id_b"),
                    F.when(x["id"] < y["id"], x["v"]).otherwise(y["v"]).alias("va"),
                    F.when(x["id"] < y["id"], y["v"]).otherwise(x["v"]).alias("vb"),
                    F.when(x["id"] < y["id"], x["__n"]).otherwise(y["__n"]).alias("na"),
                    F.when(x["id"] < y["id"], y["__n"]).otherwise(x["__n"]).alias("nb"),
                ),
            ),
        )
    )
    return (
        bucketed.select(F.explode(combos).alias("p"))
        .select("p.*")
        .dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            _cosine_pre(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def train_ivf_centroids(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    num_cells: int = 16,
    iterations: int = 3,
) -> list[list[float]]:
    """Lloyd's k-means over cosine similarity for IVF cell centroids.

    Init = the same deterministic hash-ordered sample ``ivf_topk`` uses
    standalone; each iteration is (a) one broadcast-centroid scan
    assigning every vector to its best cell via ``max_by`` (no window,
    no shuffle of vectors), then (b) one partial-agged shuffle of
    ``(cell, dim_pos, value)`` triples to average per-dimension — cost
    per iteration ~ one groupBy over dims x rows scalars, linear and
    skew-free (cells are the grouping key). Only ``num_cells x dim``
    floats ever reach the driver (bounded, same class as the init
    sample). Empty cells keep their previous centroid. Returns plain
    Python lists — broadcastable as plan literals, persistable as JSON
    next to the index.
    """
    def unit(v: list[float]) -> list[float]:
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        return [x / n for x in v]

    c = corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
    sampled = c.orderBy(
        F.pmod(F.xxhash64(F.col("cid")), F.lit(997)), F.col("cid")
    ).limit(num_cells)
    # spherical k-means: centroids kept unit-length, so a plain dot
    # product against them IS the cosine ranking (|v| is constant per
    # row and cancels in the argmax)
    centroids = [unit(list(r["cv"])) for r in sampled.collect()]
    dot_scores = (
        "transform(__cents, ct -> aggregate(zip_with(cv, ct,"
        " (x, y) -> CAST(x AS DOUBLE) * y), 0D, (acc, v) -> acc + v))"
    )
    for _ in range(max(0, iterations)):
        # one F.expr parse instead of num_cells x dim F.lit py4j round
        # trips per iteration (~1.1k calls at 16x64 — the
        # ann_ivf_trained build whale, r13 profile); _dlit round-trips
        # to the identical doubles F.lit embedded
        cent_arr = F.expr(
            "array("
            + ", ".join(
                "array(" + ", ".join(_dlit(x) for x in cv) + ")"
                for cv in centroids
            )
            + ")"
        )
        best = c.withColumn("__cents", cent_arr).select(
            "cv",
            F.expr(
                f"CAST(array_position({dot_scores}, array_max({dot_scores})) AS INT) - 1"
            ).alias("cell"),
        )
        means = (
            best.select("cell", F.posexplode("cv").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cell", F.col("pm.m").alias("mv"))
            .collect()
        )
        updated = {int(r["cell"]): unit([float(x) for x in r["mv"]]) for r in means}
        centroids = [updated.get(i, centroids[i]) for i in range(len(centroids))]
    return centroids


def build_ivf_index(
    corpus: DataFrame,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    num_cells: int = 16,
    train_iterations: int = 0,
) -> tuple[DataFrame, list[list[float]]]:
    """Materializable IVF index: ``(assignments, centroids)`` where
    assignments is a lazy ``(cid, cell, cv)`` DataFrame and centroids
    are plain float lists (JSON-persistable beside the index).

    THE point at scale: persist the assignments parquet PARTITIONED BY
    ``cell`` and every later query batch probes only its nprobe cell
    partitions via partition pruning — the corpus is assigned ONCE, not
    once per search, and the scan cost per search drops to
    nprobe/num_cells of the corpus. Pair with the embedding int8
    quantizer for another 4x on index bytes.
    """
    from etl_spark_gradle_spark.operators.dedup import _ensure_parallelism

    corpus = _ensure_parallelism(corpus)
    c = corpus.select(F.col(corpus_id).alias("cid"), F.col(corpus_vec).alias("cv"))
    if train_iterations > 0:
        cents = train_ivf_centroids(
            corpus, corpus_vec, corpus_id, num_cells=num_cells,
            iterations=train_iterations,
        )
    else:
        sampled = c.orderBy(
            F.pmod(F.xxhash64(F.col("cid")), F.lit(997)), F.col("cid")
        ).limit(num_cells)
        cents = [list(r["cv"]) for r in sampled.collect()]
    cent_df = _centroid_frame(corpus, c.schema["cv"].dataType, cents)
    assignments = _nearest_cells(cent_df, c, "cv", "cid", 1).select(
        "cid", "cell", "cv"
    )
    return assignments, cents


def ivf_search(
    assignments: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    nprobe: int = 4,
    include_self: bool = False,
) -> DataFrame:
    """Search a prebuilt (possibly parquet-round-tripped) IVF index:
    score each query against its ``nprobe`` nearest cells only. With
    the index partitioned by ``cell`` the probe is a partition-pruned
    scan; the only moving data is the (tiny) probed-query broadcast.
    Results are identical to ``ivf_topk`` at the same centroids
    (equality-tested through a parquet round trip)."""
    vec_type = assignments.schema["cv"].dataType
    cent_df = _centroid_frame(assignments, vec_type, centroids)
    probed = _nearest_cells(
        cent_df,
        queries.select(F.col(query_id).alias("qid"), F.col(query_vec).alias("qv")),
        "qv",
        "qid",
        nprobe,
    )
    # norms once per probed-query row / per index row, not per scored
    # pair (_cosine_pre — bit-identical, one HOF eval per candidate)
    probed = probed.withColumn("__qn", l2_norm(F.col("qv")))
    indexed = assignments.withColumn("__cn", l2_norm(F.col("cv")))
    cand = F.broadcast(probed).join(indexed, "cell")
    if not include_self:
        cand = cand.filter(F.col("qid") != F.col("cid"))
    scored = cand.select(
        F.col("qid").alias("query_id"),
        F.col("cid").alias("neighbor_id"),
        _cosine_pre(
            F.col("qv"), F.col("cv"), F.col("__qn"), F.col("__cn")
        ).alias("cos_sim"),
    )
    from pyspark.sql import Window

    wfin = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wfin))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _centroid_frame(session_src: DataFrame, vec_type, cents: list[list[float]]) -> DataFrame:
    from pyspark.sql.types import IntegerType, StructField, StructType

    return session_src.sparkSession.createDataFrame(
        [(i, cv) for i, cv in enumerate(cents)],
        StructType(
            [StructField("cell", IntegerType()), StructField("centroid", vec_type)]
        ),
    )


def _nearest_cells(cent_df: DataFrame, vec_frame: DataFrame, vcol: str, idcol: str, n: int) -> DataFrame:
    from pyspark.sql import Window

    # per-row / per-centroid norms instead of per (row x cell) pair
    scored = (
        vec_frame.withColumn("__vn", l2_norm(F.col(vcol)))
        .crossJoin(
            F.broadcast(cent_df.withColumn("__cen", l2_norm(F.col("centroid"))))
        )
        .select(
            idcol,
            vcol,
            "cell",
            _cosine_pre(
                F.col(vcol), F.col("centroid"), F.col("__vn"), F.col("__cen")
            ).alias("__cs"),
        )
    )
    ww = Window.partitionBy(idcol).orderBy(F.col("__cs").desc(), F.col("cell"))
    return (
        scored.withColumn("__r", F.row_number().over(ww))
        .filter(F.col("__r") <= n)
        .select(idcol, vcol, "cell")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    num_cells: int = 16,
    nprobe: int = 4,
    include_self: bool = False,
    train_iterations: int = 0,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus into
    ``num_cells`` Voronoi cells around centroid vectors; each query
    scans only its ``nprobe`` nearest cells.

    Centroid selection here is a deterministic hash-ordered sample
    (``orderBy(xxhash64(id)).limit(num_cells)`` plans as
    TakeOrderedAndProject: per-partition top-k, driver merge of
    num_cells rows — no count, no global sort, no full-corpus window).
    At production scale train real centroids with sampled k-means and
    broadcast them; the assignment / probe / rescore dataflow (the part
    that matters for shuffle shape) is identical. Corpus assignment is a
    narrow argmin over broadcast centroids; the probe join shuffles only
    cell ids; rescoring is exact cosine within probed cells. Search cost
    ~ nprobe/num_cells of brute force.
    """
    assignments, cents = build_ivf_index(
        corpus,
        corpus_id=corpus_id,
        corpus_vec=corpus_vec,
        num_cells=num_cells,
        train_iterations=train_iterations,
    )
    return ivf_search(
        assignments,
        cents,
        queries,
        k=k,
        query_id=query_id,
        query_vec=query_vec,
        nprobe=nprobe,
        include_self=include_self,
    )


def topk_recall(
    candidates: DataFrame,
    truth: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
    k: int | None = None,
    rank_col: str = "rank",
) -> DataFrame:
    """Retrieval-quality evaluation: per-query recall@k of a CANDIDATE
    top-k table against a ground-truth top-k table — the metric that
    closes the ANN loop (how much exact top-k does the
    LSH/IVF/quantized path actually return?). Both inputs are
    ``(query, neighbor[, rank])`` relations, exactly the shape
    :func:`brute_force_topk` / :func:`ivf_topk` /
    :func:`lsh_bucketed_topk` emit.

    ``k`` truncates BOTH sides to ``rank <= k`` first (when a
    ``rank_col`` is present); pass ``k=None`` to compare the tables as
    given. Output per query: ``n_truth``, ``n_candidates``, ``hits``
    (|intersection|), ``recall = hits / n_truth`` (double, one
    fixed-order division; NULL when the query has no truth rows).
    Queries appearing on either side appear in the output
    (full-outer on the query key), so silent candidate drop-outs are
    visible rather than averaged away.

    Plan at 100 TB of result pairs: one (query, neighbor)-keyed
    LEFT SEMI join finds hits, then three map-side-combined counts
    keyed on the query — no raw re-shuffle, no python, and the
    intersection never materializes wider than the hit count."""
    for side, df in (("candidates", candidates), ("truth", truth)):
        for c in (query_col, neighbor_col):
            if c not in df.columns:
                raise ValueError(
                    f"topk_recall: column '{c}' not in {side} schema"
                )
    cand = candidates.select(
        F.col(query_col).alias("q"), F.col(neighbor_col).alias("nb"),
        *([F.col(rank_col).alias("_r")] if rank_col in candidates.columns else []),
    )
    tru = truth.select(
        F.col(query_col).alias("q"), F.col(neighbor_col).alias("nb"),
        *([F.col(rank_col).alias("_r")] if rank_col in truth.columns else []),
    )
    if k is not None:
        if "_r" in cand.columns:
            cand = cand.where(F.col("_r") <= int(k))
        if "_r" in tru.columns:
            tru = tru.where(F.col("_r") <= int(k))
    cand = cand.select("q", "nb")
    tru = tru.select("q", "nb")
    hits = (
        tru.join(cand, ["q", "nb"], "left_semi")
        .groupBy("q")
        .agg(F.count(F.lit(1)).cast("long").alias("hits"))
    )
    n_t = tru.groupBy("q").agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    n_c = cand.groupBy("q").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    out = (
        n_t.join(n_c, "q", "full_outer")
        .join(hits, "q", "left")
        .select(
            F.col("q").alias(query_col),
            F.coalesce("n_truth", F.lit(0)).cast("long").alias("n_truth"),
            F.coalesce("n_candidates", F.lit(0))
            .cast("long")
            .alias("n_candidates"),
            F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
        )
    )
    return out.withColumn(
        "recall",
        F.when(
            F.col("n_truth") > 0,
            F.col("hits").cast("double") / F.col("n_truth").cast("double"),
        ),
    )


def random_hyperplanes(dim: int, num_bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic unit hyperplanes for sign-random-projection LSH.

    Gaussian components from a seeded PRNG (Box-Muller via
    ``random.Random.gauss``), normalized; fully reproducible across
    runs/workers because the planes ship as plan literals.
    """
    rng = random.Random(seed)
    planes: list[list[float]] = []
    for _ in range(num_bits):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def srp_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-random-projection bit array: bit_i = 1 if dot(v, plane_i)>=0.
    Pure Catalyst — the planes are array literals folded into the plan."""
    bits = [
        F.when(dot(vec, F.array(*[F.lit(x) for x in plane])) >= 0, F.lit(1)).otherwise(
            F.lit(0)
        )
        for plane in planes
    ]
    return F.array(*bits)


def _dlit(x: float) -> str:
    """Shortest-round-trip double literal for SQL text: repr(x) parses
    back (Double.parseDouble is correctly rounded) to the identical
    IEEE double that ``F.lit(x)`` embeds. inf/nan have no literal
    syntax, so they are spelled as string casts."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return repr(x) + "D"


def srp_signature_sql(vec_col: str, planes: list[list[float]]) -> str:
    """SQL-text twin of :func:`srp_signature`: same expressions in the
    same order (zip_with casts, 0.0 seed, left-fold accumulation, the
    ``>= 0`` sign test), rendered as ONE string for a single ``F.expr``
    parse. Built per-Column, a 32-bit signature over dim-64 planes
    costs ~4.5k py4j round trips per call site (~3.5 s of ann_lsh's
    sweep build, r13 profile); parsed as text it is one round trip.
    ``vec_col`` is a column name, not SQL: it is backtick-quoted (an
    embedded backtick doubled), so names with spaces, hyphens or
    reserved words parse."""
    vec = "`" + vec_col.replace("`", "``") + "`"
    bits = []
    for plane in planes:
        arr = "array(" + ", ".join(_dlit(x) for x in plane) + ")"
        d = (
            f"aggregate(zip_with({vec}, {arr}, "
            f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            f"0.0D, (acc, v) -> acc + v)"
        )
        bits.append(f"(CASE WHEN {d} >= 0 THEN 1 ELSE 0 END)")
    return "array(" + ", ".join(bits) + ")"


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    dim: int = 64,
    num_bits: int = 32,
    bands: int = 8,
    seed: int = 42,
    include_self: bool = False,
) -> DataFrame:
    """Approximate cosine top-k via banded hyperplane-LSH buckets.

    Signature: ``num_bits`` sign bits split into ``bands`` bands of
    ``num_bits // bands`` bits; a corpus vector is a candidate for a
    query iff they share at least one full band. Candidates are then
    re-scored with exact cosine and ranked. The only shuffle carries
    (id, band, band-hash) — never vectors-against-vectors all-pairs.

    Probability a pair with cosine angle θ shares a band:
    ``1 - (1 - (1 - θ/π)^r)^b`` with r bits/band, b bands — tune
    ``num_bits``/``bands`` for the recall target; verify recall against
    ``brute_force_topk`` on a sample.
    """
    from etl_spark_gradle_spark.operators.dedup import _ensure_parallelism

    if num_bits % bands != 0:
        raise ValueError("num_bits must be divisible by bands")
    r = num_bits // bands
    planes = random_hyperplanes(dim, num_bits, seed)
    corpus = _ensure_parallelism(corpus)

    def banded(
        df: DataFrame, id_alias: str, vec_col: str, vec_alias: str, norm_alias: str
    ) -> DataFrame:
        # norm once per input row, before the band explode (_cosine_pre)
        sig = F.expr(srp_signature_sql(vec_col, planes))
        out = df.select(
            F.col(id_alias).alias("__id"),
            F.col(vec_col).alias(vec_alias),
            l2_norm(F.col(vec_col)).alias(norm_alias),
            sig.alias("__sig"),
        )
        return out.select(
            "__id",
            vec_alias,
            norm_alias,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.xxhash64(
                                F.lit(b), *[F.col("__sig")[b * r + i] for i in range(r)]
                            ).alias("bh"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("__band"),
        ).select(
            "__id",
            vec_alias,
            norm_alias,
            F.col("__band.band").alias("band"),
            F.col("__band.bh").alias("bh"),
        )

    qb = banded(
        queries.select(F.col(query_id).alias("qid"), F.col(query_vec).alias("qv")),
        "qid",
        "qv",
        "__qv",
        "__qn",
    ).withColumnRenamed("__id", "query_id")
    cb = banded(
        corpus.select(F.col(corpus_id).alias("cid"), F.col(corpus_vec).alias("cv")),
        "cid",
        "cv",
        "__cv",
        "__cn",
    ).withColumnRenamed("__id", "neighbor_id")

    cand = (
        F.broadcast(qb)
        .join(cb, ["band", "bh"])
        .select("query_id", "neighbor_id", "__qv", "__cv", "__qn", "__cn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    if not include_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select(
        "query_id",
        "neighbor_id",
        _cosine_pre(
            F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# ---------------------------------------------------------------------------
# Embedding post-processing: normalization + integer quantization
# ---------------------------------------------------------------------------


def l2_normalize(vec: Column) -> Column:
    """Unit-normalize a float vector (zero vectors pass through as-is —
    dividing by zero would poison downstream dot products with NaN).
    Pure higher-order expression: rides the scan, zero shuffles."""
    norm = l2_norm(vec)
    return F.when(norm == 0.0, vec).otherwise(
        F.transform(vec, lambda x: (x / norm).cast("float"))
    )


def with_normalized_embeddings(
    df: DataFrame, vec_col: str = "embedding", out_col: str | None = None
) -> DataFrame:
    """Annotate with the unit-normalized vector (cosine reduces to a dot
    product downstream — brute_force_topk/IVF then skip the per-pair
    norm). Narrow projection; at 100 TB this is a scan-time rewrite."""
    return df.withColumn(out_col or vec_col, l2_normalize(F.col(vec_col)))


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "q_embedding",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric int8 quantization with a per-vector scale (max-abs →
    [-127, 127]) — the standard 4x storage/bandwidth cut for
    billion-vector ANN corpora; recall loss is negligible for cosine
    search when vectors are near-unit-norm.

    Emits ``out_col`` (array<tinyint>) + ``scale_col`` (float;
    ``max_abs/127``, 0.0 for all-zero vectors). Dequantize:
    ``q * scale``. Pure expressions, no shuffle, exact integer outputs —
    which is what makes the op cross-engine verifiable."""
    v = F.col(vec_col)
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = (max_abs / F.lit(127.0)).cast("double")
    q = F.when(max_abs == 0.0, F.transform(v, lambda x: x.cast("tinyint"))).otherwise(
        F.transform(v, lambda x: F.round(x / scale).cast("tinyint"))
    )
    return df.withColumn(out_col, q).withColumn(
        scale_col, scale.cast("float")
    )


def dequantize_embeddings(
    df: DataFrame,
    q_col: str = "q_embedding",
    scale_col: str = "q_scale",
    out_col: str = "embedding",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings` (lossy: values return on
    the 254-step grid)."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(q_col), lambda x: (x.cast("double") * F.col(scale_col)).cast("float")
        ),
    )


def pca_fit(
    df: DataFrame,
    vec_col: str,
    k: int,
    center: bool = True,
):
    """Fit a PCA basis over an embedding column — the classic
    dimensionality-reduction / whitening step of embedding pipelines
    (SemDeDup-style clustering, ANN index build, drift monitoring all
    get cheaper and often better-conditioned in the top-k subspace).

    Spark-first at 100 TB: PCA of N×d needs only the d×d Gram matrix
    and the d-vector column sums — ONE ``mapInPandas`` pass
    accumulates per-partition ``XᵀX``/``Σx``/``n`` with numpy (d² + d
    doubles per PARTITION, not per row — the RowMatrix
    ``computeGramian`` shape), a single tiny aggregation merges the
    ≤P partial rows, and the d×d eigendecomposition runs on the
    driver (``numpy.linalg.eigh`` — d is model-sized, never
    data-sized). No d²-per-row explode, no data-sized shuffle.

    DETERMINISM: the merged Gram is a float sum over ≤P partition
    partials (partition-order fixed by sorting the partials by
    partition id before the driver-side reduce); eigenvectors have a
    sign ambiguity resolved by the standard convention (largest-
    absolute component made positive). Exact cross-engine replay is
    NOT claimed — eigendecomposition is not SQL-expressible, so this
    family is pytest-gated against numpy (the documented weaker gate
    for genuinely non-relational closings).

    Returns ``(components, eigenvalues, mean, n)``: components a
    k×d list of lists (rows = principal axes, descending
    eigenvalue), eigenvalues length-k, mean the d-vector used for
    centering (zeros when ``center=False``)."""
    import numpy as np

    from etl_spark_gradle_spark.operators.relational import (
        TransformationError,
    )

    if vec_col not in df.columns:
        raise TransformationError(f"pca_fit: column not in schema: {vec_col}")
    if int(k) < 1:
        raise TransformationError("pca_fit requires k >= 1")

    src = df.select(vec_col).where(F.col(vec_col).isNotNull())

    def partials(batches):
        import numpy as np
        import pandas as pd

        gram = None
        sums = None
        n = 0
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.asarray(pdf[vec_col].tolist(), dtype="float64")
            if gram is None:
                d = x.shape[1]
                gram = np.zeros((d, d))
                sums = np.zeros(d)
            gram += x.T @ x
            sums += x.sum(axis=0)
            n += x.shape[0]
        if n:
            yield pd.DataFrame(
                {
                    "n": [n],
                    "s": [sums.tolist()],
                    "g": [gram.reshape(-1).tolist()],
                }
            )

    rows = src.mapInPandas(
        partials, "n long, s array<double>, g array<double>"
    ).collect()
    if not rows:
        raise TransformationError("pca_fit: no non-null vectors")
    rows = sorted(rows, key=lambda r: (r["n"], tuple(r["s"])))
    n = sum(r["n"] for r in rows)
    d = len(rows[0]["s"])
    if int(k) > d:
        raise TransformationError(f"pca_fit: k={k} exceeds dim={d}")
    sums = np.zeros(d)
    gram = np.zeros((d, d))
    for r in rows:  # fixed merge order — deterministic float sum
        sums += np.asarray(r["s"])
        gram += np.asarray(r["g"]).reshape(d, d)
    mean = sums / n if center else np.zeros(d)
    denom = max(n - 1, 1)
    cov = (gram - n * np.outer(mean, mean)) / denom
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][: int(k)]
    comps = evecs[:, order].T  # k x d
    # sign convention: largest-|component| coordinate positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return (
        [row.tolist() for row in comps],
        [float(evals[j]) for j in order],
        mean.tolist(),
        int(n),
    )


def pca_project(
    df: DataFrame,
    vec_col: str,
    components: list[list[float]],
    mean: list[float] | None = None,
    eigenvalues: list[float] | None = None,
    whiten: bool = False,
    output_col: str = "pca",
) -> DataFrame:
    """Project an embedding column onto a fitted PCA basis — pure
    Catalyst expressions, no python in the row path: each output
    coordinate is ``dot(x, v_i) − dot(mean, v_i)`` with the
    mean-side dot PRE-FOLDED into a literal on the driver, so the
    per-row work is k array dot products (``zip_with`` +
    ``aggregate``) riding the scan. ``whiten=True`` divides each
    coordinate by √eigenvalue (unit-variance components; requires
    ``eigenvalues``). Scales embarrassingly — zero shuffles."""
    from etl_spark_gradle_spark.operators.relational import (
        TransformationError,
    )

    if vec_col not in df.columns:
        raise TransformationError(
            f"pca_project: column not in schema: {vec_col}"
        )
    if whiten and not eigenvalues:
        raise TransformationError("pca_project: whiten requires eigenvalues")
    d = len(components[0])
    mean = mean or [0.0] * d

    def dot_lit(vec: Column, lits: list[float]) -> Column:
        arr = F.array(*[F.lit(float(v)) for v in lits])
        return F.aggregate(
            F.zip_with(vec, arr, lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    coords = []
    for i, comp in enumerate(components):
        # driver-side fold of the mean offset, one literal per axis
        off = 0.0
        for m, v in zip(mean, comp):
            off += m * v
        c = dot_lit(F.col(vec_col), comp) - F.lit(off)
        if whiten:
            ev = float(eigenvalues[i])
            if ev <= 0:
                raise TransformationError(
                    "pca_project: whiten needs positive eigenvalues"
                )
            c = c / F.lit(ev**0.5)
        coords.append(c)
    return df.withColumn(output_col, F.array(*coords))
