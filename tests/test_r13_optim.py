"""Round-13 optimization regression tests.

Locks the behavior of the round's structural changes:

1. kmeans ragged-row overflow-guard semantics (VERDICT r12 "what's
   wrong" #3 / ask #7): the fused probe restricts the guard's max
   magnitude to the KEPT dimension — a ragged row holding the global
   max must not trip the refusal path, because ragged rows are dropped
   before any distance computation.
2. kmeans in-plan Lloyd fold (ask #3): the single-plan iteration chain
   must produce exactly the centroids/assignments of the old
   per-iteration driver loop — locked against an independent pure-
   Python Lloyd replay with the same exact-integer arithmetic.
3. build_cms pre_aggregate (ask #1): cell-for-cell identical sketches.
4. edit_distance_join one-parse rewrite: losslessness already holds
   via tests/test_strings.py's quadratic-oracle property test; here we
   lock the plan posture (single scan pair, index side broadcast).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_spark_gradle_spark.operators.relational import TransformationError


def test_kmeans_ragged_row_holding_max_does_not_trip_guard(spark):
    from etl_spark_gradle_spark.operators.clustering import kmeans

    # dim is inferred from the first row (id order): 64. The ragged
    # 8-dim row carries |x|=500, which WOULD overflow at scale_bits=20
    # if counted (64*(2*500*2^20)^2 > 2^63) — but it is dropped before
    # any distance computation, so the run must proceed without it.
    rows = [(0, [1.0] * 64), (1, [2.0] * 64), (2, [3.0] * 64)]
    rows.append((3, [500.0] * 8))  # ragged AND the global max
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    out = kmeans(df, "id", "vec", k=2, iterations=1, scale_bits=20)
    got = {r["id"] for r in out.collect()}
    assert got == {0, 1, 2}  # ragged row dropped, no TransformationError

    # a same-dimension row with that magnitude still trips the guard
    rows64 = rows[:3] + [(3, [500.0] * 64)]
    df64 = spark.createDataFrame(rows64, "id long, vec array<double>")
    with pytest.raises(TransformationError, match="scale_bits"):
        kmeans(df64, "id", "vec", k=2, iterations=1, scale_bits=20)


def _py_lloyd(points: dict, k: int, iterations: int, scale_bits: int):
    """Independent driver-side Lloyd replay: quantize, first-k seeds,
    exact integer floor-division centroid updates, argmin with
    first-position tie-break — the pre-r13 semantics."""
    import math

    scale = 2 ** scale_bits
    q = {
        i: [math.floor(x * scale) for x in v]
        for i, v in sorted(points.items())
    }
    ids = sorted(q)
    cents = [list(q[i]) for i in ids[:k]]

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    for _ in range(iterations):
        assign = {}
        for i in ids:
            ds = [d2(q[i], c) for c in cents]
            assign[i] = ds.index(min(ds))  # first min = array_position
        new = [list(c) for c in cents]  # empty cluster keeps old
        for j in range(k):
            members = [q[i] for i in ids if assign[i] == j]
            if members:
                dim = len(members[0])
                new[j] = [
                    sum(m[t] for m in members) // len(members)
                    for t in range(dim)
                ]
        cents = new
    final = {}
    for i in ids:
        ds = [d2(q[i], c) for c in cents]
        final[i] = (ds.index(min(ds)), min(ds))
    return final


def test_kmeans_in_plan_fold_matches_driver_loop_replay(spark):
    from etl_spark_gradle_spark.operators.clustering import kmeans

    # deterministic ugly data: duplicate points, a far outlier cluster,
    # negative components, enough iterations to churn the centroids
    pts = {}
    for i in range(30):
        base = [-2.5 + (i % 5), 0.25 * (i % 7), float(i % 3)]
        pts[i] = base
    for i in range(30, 36):
        pts[i] = [50.0 + i, -40.0, 8.0]
    df = spark.createDataFrame(
        [(i, v) for i, v in pts.items()], "id long, vec array<double>"
    )
    got = {
        r["id"]: (r["cluster"], r["dist_int"])
        for r in kmeans(df, "id", "vec", k=4, iterations=5,
                        scale_bits=12).collect()
    }
    want = _py_lloyd(pts, k=4, iterations=5, scale_bits=12)
    assert got == want


def test_kmeans_iterations_over_chunk_boundary(spark):
    """iterations > _LLOYD_CHUNK exercises the mid-chain driver
    materialization; values must be unchanged vs the replay."""
    from etl_spark_gradle_spark.operators import clustering

    pts = {i: [float((i * 7) % 11), float((i * 3) % 5)] for i in range(20)}
    df = spark.createDataFrame(
        [(i, v) for i, v in pts.items()], "id long, vec array<double>"
    )
    iters = clustering._LLOYD_CHUNK + 2
    got = {
        r["id"]: (r["cluster"], r["dist_int"])
        for r in clustering.kmeans(df, "id", "vec", k=3,
                                   iterations=iters, scale_bits=10).collect()
    }
    want = _py_lloyd(pts, k=3, iterations=iters, scale_bits=10)
    assert got == want


def test_kmeans_empty_cluster_keeps_old_centroid(spark):
    from etl_spark_gradle_spark.operators.clustering import kmeans

    # k=3 over two tight blobs: first-k seeding puts seeds 0,1,2 in
    # blob A; after one iteration at least one cluster goes empty and
    # must keep its previous centroid (the coalesce fallback in-plan)
    pts = {0: [0.0], 1: [0.1], 2: [0.2], 3: [100.0], 4: [100.1]}
    df = spark.createDataFrame(
        [(i, v) for i, v in pts.items()], "id long, vec array<double>"
    )
    got = {
        r["id"]: (r["cluster"], r["dist_int"])
        for r in kmeans(df, "id", "vec", k=3, iterations=3,
                        scale_bits=8).collect()
    }
    want = _py_lloyd(pts, k=3, iterations=3, scale_bits=8)
    assert got == want


def test_kmeans_build_job_count_independent_of_iterations(spark):
    """The fold's point: at iterations <= _LLOYD_CHUNK the Lloyd chain
    rides the caller's action, so construction runs ONLY the fixed
    probe job(s) — the build job count must not grow with the
    iteration count (the r12 shape launched one job per iteration)."""
    from etl_spark_gradle_spark.operators.clustering import kmeans

    df = spark.createDataFrame(
        [(i, [float(i), float(i % 4)]) for i in range(50)],
        "id long, vec array<double>",
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def build_jobs(iterations: int, tag: str) -> int:
        sc.setJobGroup(tag, "build-only probe count")
        try:
            kmeans(df, "id", "vec", k=3, iterations=iterations,
                   scale_bits=10)
            return len(tracker.getJobIdsForGroup(tag) or [])
        finally:
            sc.setJobGroup(None, None)

    one = build_jobs(1, "r13-kmeans-build-1")
    three = build_jobs(3, "r13-kmeans-build-3")
    assert three == one, (
        f"build launched {three} jobs at iterations=3 vs {one} at "
        f"iterations=1 — per-iteration driver jobs are back"
    )


def test_build_cms_pre_aggregate_cells_identical(spark):
    from etl_spark_gradle_spark.operators.sketch import build_cms

    df = spark.createDataFrame(
        [(i % 17,) for i in range(400)] + [(None,)],
        "k int",
    )
    base = {
        (r["d"], r["w"]): r["cnt"]
        for r in build_cms(df, "k", depth=4, width=32,
                           hash_fn="md5").collect()
    }
    pre = {
        (r["d"], r["w"]): r["cnt"]
        for r in build_cms(df, "k", depth=4, width=32, hash_fn="md5",
                           pre_aggregate=True).collect()
    }
    assert base == pre
    # grouped variant too
    gdf = spark.createDataFrame(
        [(i % 3, i % 11) for i in range(300)], "g int, k int"
    )
    base_g = {
        (r["g"], r["d"], r["w"]): r["cnt"]
        for r in build_cms(gdf, "k", depth=2, width=16, group_by=["g"],
                           hash_fn="xxhash64").collect()
    }
    pre_g = {
        (r["g"], r["d"], r["w"]): r["cnt"]
        for r in build_cms(gdf, "k", depth=2, width=16, group_by=["g"],
                           hash_fn="xxhash64", pre_aggregate=True).collect()
    }
    assert base_g == pre_g


def test_build_cms_pre_aggregate_rejects_weight_col(spark):
    from etl_spark_gradle_spark.operators.sketch import build_cms

    df = spark.createDataFrame([(1, 0.5)], "k int, w double")
    with pytest.raises(TransformationError, match="pre_aggregate"):
        build_cms(df, "k", depth=2, width=16, weight_col="w",
                  pre_aggregate=True)


def test_edit_join_plan_single_index_scan_and_broadcast(spark):
    from etl_spark_gradle_spark.operators.strings import edit_distance_join

    # a VALUES relation carries a size estimate; an RDD-backed frame
    # (createDataFrame) has none, and the index side of a frame of unknown
    # size is not broadcast
    df = spark.sql(
        "SELECT * FROM VALUES ('kettle'), ('kettles'), ('cat'), (''), ('ab') AS t(s)"
    )
    out = edit_distance_join(df, "s", max_distance=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # index union replaced by the conditional-array explode: the whole
    # query now plans exactly 2 in-memory scans (probe src + index src)
    assert "Union" not in plan
    assert "BroadcastHashJoin" in plan
    # results still correct on the toy corpus
    got = {(r.s_a, r.s_b): r.edit_distance for r in out.collect()}
    assert got[("kettle", "kettles")] == 1
    assert ("cat", "kettle") not in got


def test_lazy_registry_full_iteration_and_tombstones():
    """ADVICE r12 (low): keys()/len()/iteration must cover the full
    spec-backed key space, and del/pop must stick instead of being
    resurrected by __missing__."""
    from etl_spark_gradle_spark import operators as ops

    reg = ops._LazyTransformerRegistry()
    assert len(reg) == len(ops._TRANSFORMER_SPECS)
    assert set(reg.keys()) == set(ops._TRANSFORMER_SPECS)
    assert "kmeans" in reg and "filter" in list(reg)
    # deletion of a spec-backed, never-materialized key sticks
    del reg["kmeans"]
    assert "kmeans" not in reg
    with pytest.raises(KeyError):
        reg["kmeans"]
    assert "kmeans" not in reg.keys()
    assert len(reg) == len(ops._TRANSFORMER_SPECS) - 1
    # re-registration clears the tombstone...
    sentinel = object()
    reg["kmeans"] = sentinel
    assert reg["kmeans"] is sentinel
    # ...and popping a USER OVERRIDE restores the spec default (the
    # r12 register/unregister round-trip contract)
    t = reg.pop("kmeans")
    assert t is sentinel
    assert "kmeans" in reg
    assert type(reg["kmeans"]).__name__ == "KMeansTransformer"
    # deleting the SPEC-MADE instance unregisters the built-in for good
    del reg["kmeans"]
    assert "kmeans" not in reg
    assert reg.pop("kmeans", "dflt") == "dflt"
    # items() materializes lazily and matches keys()
    reg2 = ops._LazyTransformerRegistry()
    del reg2["pagerank"]
    items = dict(reg2.items())
    assert set(items) == set(reg2.keys())
    assert "pagerank" not in items
    # the shared registry is untouched by the scratch instances above
    assert "kmeans" in ops.TRANSFORMER_REGISTRY


def test_operators_star_import_binds_lazy_exports():
    """ADVICE r12 (low): `import *` must bind every lazy export."""
    import subprocess
    import sys

    code = (
        "from etl_spark_gradle_spark import operators as ops\n"
        "want = set(ops._EXPORTS)\n"
        "ns = {}\n"
        "exec('from etl_spark_gradle_spark.operators import *', ns)\n"
        "missing = want - set(ns)\n"
        "assert not missing, f'star-import missing: {sorted(missing)[:5]}'\n"
        "assert callable(ns['kmeans'])\n"
        "print('star-import ok')\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr
    assert "star-import ok" in out.stdout


def test_pin_bounded_threshold_paths(spark, sf_dir):
    """VERDICT r12 ask #5: below the size estimate threshold the pin
    stays a localCheckpoint (LogicalRDD scan — the r12 plan posture);
    above it the relation persists MEMORY_AND_DISK so lineage is kept
    (InMemoryRelation in the plan, survives executor loss)."""
    from etl_spark_gradle_spark.operators.relational import pin_bounded

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    small = pin_bounded(li)  # default 256 MiB threshold: pin
    splan = small._jdf.queryExecution().optimizedPlan().toString()
    assert "ExistingRDD" in splan or "LogicalRDD" in splan
    assert "InMemoryRelation" not in splan

    big = pin_bounded(li, max_bytes=1)  # force the persist path
    assert big.storageLevel.useMemory and big.storageLevel.useDisk
    assert not small.storageLevel.useDisk or small.storageLevel.useMemory
    # a consumer plan reads the cache (lineage kept, subtree collapsed)
    bplan = big.groupBy("l_orderkey").count()._jdf.queryExecution() \
        .executedPlan().toString()
    assert "InMemoryTableScan" in bplan
    # values identical either way
    assert small.count() == big.count() == li.count()
    big.unpersist()


def test_pin_bounded_persists_when_estimate_fails(spark):
    """An unestimable relation is of unknown size: it keeps its lineage
    (persist MEMORY_AND_DISK) instead of a lineage-cutting
    localCheckpoint."""
    from etl_spark_gradle_spark.operators.relational import pin_bounded

    class NoEstimate:
        def __init__(self, jdf):
            self._jdf = jdf

        def queryExecution(self):
            raise RuntimeError("no size estimate")

        def __getattr__(self, name):
            return getattr(self._jdf, name)

    df = spark.range(10)
    df._jdf = NoEstimate(df._jdf)
    out = pin_bounded(df)
    try:
        assert out.storageLevel.useMemory and out.storageLevel.useDisk
        assert out.count() == 10
    finally:
        out.unpersist()


def test_triangle_count_unchanged_after_size_aware_pins(spark):
    from etl_spark_gradle_spark.operators.graph import triangle_count

    # K4 plus a pendant edge: 4 triangles, each K4 vertex in 3
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "s long, d long")
    got = {r["vertex"]: r["triangles"]
           for r in triangle_count(df, "s", "d").collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    g = triangle_count(df, "s", "d", per_vertex=False).collect()[0]
    assert g["triangles"] == 4


def test_srp_signature_sql_bit_identical(spark):
    """The one-parse SQL signature must reproduce the Column-built
    signature bit-for-bit (same doubles, same fold order)."""
    from etl_spark_gradle_spark.operators import similarity as sim

    planes = sim.random_hyperplanes(dim=8, num_bits=16, seed=42)
    rows = [
        (i, [((i * 7 + j * 13) % 11) - 5.25 for j in range(8)])
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    both = df.select(
        "id",
        sim.srp_signature(F.col("v"), planes).alias("a"),
        F.expr(sim.srp_signature_sql("v", planes)).alias("b"),
    ).collect()
    for r in both:
        assert list(r["a"]) == list(r["b"]), r["id"]



def test_srp_signature_sql_quotes_column_and_spells_non_finite(spark):
    """A vector column whose name needs quoting and non-finite plane
    values both parse, and the bits still match the Column build."""
    from etl_spark_gradle_spark.operators import similarity as sim

    planes = [
        [1.0, -2.5, 0.25],
        [float("inf"), 0.0, 1.0],
        [float("-inf"), 1.0, 0.0],
        [float("nan"), 1.0, 1.0],
    ]
    df = spark.createDataFrame(
        [(i, [i - 2.0, 1.5 - i, 0.5]) for i in range(5)],
        "id long, `emb vec` array<double>",
    )
    both = df.select(
        "id",
        sim.srp_signature(F.col("emb vec"), planes).alias("a"),
        F.expr(sim.srp_signature_sql("emb vec", planes)).alias("b"),
    ).collect()
    assert len(both) == 5
    for r in both:
        assert list(r["a"]) == list(r["b"]), r["id"]
    tick = df.withColumnRenamed("emb vec", "a`b")
    assert tick.select(F.expr(sim.srp_signature_sql("a`b", planes))).count() == 5
