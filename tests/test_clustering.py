"""Fixed-point k-means (operators/clustering.py): exact equality with
a pure-python integer reference, partitioning independence, ties,
empty-cluster retention, SemDeDup representatives, adapter."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest

from etl_spark_gradle_spark.operators.clustering import (
    kmeans,
    semantic_representatives,
)
from etl_spark_gradle_spark.operators.relational import TransformationError


def py_kmeans(rows, k=3, iterations=3, scale_bits=20, f32=True):
    """Pure-python replica of the integer iteration.

    rows: list of (id, [float, ...]); returns {id: (cluster, dist)}.
    ``f32`` mirrors storage as array<float> (the embeddings-table
    case): components pass through float32 before quantization.
    """
    scale = float(2 ** scale_bits)
    narrow = (lambda x: float(np.float32(x))) if f32 else float
    pts = {i: [math.floor(narrow(x) * scale) for x in v] for i, v in rows}
    ids = sorted(pts)
    cents = [list(pts[i]) for i in ids[:k]]

    def assign():
        out = {}
        for i in ids:
            dists = [
                sum((a - b) * (a - b) for a, b in zip(pts[i], c)) for c in cents
            ]
            best = min(range(len(cents)), key=lambda j: (dists[j], j))
            out[i] = (best, dists[best])
        return out

    for _ in range(iterations):
        asg = assign()
        sums = {}
        for i, (c, _) in asg.items():
            s, n = sums.setdefault(c, ([0] * len(pts[i]), 0))
            for d, v in enumerate(pts[i]):
                s[d] += v
            sums[c] = (s, n + 1)
        for c, (s, n) in sums.items():
            cents[c] = [x // n for x in s]  # python // = exact floor
    return assign()


def _mkrows(n=40, dim=5, seed=7):
    rng = random.Random(seed)
    return [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)
    ]


def test_kmeans_matches_integer_reference(spark):
    rows = _mkrows()
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "id long, vec array<float>",
    )
    got = {
        r["id"]: (r["cluster"], r["dist_int"])
        for r in kmeans(df, "id", "vec", k=3, iterations=3).collect()
    }
    assert got == py_kmeans(rows, k=3, iterations=3)
    assert len({c for c, _ in got.values()}) > 1  # actually clusters


def test_kmeans_partitioning_independence(spark):
    rows = _mkrows(n=60, seed=11)
    want = py_kmeans(rows, k=4, iterations=2)
    for parts in (1, 7, 32):
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "id long, vec array<float>",
        ).repartition(parts)
        got = {
            r["id"]: (r["cluster"], r["dist_int"])
            for r in kmeans(df, "id", "vec", k=4, iterations=2).collect()
        }
        assert got == want, parts


def test_kmeans_tie_breaks_to_smallest_cluster(spark):
    # All points identical -> both centroids coincide forever; every
    # assignment is a tie and must deterministically land in cluster 0.
    df = spark.createDataFrame(
        [(i, [0.5, 0.5]) for i in range(4)],
        "id long, vec array<double>",
    )
    got = {r["id"]: r["cluster"] for r in
           kmeans(df, "id", "vec", k=2, iterations=2).collect()}
    assert got == {i: 0 for i in range(4)}


def test_kmeans_empty_cluster_keeps_centroid(spark):
    # Seeds are ids 0 and 1 (both near origin); all mass is near the
    # origin so cluster 1 empties after round 1 — iteration 2 must not
    # crash and cluster 1's centroid must stay where it was.
    rows = [(0, [0.0, 0.0]), (1, [0.1, 0.1]), (2, [0.0, 0.01]),
            (3, [0.02, 0.0]), (4, [0.01, 0.01])]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "id long, vec array<double>",
    )
    got = {
        r["id"]: (r["cluster"], r["dist_int"])
        for r in kmeans(df, "id", "vec", k=2, iterations=3).collect()
    }
    assert got == py_kmeans(rows, k=2, iterations=3, f32=False)


def test_kmeans_fewer_seed_rows_than_k(spark):
    # 3 usable rows for k=5: the run has 3 clusters. Six iterations cross
    # a _LLOYD_CHUNK boundary, where the centroid array is collected and
    # rebuilt — it must hold 3 centroids, not 5 padded with NULLs.
    rows = [(0, [0.0, 0.0]), (1, [1.0, 0.5]), (2, [0.25, 1.0])]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    for iterations in (3, 6):
        got = {
            r["id"]: (r["cluster"], r["dist_int"])
            for r in kmeans(df, "id", "vec", k=5, iterations=iterations).collect()
        }
        assert got == py_kmeans(rows, k=5, iterations=iterations, f32=False)


def test_kmeans_drops_null_and_ragged_rows(spark):
    df = spark.createDataFrame(
        [
            (1, [0.0, 0.0]),
            (2, [1.0, 1.0]),
            (3, None),             # null vector
            (4, [1.0]),            # ragged
            (5, [0.5, None]),      # null component
            (None, [0.5, 0.5]),    # null id
        ],
        "id long, vec array<double>",
    )
    out = kmeans(df, "id", "vec", k=2, iterations=1).collect()
    assert sorted(r["id"] for r in out) == [1, 2]


def test_kmeans_validation(spark):
    df = spark.createDataFrame([(1, [0.0])], "id long, vec array<double>")
    with pytest.raises(TransformationError):
        kmeans(df, "id", "vec", k=0)
    with pytest.raises(TransformationError):
        kmeans(df, "id", "vec", iterations=0)
    with pytest.raises(TransformationError):
        kmeans(df, "nope", "vec")
    with pytest.raises(TransformationError):
        kmeans(df, "id", "vec", scale_bits=40)


def test_semantic_representatives(spark):
    rows = _mkrows(n=30, seed=3)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "id long, vec array<float>",
    )
    assigned = kmeans(df, "id", "vec", k=3, iterations=2)
    reps = semantic_representatives(assigned, "id").collect()
    ref = py_kmeans(rows, k=3, iterations=2)
    want = {}
    for i, (c, d) in ref.items():
        if c not in want or (d, i) < (want[c][1], want[c][0]):
            want[c] = (i, d)
    assert {r["cluster"]: (r["id"], r["dist_int"]) for r in reps} == want
    with pytest.raises(TransformationError):
        semantic_representatives(df, "id")


def test_kmeans_yaml_adapter(spark):
    from etl_spark_gradle_spark.operators import TRANSFORMER_REGISTRY
    from etl_spark_gradle_spark.plans.config import TransformationConfig

    df = spark.createDataFrame(
        [(i, [float(i), float(i)]) for i in range(10)],
        "id long, vec array<double>",
    )
    t = TRANSFORMER_REGISTRY["kmeans"]
    cfg = TransformationConfig(
        type="kmeans",
        options={"idColumn": "id", "vectorColumn": "vec", "k": "2",
                 "iterations": "2"},
    )
    assert t.validate(df, cfg).is_valid
    out = t.transform(df, cfg, None)
    assert set(out.columns) == {"id", "cluster", "dist_int"}
    assert out.count() == 10
    cfg_reps = TransformationConfig(
        type="kmeans",
        options={"idColumn": "id", "vectorColumn": "vec", "k": "2",
                 "iterations": "1", "representativesOnly": "true"},
    )
    assert t.transform(df, cfg_reps, None).count() == 2
    bad = TransformationConfig(type="kmeans", options={"idColumn": "id"})
    assert not t.validate(df, bad).is_valid
    assert "kmeans" in t.lineage_step(cfg)


def test_kmeans_spread_seeding_beats_first_k_on_id_correlated_data(spark):
    """VERDICT r8 ask #6: first-k-ids seeding is degenerate when ids
    correlate with the data layout (all seeds from one shard/domain).
    Fixture: 4 well-separated true clusters whose members have
    CONTIGUOUS id ranges — first-k draws all 4 seeds from cluster 0;
    spread (md5-ranked candidates + farthest-point) must spread them
    and land strictly lower total inertia. Also locks determinism:
    two spread runs produce identical assignments."""
    import pyspark.sql.functions as F

    from etl_spark_gradle_spark.operators.clustering import kmeans

    centers = [0.0, 100.0, 200.0, 300.0]
    rows = []
    for ci, c in enumerate(centers):
        for j in range(25):  # ids 0-24 -> cluster 0, 25-49 -> 1, ...
            rows.append((ci * 25 + j, [c + (j % 5) * 0.5, c - (j % 3) * 0.5]))
    df = spark.createDataFrame(rows, "id long, vec array<double>")

    def inertia(seeding):
        out = kmeans(df, "id", "vec", k=4, iterations=4, seeding=seeding)
        return out.agg(F.sum("dist_int").cast("long").alias("s")).collect()[0]["s"]

    first_k, spread = inertia("first_k"), inertia("spread")
    assert spread < first_k
    # spread found all four real clusters -> inertia is the tiny
    # within-cluster spread, orders of magnitude under first-k's
    assert spread < first_k / 100

    a = kmeans(df, "id", "vec", k=4, iterations=4, seeding="spread").collect()
    b = kmeans(df, "id", "vec", k=4, iterations=4, seeding="spread").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_kmeans_spread_yaml_adapter_and_validation(spark):
    from etl_spark_gradle_spark.operators import TRANSFORMER_REGISTRY
    from etl_spark_gradle_spark.operators.relational import TransformationError
    from etl_spark_gradle_spark.plans.config import TransformationConfig

    import pytest as _pytest

    df = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3)]) for i in range(30)],
        "id long, vec array<double>",
    )
    t = TRANSFORMER_REGISTRY["kmeans"]
    out = t.transform(
        df,
        TransformationConfig(
            type="kmeans",
            options={"idColumn": "id", "vectorColumn": "vec", "k": "3",
                     "iterations": "2", "seeding": "spread",
                     "oversample": "4"},
        ),
        None,
    )
    assert out.count() == 30
    with _pytest.raises(TransformationError, match="seeding"):
        t.transform(
            df,
            TransformationConfig(
                type="kmeans",
                options={"idColumn": "id", "vectorColumn": "vec",
                         "seeding": "kmeanspp"},
            ),
            None,
        )
