"""The versioned-store fold behind every ``stream_*`` continuous aggregate
(``streaming._fold_store``), driven directly with a trivial counting fold:
a batch that crashes after writing its version but before the checkpoint
commit is retried from the same prior version, rewrites its own
``v=<batch_id>`` and leaves at most two versions behind."""

from __future__ import annotations

import json
import os
import time

import pytest

from etl_spark_gradle_spark import streaming as st
from etl_spark_gradle_spark.plans.config import ConfigError


def _versions(store):
    return sorted(int(d.split("=")[1]) for d in os.listdir(store))


def test_fold_store_retry_rewrites_own_version_from_same_prev(
    spark, tmp_path, monkeypatch
):
    from pyspark.sql import functions as F

    src, store = tmp_path / "src", str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    sizes = [2, 3, 4]  # rows per landed file = rows per micro-batch
    for i, n in enumerate(sizes):
        with open(src / f"b{i}.json", "w") as f:
            for x in range(n):
                f.write(json.dumps({"x": x}) + "\n")
        t = time.time() - 300 + i * 60  # file-source order: mtime ascending
        os.utime(src / f"b{i}.json", (t, t))

    reads = []  # (batch_id, version the fold was handed) per attempt

    def count_fold(batch_df, prev, batch_id):
        if prev is None:
            reads.append((batch_id, None))
            n = 0
        else:
            row = prev.first()
            reads.append((batch_id, row["v"]))
            n = row["n"]
        return spark.range(1).select(
            F.lit(batch_id).alias("v"), F.lit(n + batch_df.count()).alias("n")
        )

    def drain():
        stream = st.read_file_stream(
            spark,
            {"path": str(src), "format": "json", "maxFilesPerTrigger": "1"},
            "x long",
        )
        return st._fold_store(stream, store, count_fold, ckpt, "availableNow", None)

    # batch 0 resolves the FileSystem once (lookup, no prior version);
    # batch 1 once for its lookup, then again to prune right after its
    # v=1 write -- crash there, before the checkpoint commit
    real_fs = st._hadoop_fs
    calls = {"n": 0}

    def crash_after_write(spark_, path_str):
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("crash after the version write")
        return real_fs(spark_, path_str)

    monkeypatch.setattr(st, "_hadoop_fs", crash_after_write)
    with pytest.raises(Exception):
        drain().awaitTermination(120)
    monkeypatch.setattr(st, "_hadoop_fs", real_fs)
    assert reads == [(0, None), (1, 0)]
    assert _versions(store) == [0, 1]  # v=1 written, batch 1 uncommitted

    # debris in the uncommitted version must be overwritten by the retry
    spark.createDataFrame([(1, 999)], "v int, n long").write.mode(
        "overwrite"
    ).parquet(f"{store}/v=1")

    drain().awaitTermination(120)
    # the retried batch 1 re-read v=0, the same prior version
    assert reads == [(0, None), (1, 0), (1, 0), (2, 1)]
    assert _versions(store) == [1, 2]
    got = {
        v: tuple(spark.read.parquet(f"{store}/v={v}").first()) for v in (1, 2)
    }
    assert got == {1: (1, sizes[0] + sizes[1]), 2: (2, sum(sizes))}
    assert st._read_newest(spark, store, "count").first()["n"] == sum(sizes)


def test_read_newest_names_the_store_kind(spark, tmp_path):
    with pytest.raises(ConfigError, match="no count versions under"):
        st._read_newest(spark, str(tmp_path / "absent"), "count")
