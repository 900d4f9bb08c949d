"""Which ``CheckpointFileManager`` a streaming drain writes through.

Contracts:
- a drain whose checkpoint (and file-sink ``_spark_metadata`` log) is on
  the local filesystem runs with Spark's
  ``FileSystemBasedCheckpointFileManager``; any other scheme keeps
  Spark's default and the session conf is not touched for it;
- the setting is scoped to the drain: ``execute`` leaves the key exactly
  as it found it, whether the run succeeds or fails;
- the choice is made from URI schemes alone, without a FileSystem;
- checkpoints written by either manager drain on under the other, keep
  their checksum files, and a corrupt state file still fails the run;
- an ``availableNow`` drain unloads its state stores when they commit:
  no checksum-writer thread outlives the drain, the stores snapshot
  themselves, and the key is restored afterwards.
"""

from __future__ import annotations

import pytest

from etl_spark_gradle_spark import streaming as st
from etl_spark_gradle_spark.plans.executor import PipelineExecutor
from tests.test_shuffle_partitions import (
    FIRST_DRAIN,
    SECOND_DRAIN,
    _events,
    _stream_yaml,
    _windows,
)

KEY = st.CHECKPOINT_FILE_MANAGER
DEFAULT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
)
THIRD_DRAIN = [
    ("2024-01-01T10:09:10", "m1", 4.0),
    ("2024-01-01T10:15:00", "flush", 0.0),
]
AFTER_SECOND = {
    ("10:00", "m1"): (2, 4.0),
    ("10:00", "m2"): (1, 5.0),
    ("10:02", "flush"): (1, 0.0),
    ("10:02", "m1"): (1, 7.0),
    ("10:03", "m2"): (1, 2.0),
}
AFTER_THIRD = {**AFTER_SECOND, ("10:09", "flush"): (1, 0.0), ("10:09", "m1"): (1, 4.0)}


@pytest.fixture
def session_manager(spark):
    """Set (a class name) or unset (None) the session's checkpoint file
    manager for one test; the session is left unset afterwards."""

    def apply(value: str | None) -> None:
        if value is None:
            spark.conf.unset(KEY)
        else:
            spark.conf.set(KEY, value)

    yield apply
    spark.conf.unset(KEY)


@pytest.fixture
def managers(spark, monkeypatch):
    """The checkpoint file manager each ``write_stream`` call ran under."""
    seen = []
    write_stream = st.write_stream

    def capture(*args, **kwargs):
        seen.append(spark.conf.get(KEY, None))
        return write_stream(*args, **kwargs)

    monkeypatch.setattr(st, "write_stream", capture)
    return seen


class Untouchable:
    """A session stand-in that fails on any use."""

    def __getattr__(self, name):
        raise AssertionError(f"session touched: {name}")


@pytest.mark.parametrize("prior", [DEFAULT_MANAGER, None], ids=["set", "unset"])
@pytest.mark.parametrize("outcome", ["SUCCESS", "FAILED"])
def test_execute_restores_checkpoint_manager(
    spark, tmp_path, session_manager, managers, outcome, prior
):
    transform = "windowing" if outcome == "SUCCESS" else "broken"
    config, src, _ = _stream_yaml(tmp_path, transform=transform)
    _events(src / "a.json", FIRST_DRAIN)
    session_manager(prior)
    metrics = PipelineExecutor().execute(config, spark)
    assert metrics.status == outcome, metrics.error_details
    # the broken step fails inside the scope, before the query starts
    assert managers == ([st.FILE_SYSTEM_CHECKPOINTS] if outcome == "SUCCESS" else [])
    assert spark.conf.get(KEY, None) == prior


@pytest.mark.parametrize(
    "options",
    [
        {"checkpointLocation": "/tmp/x", "path": "/tmp/out"},
        {"checkpointLocation": "file:///tmp/x", "path": "file:///tmp/out"},
        {"checkpointLocation": "ck/x", "path": "out/x"},
        {"checkpointLocation": "/tmp/x", "format": "memory", "path": "hdfs://nn:8020/out"},
        {"format": "memory"},
    ],
    ids=["absolute", "file-uri", "relative", "memory-sink", "temp-checkpoint"],
)
def test_local_checkpoint(spark, options):
    assert st.local_checkpoint(spark, options)


@pytest.mark.parametrize(
    "options",
    [
        {"checkpointLocation": "hdfs://nn:8020/ck", "path": "/tmp/out"},
        {"checkpointLocation": "s3a://b/ck", "path": "/tmp/out"},
        {"checkpointLocation": "s3a://b/ck", "format": "memory"},
    ],
    ids=["hdfs", "s3a", "s3a-memory-sink"],
)
def test_remote_checkpoint_is_decided_without_a_filesystem(options):
    assert not st.local_checkpoint(Untouchable(), options)


def test_remote_sink_path_or_default_is_not_local(spark):
    assert not st.local_checkpoint(
        spark, {"checkpointLocation": "/tmp/x", "path": "hdfs://nn:8020/out"}
    )
    spark.conf.set("spark.sql.streaming.checkpointLocation", "hdfs://nn:8020/ck")
    try:
        assert not st.local_checkpoint(spark, {"format": "memory"})
    finally:
        spark.conf.unset("spark.sql.streaming.checkpointLocation")
    spark.conf.set("fs.defaultFS", "hdfs://nn:8020")
    try:
        assert not st.local_checkpoint(spark, {"checkpointLocation": "/ck", "path": "/out"})
    finally:
        spark.conf.unset("fs.defaultFS")


@pytest.mark.parametrize("prior", [DEFAULT_MANAGER, None], ids=["set", "unset"])
def test_non_local_decision_leaves_key_untouched(
    spark, tmp_path, session_manager, managers, monkeypatch, prior
):
    monkeypatch.setattr(st, "local_checkpoint", lambda spark, options: False)
    config, src, _ = _stream_yaml(tmp_path)
    _events(src / "a.json", FIRST_DRAIN)
    session_manager(prior)
    metrics = PipelineExecutor().execute(config, spark)
    assert metrics.status == "SUCCESS", metrics.error_details
    assert managers == [prior]
    assert spark.conf.get(KEY, None) == prior


def _deltas(checkpoint):
    return sorted(
        (checkpoint / "state" / "0").glob("*/*.delta"), key=lambda p: int(p.stem)
    )


def test_checkpoints_cross_managers_and_keep_verification(
    spark, tmp_path, session_manager, managers
):
    """Default manager -> FileSystem manager -> default manager on one
    checkpoint, then a corrupt state file fails the next drain."""
    session_manager(None)
    config, src, out = _stream_yaml(tmp_path)
    checkpoint = tmp_path / "stream-ckpt"

    _events(src / "a.json", FIRST_DRAIN)
    st.run_streaming_pipeline(config, spark)  # no executor: Spark's default
    _events(src / "b.json", SECOND_DRAIN)
    metrics = PipelineExecutor().execute(config, spark)
    assert metrics.status == "SUCCESS", metrics.error_details
    assert _windows(spark, out) == AFTER_SECOND
    _events(src / "c.json", THIRD_DRAIN)
    st.run_streaming_pipeline(config, spark)
    assert _windows(spark, out) == AFTER_THIRD
    assert managers == [None, st.FILE_SYSTEM_CHECKPOINTS, None]

    deltas = _deltas(checkpoint)
    assert deltas
    for delta in deltas:
        assert (delta.parent / f"{delta.name}.crc").exists(), delta  # Spark's checksum
        assert (delta.parent / f".{delta.name}.crc").exists(), delta  # Hadoop's sidecar

    newest = deltas[-1]
    data = bytearray(newest.read_bytes())
    data[len(data) // 2] ^= 0xFF
    newest.write_bytes(bytes(data))
    _events(src / "d.json", [("2024-01-01T10:20:00", "m1", 1.0)])
    metrics = PipelineExecutor().execute(config, spark)
    assert metrics.status == "FAILED"
    assert "CANNOT_LOAD_STATE_STORE" in metrics.error_details


@pytest.mark.parametrize(
    "options, drain",
    [
        ({}, True),
        ({"trigger": "availableNow"}, True),
        ({"trigger": "processingTime=10 seconds"}, False),
    ],
    ids=["default", "available-now", "processing-time"],
)
def test_is_drain(options, drain):
    assert st.is_drain(options) is drain


SNAPSHOT_EVERY = "spark.sql.streaming.stateStore.minDeltasForSnapshot"


def _checksum_threads(spark) -> int:
    """Live JVM threads of Spark's checkpoint checksum writers, which a
    loaded state store holds until it is unloaded."""
    threads = spark.sparkContext._jvm.java.lang.Thread.getAllStackTraces().keySet()
    return sum(1 for t in threads if t.getName().startswith("ChecksumCheckpointFileManager"))


def test_drain_unloads_its_state_stores(spark, tmp_path, monkeypatch):
    seen = []
    write_stream = st.write_stream

    def capture(*args, **kwargs):
        seen.append(spark.conf.get(st.UNLOAD_ON_COMMIT, None))
        return write_stream(*args, **kwargs)

    monkeypatch.setattr(st, "write_stream", capture)
    config, src, out = _stream_yaml(tmp_path)
    before = _checksum_threads(spark)
    spark.conf.set(SNAPSHOT_EVERY, "2")
    try:
        for name, rows in (("a", FIRST_DRAIN), ("b", SECOND_DRAIN), ("c", THIRD_DRAIN)):
            _events(src / f"{name}.json", rows)
            metrics = PipelineExecutor().execute(config, spark)
            assert metrics.status == "SUCCESS", metrics.error_details
            assert _checksum_threads(spark) <= before
    finally:
        spark.conf.unset(SNAPSHOT_EVERY)
    assert seen == ["true"] * 3
    assert spark.conf.get(st.UNLOAD_ON_COMMIT, None) is None
    assert _windows(spark, out) == AFTER_THIRD
    snapshots = list((tmp_path / "stream-ckpt" / "state" / "0").glob("*/*.snapshot"))
    assert snapshots, "maintenance ran at commit and wrote snapshots"
