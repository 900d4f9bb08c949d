"""SparkSession factory with scale-oriented defaults.

The reference ships Spark tuning in a never-loaded config file
(``src/main/resources/application.conf:3-27`` — AQE, skew join, Kryo,
shuffle compression); here the same intent is applied for real at
session-build time. Defaults are chosen for the 100 TB design point but
overridable per pipeline (``PerformanceConfig``) and per call.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Session-level defaults. Rationale:
# - AQE + coalescePartitions + skewJoin: runtime re-planning replaces any
#   hand-tuned shuffle sizing; mandatory at scale where static stats lie.
# - shuffle.partitions: a high static ceiling; AQE coalesces down. On a
#   real cluster this should be ~2-3x total cores; local tests override.
#   Batch only: AQE does not re-plan streaming micro-batches, so the
#   executor runs a streaming drain at min(this, defaultParallelism)
#   unless the pipeline sets performance.shufflePartitions.
# - autoBroadcastJoinThreshold: dimension tables (region/nation/customer
#   at small SF) broadcast instead of shuffling the fact table.
# - Arrow: every pandas_udf / mapInPandas transfer is Arrow-batched.
# - maxPartitionBytes 128m: target scan-split size, keeps partitions
#   within executor memory at 100 TB (≈ 800k splits, fine for Spark).
_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.session.timeZone": "UTC",
    # Reference semantics: Spark 3.5 default (ANSI off) — lenient casts
    # (CAST('4200.5' AS INT) truncates instead of raising), matching
    # transformer/MapTransformerSpec.scala:72-100 behavior on Spark 4.
    "spark.sql.ansi.enabled": "false",
    "spark.sql.parquet.filterPushdown": "true",
    # PySpark 4 captures the user call site (a stack walk + a py4j
    # round trip) on EVERY DataFrame/Column API call to enrich error
    # messages. On wide-expression operators that is pure driver-side
    # plan-construction overhead: profiled at ~15% of bootstrap_ci's
    # 21k py4j round trips (guide §7.3 planning-time class). Purely a
    # diagnostics knob — zero effect on plans or results.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # task retry posture (reference: 3 retries, README.md:272 /
    # application.conf:21-22). maxFailures counts attempts, so 4 = 3
    # retries. Cluster-mode semantics; local[] master ignores it unless
    # launched as local[N,F].
    "spark.task.maxFailures": "4",
    "spark.ui.enabled": "false",
    # Driver/local-JVM heap. Takes effect whenever THIS process launches
    # the JVM (verified: builder.config -> Runtime.maxMemory == 8g); it
    # is silently ignored if a session already exists in the process, and
    # spark-submit deployments override it per cluster. Matters in local
    # mode especially, where the driver JVM IS the executor: the pyspark
    # default 1g heap cannot hold a 64m-threshold broadcast build (the
    # estimate is compressed-columnar bytes; the in-heap hash relation
    # runs 5-10x that) — observed as q4/q5/q18 broadcast OOMs at sf1.
    # Sized at import time below: 8g where the host can afford it, a
    # fraction of detected RAM on small-cgroup hosts (an unconditional
    # 8g heap on a 4 GiB container gets the JVM OOM-killed).
    "spark.driver.memory": "8g",
}


def _detected_ram_bytes() -> int | None:
    """Best-effort host/cgroup RAM detection (None when unknowable)."""
    candidates = []
    for p in (
        "/sys/fs/cgroup/memory.max",  # cgroup v2
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
    ):
        try:
            with open(p) as fh:
                raw = fh.read().strip()
            if raw != "max":
                v = int(raw)
                if 0 < v < 1 << 48:  # v1 reports ~2^63 for "no limit"
                    candidates.append(v)
        except (OSError, ValueError):
            pass
    try:
        candidates.append(
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        )
    except (OSError, ValueError, AttributeError):
        pass
    return min(candidates) if candidates else None


def _default_driver_memory() -> str:
    ram = _detected_ram_bytes()
    if ram is None:
        return "8g"
    gib = ram / (1 << 30)
    if gib >= 16:
        return "8g"
    # leave headroom for Python workers + OS: half of RAM, floor 1g
    return f"{max(1, int(gib / 2))}g"


_DEFAULTS["spark.driver.memory"] = _default_driver_memory()


def get_spark(
    app_name: str = "etl-spark-gradle-spark",
    master: str | None = None,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    ``local[*]``) so tests and bench share one entry point; on a real
    cluster pass ``master=None`` with an external cluster manager config
    or set it explicitly.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    merged = dict(_DEFAULTS)
    if conf:
        merged.update(conf)
    for k, v in merged.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
