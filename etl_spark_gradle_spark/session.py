"""SparkSession factory with scale-oriented defaults.

The reference ships Spark tuning in a never-loaded config file
(``src/main/resources/application.conf:3-27`` — AQE, skew join, Kryo,
shuffle compression); here the same intent is applied for real at
session-build time. Defaults are chosen for the 100 TB design point but
overridable per pipeline (``PerformanceConfig``) and per call.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import subprocess
from pathlib import Path

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
    # JIT (local JVM; spark.driver.extraJavaOptions is appended after
    # these, so a caller's options still win). C2 compiles a method once
    # it has run Tier4*Threshold times; these are 4x HotSpot's defaults.
    # A CLI run lives 15-30 s on a few cores. At the defaults, C2 spent
    # 1-3 CPU-s per streaming drain (JMX CompilationMXBean, 4 vCPUs),
    # through a whole 40-drain process, on lukewarm planning and
    # checkpoint code, on the cores the drain's tasks need; drain times
    # kept falling from ~1.6 s to ~1.0 s. Hot row loops still reach C2:
    # the 100K-row quality-gated benchmark run did not slow down.
    "spark.driver.defaultJavaOptions": (
        "-XX:Tier4InvocationThreshold=20000 -XX:Tier4MinInvocationThreshold=2400"
        " -XX:Tier4CompileThreshold=60000 -XX:Tier4BackEdgeThreshold=160000"
    ),
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


# Class-data sharing (JDK dynamic CDS archive) for the local JVM. The
# first process to find no archive records the classes it loaded into
# ``<key>.jsa.<pid>.tmp`` at JVM exit (~10 s); an atexit hook publishes it
# as ``<key>.jsa`` once the JVM has exited cleanly and a probe JVM maps it.
# Every later process maps the archive and skips class parsing and
# verification: on a 4-vCPU VM, pipebench's quality_ingest setup_s went
# from a median 14.2 s to 7.4 s (10 interleaved pairs). The cache lives
# outside TMPDIR and java.io.tmpdir, which callers point at run-scoped
# dirs. A caller's own spark.driver.defaultJavaOptions keeps CDS off.
_CDS_LOGS_OFF = "-Xlog:cds*=off"  # the JVM logs CDS warnings to stdout
# a recording JVM writes its archive (~10 s, more under load) on its way out
_JVM_EXIT_WAIT_S = 120
# launcher inputs that add class path entries (possibly non-empty
# directories, which JDK 17 refuses to archive) the key cannot see
_CLASSPATH_ENV = (
    "SPARK_CLASSPATH", "SPARK_DIST_CLASSPATH", "SPARK_PREPEND_CLASSES",
    "HADOOP_CONF_DIR", "YARN_CONF_DIR",
)


def launches_jvm() -> bool:
    """True when building a session in this process starts its own local
    JVM: no gateway yet, and none handed over by ``spark-submit``."""
    from pyspark import SparkContext

    return SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ


def _await_jvm_exit(gateway) -> int | None:
    """Close ``gateway`` and wait up to ``_JVM_EXIT_WAIT_S`` for the JVM
    this process launched behind it to exit (EOF on its stdin ends it),
    killing it past that. Returns its exit code, None when there is no
    such JVM. Safe to call again once the JVM is gone."""
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return None
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — already shut down
        pass
    proc.stdin.close()
    try:
        proc.wait(timeout=_JVM_EXIT_WAIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    return proc.returncode


def stop_spark(spark: SparkSession) -> None:
    """Stop ``spark`` and wait (bounded) for the JVM this process launched
    behind it to exit, so the JVM does not outlive the process; a later
    ``get_spark`` launches a new one."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    try:
        spark.stop()
    finally:
        _await_jvm_exit(gateway)
        if SparkContext._gateway is gateway:
            SparkContext._gateway = SparkContext._jvm = None


def _java() -> str | None:
    """The java binary ``bin/spark-class`` runs."""
    java_home = os.environ.get("JAVA_HOME")
    return os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")


class _ClassDataSharing:
    """One JVM launch's CDS plan: map ``archive`` when it exists, else
    record it (at most one process per key at a time, by file lock)."""

    def __init__(self, java: str, archive: Path, conf_dir: str | None, xmx: str):
        self.java, self.archive, self.conf_dir, self.xmx = java, archive, conf_dir, xmx
        self.tmp: Path | None = None
        self.lock = None

    @classmethod
    def plan(cls, conf: dict[str, str]) -> "_ClassDataSharing | None":
        """None when CDS stays off: an unknown JDK, a conf dir with real
        files, or class path inputs the key does not cover."""
        if any(os.environ.get(name) for name in _CLASSPATH_ENV):
            return None
        from pyspark import __version__ as spark_version
        from pyspark.find_spark_home import _find_spark_home

        java = _java()
        if not java or not os.path.exists(java):
            return None
        release = Path(os.path.realpath(java)).parents[1] / "release"
        try:
            jdk = dict(
                line.split("=", 1) for line in release.read_text().splitlines() if "=" in line
            )["JAVA_RUNTIME_VERSION"].strip('"')
            if int(jdk.split(".")[0].split("+")[0]) < 17:
                return None
            spark_home = Path(_find_spark_home())
            jars = sorted((e.name, e.stat().st_size) for e in os.scandir(spark_home / "jars"))
        except (OSError, KeyError, ValueError):
            return None
        cache = Path(os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache")
        cache = cache / "etl_spark_gradle_spark" / "cds"
        # the launcher puts the conf dir first on the class path; a real
        # file there must stay visible, and only an empty dir can be archived
        conf_dir = os.environ.get("SPARK_CONF_DIR") or str(spark_home / "conf")
        try:
            entries = os.listdir(conf_dir)
        except OSError:
            entries = []
        if any(not name.endswith(".template") for name in entries):
            return None
        launch_conf = str(cache / "empty-conf") if entries else None
        try:
            cache.mkdir(parents=True, exist_ok=True)
            if launch_conf:
                os.makedirs(launch_conf, exist_ok=True)
                if os.listdir(launch_conf):
                    return None
        except OSError:
            return None
        material = repr((
            jdk, os.path.realpath(java), spark_version, launch_conf or conf_dir,
            conf.get("spark.driver.extraClassPath"),
            os.environ.get("PYSPARK_SUBMIT_ARGS"), jars,
        ))
        key = f"spark-{spark_version}-jdk-{jdk}-{hashlib.sha256(material.encode()).hexdigest()[:16]}"
        return cls(java, cache / f"{key}.jsa", launch_conf, conf["spark.driver.memory"])

    def java_options(self) -> str:
        """The flags for this launch; "" when another process is recording
        the archive right now."""
        if self.archive.exists():
            return f"{_CDS_LOGS_OFF} -XX:SharedArchiveFile={self.archive}"
        import fcntl

        try:
            lock = open(self.archive.with_suffix(".lock"), "a")
        except OSError:
            return ""
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            lock.close()
            return ""
        if self.archive.exists():  # published while we took the lock
            lock.close()
            return self.java_options()
        # holding the lock, every temp file left is from a dead recorder
        for stale in self.archive.parent.glob(f"{self.archive.name}.*.tmp"):
            stale.unlink(missing_ok=True)
        self._prune_other_keys()
        self.lock = lock
        self.tmp = self.archive.with_name(f"{self.archive.name}.{os.getpid()}.tmp")
        return f"{_CDS_LOGS_OFF} -XX:ArchiveClassesAtExit={self.tmp}"

    def _prune_other_keys(self) -> None:
        """Delete the archives of other keys (an older JDK or Spark, another
        class path), ~150 MB each, unless a process is recording one now.
        A JVM that maps a deleted archive keeps its pages."""
        import fcntl

        cache = self.archive.parent
        keys = {p.stem for p in cache.glob("*.jsa")} | {p.stem for p in cache.glob("*.lock")}
        keys.discard(self.archive.stem)
        for key in keys:
            lock_path = cache / f"{key}.lock"
            try:
                with open(lock_path, "a") as lock:
                    fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    for stale in cache.glob(f"{key}.jsa.*.tmp"):
                        stale.unlink(missing_ok=True)
                    (cache / f"{key}.jsa").unlink(missing_ok=True)
                    lock_path.unlink()
            except OSError:
                continue

    def launch(self, builder) -> SparkSession:
        from pyspark import SparkContext

        saved = os.environ.get("SPARK_CONF_DIR")
        if self.conf_dir:
            os.environ["SPARK_CONF_DIR"] = self.conf_dir
        classpath = None
        try:
            spark = builder.getOrCreate()
            if self.tmp:
                classpath = spark.sparkContext._jvm.java.lang.System.getProperty(
                    "java.class.path"
                )
            return spark
        finally:
            if saved is None:
                os.environ.pop("SPARK_CONF_DIR", None)
            else:
                os.environ["SPARK_CONF_DIR"] = saved
            if self.tmp:
                atexit.register(self._publish, SparkContext._gateway, classpath)

    def _publish(self, gateway, classpath: str | None) -> None:
        """Close the gateway, wait for the JVM to write the archive, and
        publish it only if a probe JVM maps it: a truncated archive
        crashes every JVM that maps it (SIGBUS)."""
        try:
            if (
                _await_jvm_exit(gateway) == 0 and classpath
                and self.tmp.exists() and self._maps(classpath)
            ):
                os.replace(self.tmp, self.archive)
        finally:
            self.tmp.unlink(missing_ok=True)
            self.lock.close()

    def _maps(self, classpath: str) -> bool:
        probe = [
            self.java, "-cp", classpath, f"-Xmx{self.xmx}", "-Xshare:on",
            f"-XX:SharedArchiveFile={self.tmp}", "-XX:ErrorFile=/dev/null",
            "-XX:-CreateCoredumpOnCrash", "-version",
        ]
        try:
            return subprocess.run(
                probe, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                cwd=self.archive.parent, timeout=60,
            ).returncode == 0
        except (OSError, subprocess.TimeoutExpired):
            return False


def get_spark(
    app_name: str = "etl-spark-gradle-spark",
    master: str | None = None,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    ``local[*]``) so tests and bench share one entry point; on a real
    cluster pass ``master=None`` with an external cluster manager config
    or set it explicitly. When this call launches the JVM, it starts it
    from the class-data-sharing archive (see ``_ClassDataSharing``),
    unless ``conf`` sets ``spark.driver.defaultJavaOptions``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    merged = dict(_DEFAULTS)
    if conf:
        merged.update(conf)
    cds = None
    if launches_jvm() and "spark.driver.defaultJavaOptions" not in (conf or {}):
        cds = _ClassDataSharing.plan(merged)
        options = cds.java_options() if cds else ""
        if options:
            merged["spark.driver.defaultJavaOptions"] += " " + options
        else:
            cds = None
    for k, v in merged.items():
        builder = builder.config(k, v)
    return cds.launch(builder) if cds else builder.getOrCreate()
