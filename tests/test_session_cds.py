"""Class-data sharing for the local JVM (``session._ClassDataSharing``).

Every JVM here starts in a subprocess against its own cache dir
(``XDG_CACHE_HOME``), so the archive state each case sees is its own.
The rules that only pick a plan run in-process and start no JVM.
"""

from __future__ import annotations

import fcntl
import json
import os
import subprocess
import sys
from pathlib import Path
from unittest import mock

import pytest

REPO = Path(__file__).resolve().parents[1]

# one session in a fresh process: prints its JVM arguments, the Spark conf
# it runs with and the JVM's class path as one JSON line
SESSION = r"""
import json, sys
from etl_spark_gradle_spark.session import get_spark
spark = get_spark(app_name="cds", master="local[1]", conf=json.loads(sys.argv[1]))
jvm = spark.sparkContext._jvm
print(json.dumps({
    "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "conf": dict(spark.sparkContext.getConf().getAll()),
    "classpath": jvm.java.lang.System.getProperty("java.class.path"),
}))
"""

def _env(cache: Path) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    env.update(XDG_CACHE_HOME=str(cache))
    return env


def _session(cache: Path, conf: dict | None = None) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", SESSION, json.dumps(conf or {})], cwd=REPO,
        env=_env(cache), capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _plan(cache: Path, conf_dir: Path | None = None):
    from etl_spark_gradle_spark.session import _DEFAULTS, _ClassDataSharing

    with mock.patch.dict(os.environ, {"XDG_CACHE_HOME": str(cache)}):
        os.environ.pop("SPARK_CONF_DIR", None)
        if conf_dir is not None:
            os.environ["SPARK_CONF_DIR"] = str(conf_dir)
        return _ClassDataSharing.plan(dict(_DEFAULTS))


def _archive(cache: Path) -> Path:
    plan = _plan(cache)
    assert plan is not None, "CDS is off in this environment"
    return plan.archive


def _java(*args: str, cwd: Path) -> int:
    from etl_spark_gradle_spark.session import _java

    return subprocess.run(
        [_java(), "-XX:ErrorFile=/dev/null", "-XX:-CreateCoredumpOnCrash", *args, "-version"],
        cwd=cwd, capture_output=True, timeout=120,
    ).returncode


def _cli(cache: Path, pipeline: Path) -> subprocess.CompletedProcess:
    out = subprocess.run(
        [sys.executable, "-m", "etl_spark_gradle_spark.cli", "--pipeline", str(pipeline),
         "--master", "local[1]"],
        cwd=REPO, env=_env(cache), capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return out


def _assert_json_lines(stdout: str) -> None:
    for line in stdout.splitlines():
        json.loads(line)  # a JVM log line here breaks the CLI's log stream


def _cache_files(cache: Path) -> list[str]:
    return sorted(p.name for p in cache.rglob("*") if p.suffix in (".jsa", ".tmp"))


@pytest.fixture(scope="module")
def recorded(tmp_path_factory, sf_dir):
    """A cache the CLI recorded its archive into, starting from a truncated
    temp archive that a dead recorder left behind."""
    root = tmp_path_factory.mktemp("cds")
    cache = root / "cache"
    archive = _archive(cache)
    # a real (tiny) archive cut short: mapping it crashes the JVM outright
    tiny = root / "tiny.jsa"
    assert _java(f"-XX:ArchiveClassesAtExit={tiny}", cwd=root) == 0
    truncated = tiny.read_bytes()[: tiny.stat().st_size // 2]
    (root / "cut.jsa").write_bytes(truncated)
    assert _java(f"-XX:SharedArchiveFile={root / 'cut.jsa'}", cwd=root) != 0
    dead = subprocess.Popen(["true"])
    dead.wait()
    (archive.parent / f"{archive.name}.{dead.pid}.tmp").write_bytes(truncated)
    # archives of other keys: one nobody records (pruned), one whose
    # recorder holds its lock (kept)
    cds = archive.parent
    for key in ("spark-0-jdk-0-old", "spark-0-jdk-0-busy"):
        (cds / f"{key}.jsa").write_bytes(b"old")
        (cds / f"{key}.jsa.{dead.pid}.tmp").write_bytes(b"old")
    (cds / "spark-0-jdk-0-old.lock").touch()
    busy = open(cds / "spark-0-jdk-0-busy.lock", "a")
    fcntl.flock(busy, fcntl.LOCK_EX)

    pipeline = root / "pipeline.yaml"
    pipeline.write_text(
        "pipelineId: cds-cli\n"
        f"source: {{type: file, options: {{path: {sf_dir}/nation.parquet, format: parquet}}}}\n"
        "transformations:\n"
        "  - type: filter\n"
        "    options: {condition: n_regionkey = 1}\n"
        f"sink: {{type: file, options: {{path: {root / 'out'}, format: parquet}}, "
        "writeMode: overwrite}\n"
    )
    try:
        first = _cli(cache, pipeline)
    finally:
        busy.close()
    assert sorted(p.name for p in cds.glob("spark-0-*")) == [
        "spark-0-jdk-0-busy.jsa", f"spark-0-jdk-0-busy.jsa.{dead.pid}.tmp",
        "spark-0-jdk-0-busy.lock",
    ]
    for leftover in cds.glob("spark-0-*"):
        leftover.unlink()
    return cache, archive, pipeline, first, len(truncated)


def test_cli_stdout_stays_json_when_recording_and_mapping(recorded):
    cache, archive, pipeline, first, _ = recorded
    _assert_json_lines(first.stdout)
    assert '"pipeline finished"' in first.stdout and '"SUCCESS"' in first.stdout
    # the recording process waited for its JVM and published one archive
    assert _cache_files(cache) == [archive.name]
    assert [p.name for p in cache.rglob("*.lock")] == [f"{archive.stem}.lock"]
    second = _cli(cache, pipeline)
    _assert_json_lines(second.stdout)
    assert _cache_files(cache) == [archive.name]


def test_second_process_maps_the_published_archive(recorded, tmp_path):
    """The archive a recording process published replaced the truncated
    temp file a dead recorder left, maps with sharing forced on, and a
    second process maps it: Spark's classes load from it."""
    cache, archive, _, _, truncated_size = recorded
    assert not list(cache.rglob("*.tmp"))
    assert archive.stat().st_size > truncated_size
    log = tmp_path / "class-load.log"
    out = _session(cache, {"spark.driver.extraJavaOptions": f"-Xlog:class+load=info:file={log}"})
    assert f"-XX:SharedArchiveFile={archive}" in out["args"]
    shared = [
        line for line in log.read_text().splitlines()
        if "org.apache.spark.SparkContext " in line
    ]
    assert shared and "source: shared objects file" in shared[0], shared
    assert _java("-cp", out["classpath"], "-Xshare:on", f"-XX:SharedArchiveFile={archive}",
                 cwd=tmp_path) == 0


def test_garbage_at_the_published_name_still_starts(tmp_path):
    cache = tmp_path / "cache"
    archive = _archive(cache)
    archive.write_bytes(os.urandom(1 << 16))
    out = _session(cache)
    assert f"-XX:SharedArchiveFile={archive}" in out["args"]


def test_own_default_java_options_keep_cds_off(monkeypatch):
    """A caller's ``spark.driver.defaultJavaOptions`` is the launch's whole
    default option string: no CDS plan is made and nothing is appended."""
    from pyspark import SparkContext

    from etl_spark_gradle_spark import session

    builder = mock.MagicMock()
    builder.appName.return_value = builder.master.return_value = builder
    builder.config.return_value = builder
    monkeypatch.setattr(session, "SparkSession", mock.Mock(builder=builder))
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    plan = mock.Mock(return_value=None)
    monkeypatch.setattr(session._ClassDataSharing, "plan", plan)

    own = session._DEFAULTS["spark.driver.defaultJavaOptions"]
    session.get_spark(conf={"spark.driver.defaultJavaOptions": own})
    assert plan.call_count == 0
    options = [c.args[1] for c in builder.config.call_args_list
               if c.args[0] == "spark.driver.defaultJavaOptions"]
    assert options == [own]
    session.get_spark()  # the same launch without the caller's options plans CDS
    assert plan.call_count == 1


def test_conf_dir_rule(tmp_path):
    """A templates-only conf dir is swapped for an empty one; a real file
    there turns CDS off before the cache is touched, and the launch then
    keeps ``SPARK_CONF_DIR`` as it is, so that file's conf applies."""
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf.template").write_text("")
    plan = _plan(tmp_path / "templates", conf_dir)
    assert plan is not None and Path(plan.conf_dir) == plan.archive.parent / "empty-conf"
    (conf_dir / "spark-defaults.conf").write_text("spark.graft.cdsProbe  applied\n")
    assert _plan(tmp_path / "real", conf_dir) is None
    assert not (tmp_path / "real").exists()
