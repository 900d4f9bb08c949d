"""The CLI stops the session it started and writes its event stream to
stdout as JSON lines. In-process, with a fake session: no JVM starts."""

from __future__ import annotations

import json
import subprocess
import sys
from types import SimpleNamespace
from unittest import mock

import pytest
from pyspark import SparkContext

from etl_spark_gradle_spark import cli, session
from etl_spark_gradle_spark.plans import PipelineExecutor
from etl_spark_gradle_spark.plans.config import ExecutionMetrics


class FakeSession:
    def __init__(self, gateway=None):
        self.sparkContext = SimpleNamespace(_gateway=gateway)
        self.stopped = 0

    def stop(self):
        self.stopped += 1


@pytest.fixture
def fake(monkeypatch):
    spark = FakeSession()
    monkeypatch.setattr(session, "get_spark", lambda **_: spark)
    return spark


@pytest.fixture
def pipeline(tmp_path):
    path = tmp_path / "p.yaml"
    path.write_text(
        "pipelineId: cli-fake\n"
        f"source: {{type: file, options: {{path: {tmp_path / 'in'}, format: parquet}}}}\n"
        f"sink: {{type: file, options: {{path: {tmp_path / 'out'}, format: parquet}}}}\n"
    )
    return str(path)


def _execute(status):
    def execute(self, config, spark, collector=None):
        return ExecutionMetrics(config.pipeline_id, "run-1", status=status)
    return execute


@pytest.mark.parametrize("launched", [True, False])
def test_stops_only_a_session_it_launched(monkeypatch, capsys, fake, pipeline, launched):
    monkeypatch.setattr(session, "launches_jvm", lambda: launched)
    monkeypatch.setattr(PipelineExecutor, "execute", _execute("SUCCESS"))
    assert cli.main(["--pipeline", pipeline]) == 0
    assert fake.stopped == int(launched)
    lines = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    assert [line["message"] for line in lines] == [
        "pipeline parsed", "pipeline finished", "phase metrics",
    ]
    assert lines[1]["status"] == "SUCCESS"


def test_stops_its_session_when_the_run_fails(monkeypatch, fake, pipeline):
    monkeypatch.setattr(session, "launches_jvm", lambda: True)
    monkeypatch.setattr(PipelineExecutor, "execute", _execute("FAILED"))
    assert cli.main(["--pipeline", pipeline]) == 1
    assert fake.stopped == 1

    def boom(self, config, spark, collector=None):
        raise RuntimeError("boom")

    monkeypatch.setattr(PipelineExecutor, "execute", boom)
    with pytest.raises(RuntimeError, match="boom"):
        cli.main(["--pipeline", pipeline])
    assert fake.stopped == 2


def test_explain_writes_its_plan_into_a_json_line(monkeypatch, capsys, fake, pipeline):
    monkeypatch.setattr(session, "launches_jvm", lambda: True)
    built = mock.Mock()
    built.explain.side_effect = lambda mode: print(f"== Physical Plan ({mode}) ==")
    monkeypatch.setattr(
        PipelineExecutor, "build_plan", lambda self, config, ctx, df: (built, ["s"], None, [])
    )
    monkeypatch.setattr("etl_spark_gradle_spark.plans.config.RunContext.create", mock.Mock())
    assert cli.main(["--pipeline", pipeline, "--explain"]) == 0
    assert fake.stopped == 1
    lines = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    assert lines[-1]["message"] == "explain complete"
    assert lines[-1]["plan"] == "== Physical Plan (formatted) ==\n"


def test_stop_spark_waits_for_the_process_behind_the_gateway(monkeypatch):
    """The JVM exits on EOF at its stdin; a stand-in process does too."""
    proc = subprocess.Popen(
        [sys.executable, "-c", "import sys; sys.stdin.read()"], stdin=subprocess.PIPE
    )
    gateway = SimpleNamespace(proc=proc, shutdown=mock.Mock())
    spark = FakeSession(gateway)
    monkeypatch.setattr(SparkContext, "_gateway", gateway)
    monkeypatch.setattr(SparkContext, "_jvm", object())
    session.stop_spark(spark)
    assert spark.stopped == 1 and gateway.shutdown.called
    assert proc.returncode == 0
    # the next get_spark in this process launches a new JVM
    assert SparkContext._gateway is None and SparkContext._jvm is None
