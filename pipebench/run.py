"""Pipeline-level benchmark: one workload, one seed, one process.

    python3 pipebench/run.py --workload quality_ingest --seed 1 --seconds 20 --trace 0

Run from the repository root. The run generates the seed's inputs in a
child process, outside every timer; builds the SparkSession the way the
CLI does, on ``local[<cpus>]``; warms the workload; then runs it in a
closed loop with one client for ``--seconds``. Each iteration is
``plans.load_pipeline_yaml`` followed by
``PipelineExecutor().execute(config, spark)``, the two calls ``cli.main``
makes, and its output is checked against a DuckDB oracle (``oracle.py``).
The last stdout line is one JSON object; the lines before it give each
metric with its unit and sample count.

``--trace 0`` reports the end-to-end metrics, with tracing off.
``setup_s`` is the package import plus the SparkSession build and the
Python worker warm-up, paid once per process as by every CLI call.
``--trace 1`` alternates untraced and traced iterations and reports the
per-layer metrics (medians over the traced iterations) plus the tracing
overhead; the spans go to ``.pipebench/trace-<workload>-<seed>.json``.
A streaming drain reports no record counts (its ``ExecutionMetrics``
leaves them 0), so ``sources.rows`` and ``sinks.rows_written`` read 0 on
``microbatch_window``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import string
import subprocess
import sys
import time
from pathlib import Path
from statistics import median

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import oracle  # noqa: E402
import spans  # noqa: E402
from inputs import SIZES  # noqa: E402

WARM_ITERATIONS = 2

# run_s_tail and failed_ratio are printed but not in the JSON result: a
# run holds too few samples for a tail percentile with ten samples beyond
# it, and failed_ratio is 0 on correct code (the result's "failed" field
# carries it). Peak memory is a per-layer metric: the JVM's resident size
# follows its garbage collector's heap sizing, which moves by half from
# one process to the next on the same input.
END_TO_END_UNITS = {
    "setup_s": "s",
    "run_s_p50": "s",
    "rows_per_s": "rows/s",
}

PER_LAYER_UNITS = {
    "plans.parse_s": "s",
    "plans.other_s": "s",
    "sources.extract_s": "s",
    "sources.rows": "rows",
    "operators.transform_s": "s",
    "operators.jobs": "count",
    "quality.check_s": "s",
    "quality.rows_quarantined": "rows",
    "sinks.load_s": "s",
    "sinks.rows_written": "rows",
    "sinks.files_written": "count",
    "sinks.mb_written": "MB",
    "session.jobs": "count",
    "session.stages": "count",
    "session.tasks": "count",
    "session.tasks_failed": "count",
    "session.shuffle_mb": "MB",
    "session.executor_run_s": "s",
    "session.peak_rss_mb": "MB",
    "streaming.batches": "count",
    "streaming.state_mb": "MB",
    "trace.overhead_s": "s",
}


class Workload:
    """One pipeline YAML, rendered with this run's paths, plus its
    per-iteration reset and oracle check."""

    yaml = ""

    def __init__(self, inputs: Path, work: Path):
        self.inputs, self.work = inputs, work
        self.out = work / "out"
        self.checkpoint = work / "checkpoint"
        work.mkdir(parents=True)
        text = string.Template((HERE / "pipelines" / self.yaml).read_text())
        self.pipeline = work / self.yaml
        self.pipeline.write_text(text.substitute(self.placeholders()))
        self.expected = None

    def placeholders(self) -> dict:
        return {"input": self.inputs.as_posix(), "output": self.out.as_posix()}

    def input_rows(self, metrics) -> int:
        return metrics.records_extracted

    def reset(self) -> None:
        """Runs before every iteration, outside the timer."""

    def land(self, iteration: int) -> bool:
        """Runs inside the timer, before parsing; False when out of input."""
        return True

    def check(self, metrics, iteration: int) -> list[str]:
        raise NotImplementedError


class BatchRollup(Workload):
    yaml = "batch_rollup.yaml"

    def check(self, metrics, iteration):
        self.expected = self.expected or oracle.expect_rollup(self.inputs)
        return oracle.check_rollup(self.out, self.expected)


class QualityIngest(Workload):
    yaml = "quality_ingest.yaml"

    def placeholders(self):
        return {**super().placeholders(), "quarantine": (self.work / "quarantine").as_posix()}

    def reset(self):
        # quality.quarantine appends: without this the dir grows every run
        shutil.rmtree(self.work / "quarantine", ignore_errors=True)

    def check(self, metrics, iteration):
        self.expected = self.expected or oracle.expect_quality(self.inputs)
        return oracle.check_quality(metrics, self.out, self.work / "quarantine", self.expected)


class CorpusCuration(Workload):
    yaml = "corpus_curation.yaml"
    digest = None

    def check(self, metrics, iteration):
        self.expected = self.expected or oracle.expect_corpus(self.inputs)
        problems, digest = oracle.check_corpus(self.out, self.expected)
        self.digest = self.digest or digest
        if digest != self.digest:
            problems.append("corpus: survivors differ from the first iteration's")
        return problems


class MicrobatchWindow(Workload):
    """One iteration lands the next step's file and drains the stream; the
    checkpoint's state persists across iterations."""

    yaml = "microbatch_window.yaml"

    def __init__(self, inputs, work):
        self.src = work / "src"
        super().__init__(inputs, work)
        self.src.mkdir()
        self.steps = sorted((inputs / "steps").glob("step-*.json"))

    def placeholders(self):
        return {
            **super().placeholders(),
            "stream_src": self.src.as_posix(),
            "checkpoint": self.checkpoint.as_posix(),
            "schema": (HERE / "pipelines" / "events.schema.json").as_posix(),
        }

    def input_rows(self, metrics):
        return SIZES["microbatch_window"]["events_per_step"]

    def land(self, iteration):
        if iteration >= len(self.steps):
            return False
        os.link(self.steps[iteration], self.src / self.steps[iteration].name)
        return True

    def check(self, metrics, iteration):
        self.expected = self.expected or oracle.expect_windows(self.inputs)
        return oracle.check_windows(self.out, iteration, self.expected)


WORKLOADS = {
    "batch_rollup": BatchRollup,
    "quality_ingest": QualityIngest,
    "corpus_curation": CorpusCuration,
    "microbatch_window": MicrobatchWindow,
}


def start_spark(work: Path):
    from etl_spark_gradle_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = tmp.as_posix()
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # it would override spark.local.dir
    spark = get_spark(
        app_name="pipebench",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        conf={
            # keep every scratch file inside the work dir
            "spark.local.dir": (work / "spark-local").as_posix(),
            "spark.sql.warehouse.dir": (work / "warehouse").as_posix(),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )

    # start and warm the Python/Arrow workers every pipeline UDF runs in
    def passthrough(batches):
        yield from batches

    spark.range(64, numPartitions=spark.sparkContext.defaultParallelism).mapInArrow(
        passthrough, "id long"
    ).count()
    return spark


def stop_spark(spark) -> None:
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def reset_hwm(pid) -> None:
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile with at least ten
    samples above it; with fewer than eleven samples, the maximum."""
    ordered = sorted(samples)
    i = max(len(ordered) - 11, 0) if len(ordered) > 10 else len(ordered) - 1
    return ordered[i], 100.0 * (i + 1) / len(ordered)


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks since boot: a virtual machine's neighbours
    take the stolen ones, and they slow every timing here."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def files_under(path: Path) -> dict[str, int]:
    if not path.exists():
        return {}
    return {p.as_posix(): p.stat().st_size for p in path.rglob("*") if p.is_file()}


def commits(checkpoint: Path) -> int:
    return len(list((checkpoint / "commits").glob("[0-9]*")))


def iterate(wl: Workload, i: int, spark, executor, tracer=None):
    """One timed pipeline run. Returns None when the workload is out of
    input, else (seconds, problems, metrics, per-layer record or None)."""
    from etl_spark_gradle_spark.plans import load_pipeline_yaml

    wl.reset()
    if tracer is None:
        start = time.perf_counter()
        if not wl.land(i):
            return None
        metrics = executor.execute(load_pipeline_yaml(str(wl.pipeline)), spark)
        elapsed = time.perf_counter() - start
        record = None
    else:
        files, done = files_under(wl.out), commits(wl.checkpoint)
        tracer.begin(i)
        start = time.perf_counter()
        if not wl.land(i):
            return None
        with tracer.span("plans.parse"):
            config = load_pipeline_yaml(str(wl.pipeline))
        parsed = time.perf_counter()
        with tracer.patched():
            metrics = tracer.executor().execute(config, spark)
        elapsed = time.perf_counter() - start
        layers, counts = tracer.end()
        written = {
            p: size for p, size in files_under(wl.out).items()
            if p.endswith(".parquet") and files.get(p) != size
        }
        record = {
            "run_s": elapsed,
            "plans.parse_s": layers.get("plans.parse", 0.0),
            "plans.other_s": elapsed - (parsed - start)
            - sum(layers.get(name, 0.0) for name in spans.LAYER_SPANS),
            "sources.extract_s": layers.get("sources.extract", 0.0),
            "sources.rows": metrics.records_extracted,
            "operators.transform_s": layers.get("operators.transform", 0.0),
            "quality.check_s": layers.get("quality.check", 0.0),
            "quality.rows_quarantined": metrics.records_failed,
            "sinks.load_s": layers.get("sinks.load", 0.0),
            "sinks.rows_written": metrics.records_loaded,
            "sinks.files_written": len(written),
            "sinks.mb_written": sum(written.values()) / 1e6,
            "streaming.batches": commits(wl.checkpoint) - done,
            "streaming.state_mb": sum(files_under(wl.checkpoint / "state").values()) / 1e6,
            **counts,
        }
    if metrics.status != "SUCCESS":
        problems = [f"status {metrics.status}: {metrics.error_details}"]
    else:
        problems = wl.check(metrics, i)
    return elapsed, problems, metrics, record


def run(args) -> dict:
    # fails fast, before any input is generated, outside a full checkout;
    # the import is part of what every CLI invocation pays
    t0 = time.perf_counter()
    from etl_spark_gradle_spark.plans import PipelineExecutor

    import_s = time.perf_counter() - t0

    base = Path.cwd() / ".pipebench"
    work = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    inputs = work / "inputs"
    subprocess.run(
        [sys.executable, str(HERE / "inputs.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--out", str(inputs)],
        check=True,
    )

    t0 = time.perf_counter()
    spark = start_spark(work)
    setup_s = import_s + time.perf_counter() - t0
    try:
        jvm_pid = spark.sparkContext._gateway.proc.pid
        executor = PipelineExecutor()
        tracer = spans.Tracer(spark) if args.trace else None
        workload = WORKLOADS[args.workload]

        # warm-up on a throwaway copy of the workload's output and state
        warm = workload(inputs, work / "warm")
        for i in range(WARM_ITERATIONS):
            iterate(warm, i, spark, executor)

        wl = workload(inputs, work / "timed")
        plain_s, traced, problems_seen = [], [], []
        attempted = failed = rows = 0
        reset_hwm("self")
        reset_hwm(jvm_pid)
        ticks = cpu_ticks()
        deadline = time.perf_counter() + args.seconds
        # at least two iterations, so a traced run has one of each kind; no
        # iteration starts that the last one's duration says would overrun
        last = 0.0
        while attempted < 2 or time.perf_counter() + last < deadline:
            use_tracer = tracer if attempted % 2 else None
            result = iterate(wl, attempted, spark, executor, use_tracer)
            if result is None:
                break
            elapsed, problems, metrics, record = result
            attempted += 1
            last = elapsed
            if problems:
                failed += 1
                problems_seen.extend(problems)
            if record is None:
                plain_s.append(elapsed)
                rows = wl.input_rows(metrics)
            else:
                traced.append(record)
        peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        total, stolen = (b - a for a, b in zip(ticks, cpu_ticks()))
        if tracer is not None:
            tracer.dump(base / f"trace-{args.workload}-{args.seed}.json")
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for problem in problems_seen[:5]:
        print("oracle:", problem[:500])
    print(f"{args.workload} cpu_steal = {100 * stolen / max(total, 1):.1f}% of CPU time in the timed loop")
    if tracer is not None:
        summary = spans.summarize(traced)
        summary["trace.overhead_s"] = summary.pop("run_s") - median(plain_s)
        summary["session.peak_rss_mb"] = peak_rss_mb
        values = {name: summary.get(name, 0.0) for name in PER_LAYER_UNITS}
        units, samples = PER_LAYER_UNITS, len(traced)
    else:
        p50 = median(plain_s)
        values = {
            "setup_s": setup_s,
            "run_s_p50": p50,
            "rows_per_s": rows / p50,
        }
        units, samples = END_TO_END_UNITS, len(plain_s)
        tail_s, tail_pct = tail(plain_s)
        print(f"{args.workload} run_s samples = {' '.join(f'{x:.3f}' for x in plain_s)}")
        print(f"{args.workload} run_s_tail = {tail_s:.6g} s (p{tail_pct:.0f} of n={samples})")
    for name, value in values.items():
        n = 1 if name in ("setup_s", "session.peak_rss_mb") else samples
        print(f"{args.workload} {name} = {value:.6g} {units[name]} (n={n})")
    print(f"{args.workload} failed_ratio = {failed / max(attempted, 1):.6g} ratio (n={attempted})")
    return {
        "correct": attempted > 0 and failed == 0,
        "attempted": max(attempted, 1),
        "failed": failed if attempted else 1,
        "metrics": {name: {"value": v, "unit": units[name]} for name, v in values.items()},
    }


def main() -> int:
    parser = argparse.ArgumentParser(description="Run one pipeline benchmark workload.")
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    print(json.dumps(run(parser.parse_args())))
    return 0


if __name__ == "__main__":
    sys.exit(main())
