"""CLI entry point (parity: ``Main.scala:187-244``):

    python -m etl_spark_gradle_spark.cli --pipeline p.yaml \
        [--master local[*]] [--conf k=v ...]

Exit code 1 on pipeline failure (``Main.scala:153-155``); structured
JSON log lines with pipeline/run correlation ids
(``logging/StructuredLogger.scala:71-95``) on stdout, one JSON object a
line (Spark's own log lines go to stderr). A session this call started
is stopped before it returns, and its JVM has exited.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description="Run a declarative ETL pipeline")
    parser.add_argument("--pipeline", required=True, help="path to pipeline YAML")
    parser.add_argument("--master", default=None, help="Spark master (default local[*])")
    parser.add_argument(
        "--conf",
        action="append",
        default=[],
        metavar="K=V",
        help="extra Spark conf, repeatable",
    )
    parser.add_argument(
        "--explain",
        action="store_true",
        help="dry run: log the lineage chain and the formatted physical plan "
        "(the last line's 'plan' field), built under the run's session conf "
        "and without the quality gate's split and side actions; executes "
        "nothing (no sink write, no extract job beyond schema resolution)",
    )
    args = parser.parse_args(argv)

    conf: dict[str, str] = {}
    for entry in args.conf:
        key, sep, value = entry.partition("=")
        if not sep:
            parser.error(f"--conf must be K=V, got {entry!r}")
        conf[key] = value

    from etl_spark_gradle_spark import session
    from etl_spark_gradle_spark.observability import StructuredLogger
    from etl_spark_gradle_spark.plans import load_pipeline_yaml

    try:
        config = load_pipeline_yaml(args.pipeline)
    except FileNotFoundError:
        StructuredLogger(sys.stdout, pipeline_id="<unparsed>").error(
            "pipeline YAML not found", path=args.pipeline, status="FAILED"
        )
        return 1
    except Exception as e:  # noqa: BLE001 — config-parse errors exit cleanly
        StructuredLogger(sys.stdout, pipeline_id="<unparsed>").error(
            "pipeline YAML invalid", path=args.pipeline, status="FAILED",
            error=f"{type(e).__name__}: {e}",
        )
        return 1
    logger = StructuredLogger(sys.stdout, pipeline_id=config.pipeline_id)
    logger.info("pipeline parsed")
    launched = session.launches_jvm()
    spark = session.get_spark(app_name=config.pipeline_id, master=args.master, conf=conf)
    try:
        return _explain(config, spark, logger) if args.explain else _run(config, spark, logger)
    finally:
        # a session that was already up (an embedding process) stays up
        if launched:
            session.stop_spark(spark)


def _explain(config, spark, logger) -> int:
    """Plan-review mode: the pre-sink plan the run would execute, built
    and planned under the run's session conf (``shufflePartitions``, a
    drain's partitions) from the run's extract step — pushed filters,
    ReadSchema pruning, exchanges and broadcasts are all visible before
    paying for the job. The plan starts at the extract: the quality
    gate's split and side actions are not in it. The formatted plan
    rides the last log line's ``plan`` field."""
    import contextlib
    import io

    from etl_spark_gradle_spark.plans import PipelineExecutor
    from etl_spark_gradle_spark.plans.config import RunContext
    from etl_spark_gradle_spark.plans.executor import _run_conf, session_conf

    try:
        executor, ctx = PipelineExecutor(), RunContext.create(config.pipeline_id, spark)
        plan = io.StringIO()
        with session_conf(spark, _run_conf(config, spark)):
            df = executor.extract(config, ctx)[1]
            transformed, steps, _, _ = executor.build_plan(config, ctx, df)
            with contextlib.redirect_stdout(plan):
                transformed.explain("formatted")
        logger.info("lineage chain", steps=steps)
        logger.info("explain complete", status="SUCCESS", plan=plan.getvalue())
        return 0
    except Exception as e:  # noqa: BLE001 — dry-run errors exit cleanly
        logger.error("explain failed", status="FAILED", error=f"{type(e).__name__}: {e}")
        return 1


def _run(config, spark, logger) -> int:
    from etl_spark_gradle_spark.observability import MetricsCollector
    from etl_spark_gradle_spark.plans import PipelineExecutor

    collector = MetricsCollector()
    metrics = PipelineExecutor().execute(config, spark, collector=collector)
    run_logger = logger.child(run_id=metrics.run_id)
    run_logger.log(
        "INFO" if metrics.status == "SUCCESS" else "ERROR",
        "pipeline finished",
        status=metrics.status,
        records_extracted=metrics.records_extracted,
        records_loaded=metrics.records_loaded,
        records_failed=metrics.records_failed,
        duration_seconds=round(metrics.duration_seconds, 3),
        error=metrics.error_details,
    )
    run_logger.info("phase metrics", **collector.snapshot()["phases"])
    return 0 if metrics.status == "SUCCESS" else 1


if __name__ == "__main__":
    sys.exit(main())
