"""Lineage-in-data: a ``_lineage`` JSON column embedding provenance.

Parity: ``lineage/LineageTracker.scala:28-122`` — every extractor stamps
``_lineage`` (source type/identifier/extraction timestamp), every
transformer appends a step like ``"filter(condition=age > 30)"`` to
``transformationChain``. The reference's join also merges left+right
chains; here a join is one step of the run's single chain.

Deliberate divergence (SURVEY §1.4): the reference re-reads the first
row's JSON per transformer (``transformer/FilterTransformer.scala:87``
— a Spark job per step). The chain is constant per run, so here it is
tracked on the driver in the config layer and stamped ONCE as a literal
column just before load — identical output, zero extra jobs.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_spark_gradle_spark.plans.config import LineageMetadata

LINEAGE_COLUMN = "_lineage"


def build_lineage(
    source_type: str,
    source_identifier: str,
    transformation_steps: list[str],
    pipeline_id: str | None = None,
    run_id: str | None = None,
) -> LineageMetadata:
    """Assemble run-constant lineage metadata driver-side."""
    chain = list(transformation_steps)
    return LineageMetadata(
        source_type=source_type,
        source_identifier=source_identifier,
        extraction_timestamp=datetime.now(timezone.utc).isoformat(),
        transformation_chain=tuple(chain),
    )


def lineage_json(meta: LineageMetadata, pipeline_id: str, run_id: str) -> str:
    """Serialize (field-name parity with
    ``extractor/KafkaExtractor.scala:104-109`` plus the pipeline/run ids
    integration tests assert on,
    ``integration/QuickstartScenario1Spec.scala:212-217``)."""
    return json.dumps(
        {
            "pipelineId": pipeline_id,
            "runId": run_id,
            "sourceType": meta.source_type,
            "sourceIdentifier": meta.source_identifier,
            "extractionTimestamp": meta.extraction_timestamp,
            "transformationChain": list(meta.transformation_chain),
        },
        sort_keys=True,
    )


def stamp_lineage(df: DataFrame, meta: LineageMetadata, pipeline_id: str, run_id: str) -> DataFrame:
    """Single literal-column stamp (parity of effect:
    ``extractor/S3Extractor.scala:107-122``)."""
    return df.withColumn(LINEAGE_COLUMN, F.lit(lineage_json(meta, pipeline_id, run_id)))
