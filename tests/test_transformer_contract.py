"""One transformer contract: every registered built-in adapter derives
from ``operators.base._BaseTransformer`` and inherits its ``transform``
(validate, then raise ``TransformationError``, then ``_apply``) and
``lineage_step``. Starts no JVM: no test here touches Spark."""

from __future__ import annotations

import pytest

from etl_spark_gradle_spark import operators
from etl_spark_gradle_spark.operators.base import TransformationError, _BaseTransformer
from etl_spark_gradle_spark.plans.config import (
    ConfigError,
    TransformationConfig,
    ValidationResult,
    parse_pipeline_dict,
)
from etl_spark_gradle_spark.plans.executor import PipelineExecutor

KEYS = sorted(operators._TRANSFORMER_SPECS)


def _cls(key):
    return getattr(operators, operators._TRANSFORMER_SPECS[key])


@pytest.mark.parametrize("key", KEYS)
def test_adapter_uses_the_base_contract(key):
    cls = _cls(key)
    assert issubclass(cls, _BaseTransformer)
    assert cls.transform is _BaseTransformer.transform
    assert cls.lineage_step is _BaseTransformer.lineage_step


@pytest.mark.parametrize("key", KEYS)
def test_lineage_step_format(key):
    cfg = TransformationConfig(type=key, options={"b": "2", "a": "x=1"})
    assert _cls(key)().lineage_step(cfg) == f"{key}(a=x=1,b=2)"


@pytest.mark.parametrize("key", KEYS)
def test_invalid_config_raises_typed_error(key):
    adapter = _cls(key)()
    adapter.validate = lambda df, config: ValidationResult.fail("boom")
    cfg = TransformationConfig(type=key, options={})
    with pytest.raises(TransformationError) as info:
        adapter.transform(object(), cfg, None)
    assert str(info.value) == f"{key} config invalid: boom"


def test_streaming_rejection_lists_the_streamable_adapters():
    """The message's list of streaming-capable types is the set of
    registered adapters that set ``streamable``, not a hand-kept list."""
    cfg = parse_pipeline_dict(
        {
            "pipelineId": "contract",
            "streaming": True,
            "source": {"type": "file", "options": {"path": "unused", "format": "json"}},
            "transformations": [{"type": "sort", "options": {"orderBy": "ts"}}],
            "sink": {"type": "file", "options": {"path": "unused"}},
        }
    )
    with pytest.raises(ConfigError) as info:
        PipelineExecutor().build_plan(cfg, None, object())
    prefix = "transformation 'sort' is not streamable — supported in streaming mode: "
    message = str(info.value)
    assert message.startswith(prefix)
    listed = message[len(prefix):].split(", ")
    expected = {key for key in KEYS if _cls(key).streamable}
    assert sorted(listed) == listed
    assert set(listed) == expected
    assert {"filter", "map", "windowing", "dedup", "ewma"} <= expected
