"""The one transformer contract every built-in adapter derives from.

A leaf module: it imports nothing from the package at run time, so the
operator modules that Python workers import by reference (``text``,
``multimodal``, ``lm``, ``layout``; see the ``operators`` package
docstring) can subclass the base without pulling in ``relational`` or
``plans``. ``relational`` re-exports both names.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class TransformationError(ValueError):
    """Typed transform failure
    (parity: ``core/TransformationException.scala:10-14``)."""


class _BaseTransformer:
    """Contract (parity: ``core/DataTransformer.scala:36-40``): validate
    first, throw typed exception on bad config, return a lazy DataFrame.

    A subclass implements ``validate`` (returning a
    ``plans.config.ValidationResult``) and ``_apply``; the executor calls
    ``transform`` and ``lineage_step``. ``config`` is the step's
    ``plans.config.TransformationConfig`` and ``ctx`` the run's
    ``RunContext``; they stay unannotated here so that this module
    imports nothing from ``plans``. ``streamable = True`` admits the step
    into a ``streaming: true`` pipeline."""

    streamable = False

    def validate(self, df: DataFrame, config):
        raise NotImplementedError

    def transform(self, df: DataFrame, config, ctx) -> DataFrame:
        result = self.validate(df, config)
        if not result.is_valid:
            raise TransformationError(
                f"{config.type} config invalid: " + "; ".join(result.errors)
            )
        return self._apply(df, config, ctx)

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        raise NotImplementedError

    def lineage_step(self, config) -> str:
        """Human-readable lineage chain entry (parity:
        ``transformer/FilterTransformer.scala:77-102`` format
        ``"filter(condition=age > 30)"``)."""
        opts = ",".join(f"{k}={v}" for k, v in sorted(config.options.items()))
        return f"{config.type}({opts})"
