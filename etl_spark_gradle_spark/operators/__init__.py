"""Transformation operators.

Each operator is a pure function ``DataFrame -> DataFrame`` plus a thin
``Transformer`` adapter, registered in ``TRANSFORMER_REGISTRY`` by type
string — preserving the reference's extension contract
(``pipeline/TransformerRegistry.scala:13-19``, user registration at
``pipeline/ExtractorRegistry.scala:40-42``) without the ceremony. Every
built-in adapter subclasses ``base._BaseTransformer`` and supplies only
``validate`` and ``_apply``; the base's ``transform`` validates first
and raises ``TransformationError`` prefixed with the step's type, and
its ``lineage_step`` writes ``type(k=v,...)``. A user transformer only
needs ``transform`` and ``lineage_step``.

This package exports lazily (PEP 562): importing one operator module —
as every Arrow-batched worker function does when cloudpickle resolves
its by-reference globals — must not pay for the other ~30 modules.
Eagerly, ``import etl_spark_gradle_spark.operators.multimodal`` executed
this ``__init__`` and cost ~1.3 s cold; on a 33-deep reused-worker pool
that import tax re-ran on every cold worker a small Python-stage job
rotated onto, tripling sub-second mapInPandas queries (measured on
q9/q12/q18/q27, round 12). Laziness is semantics-preserving: the same
names resolve to the same objects, just on first attribute access.
"""

from __future__ import annotations

import importlib

# public name -> defining module (generated from the former eager
# import block; every name the eager form exported is listed here)
_EXPORTS = {
    "ContaminationTransformer": "etl_spark_gradle_spark.operators.dedup",
    "DedupTransformer": "etl_spark_gradle_spark.operators.dedup",
    "BalanceClassesTransformer": "etl_spark_gradle_spark.operators.corpus",
    "CapPerGroupTransformer": "etl_spark_gradle_spark.operators.corpus",
    "ChunkTransformer": "etl_spark_gradle_spark.operators.corpus",
    "DecontaminateTransformer": "etl_spark_gradle_spark.operators.corpus",
    "DsirTransformer": "etl_spark_gradle_spark.operators.corpus",
    "HashSampleTransformer": "etl_spark_gradle_spark.operators.corpus",
    "MixTransformer": "etl_spark_gradle_spark.operators.corpus",
    "NegativeSampleTransformer": "etl_spark_gradle_spark.operators.corpus",
    "PackTransformer": "etl_spark_gradle_spark.operators.corpus",
    "TokenFrequencyTransformer": "etl_spark_gradle_spark.operators.corpus",
    "WeightedSampleTransformer": "etl_spark_gradle_spark.operators.corpus",
    "balance_classes": "etl_spark_gradle_spark.operators.corpus",
    "cap_per_group": "etl_spark_gradle_spark.operators.corpus",
    "chunk_documents": "etl_spark_gradle_spark.operators.corpus",
    "decontaminate": "etl_spark_gradle_spark.operators.corpus",
    "hash_sample": "etl_spark_gradle_spark.operators.corpus",
    "mix_to_target": "etl_spark_gradle_spark.operators.corpus",
    "negative_sample": "etl_spark_gradle_spark.operators.corpus",
    "pack_sequences": "etl_spark_gradle_spark.operators.corpus",
    "token_frequency": "etl_spark_gradle_spark.operators.corpus",
    "weighted_sample": "etl_spark_gradle_spark.operators.corpus",
    "BloomSemiJoinTransformer": "etl_spark_gradle_spark.operators.bloom",
    "bloom_filter_rows": "etl_spark_gradle_spark.operators.bloom",
    "bloom_semi_join": "etl_spark_gradle_spark.operators.bloom",
    "build_bloom": "etl_spark_gradle_spark.operators.bloom",
    "AhoCorasick": "etl_spark_gradle_spark.operators.keywords",
    "KeywordTagTransformer": "etl_spark_gradle_spark.operators.keywords",
    "keyword_matches": "etl_spark_gradle_spark.operators.keywords",
    "PmiTransformer": "etl_spark_gradle_spark.operators.collocations",
    "pmi_bigrams": "etl_spark_gradle_spark.operators.collocations",
    "BpeTokenizeTransformer": "etl_spark_gradle_spark.operators.bpe",
    "bpe_tokenize": "etl_spark_gradle_spark.operators.bpe",
    "train_bpe": "etl_spark_gradle_spark.operators.bpe",
    "ConsolidateTransformer": "etl_spark_gradle_spark.operators.delta",
    "DiffTransformer": "etl_spark_gradle_spark.operators.delta",
    "Scd2LookupTransformer": "etl_spark_gradle_spark.operators.delta",
    "Scd2Transformer": "etl_spark_gradle_spark.operators.delta",
    "apply_changes": "etl_spark_gradle_spark.operators.delta",
    "consolidate": "etl_spark_gradle_spark.operators.delta",
    "row_fingerprint": "etl_spark_gradle_spark.operators.delta",
    "scd2_lookup": "etl_spark_gradle_spark.operators.delta",
    "table_diff": "etl_spark_gradle_spark.operators.delta",
    "ZorderTransformer": "etl_spark_gradle_spark.operators.layout",
    "z_value": "etl_spark_gradle_spark.operators.layout",
    "zorder": "etl_spark_gradle_spark.operators.layout",
    "LmScoreTransformer": "etl_spark_gradle_spark.operators.lm",
    "score_with_bigram_lm": "etl_spark_gradle_spark.operators.lm",
    "train_bigram_lm": "etl_spark_gradle_spark.operators.lm",
    "MultimodalTransformer": "etl_spark_gradle_spark.operators.multimodal",
    "decode_audio": "etl_spark_gradle_spark.operators.multimodal",
    "decode_images": "etl_spark_gradle_spark.operators.multimodal",
    "with_media_metadata": "etl_spark_gradle_spark.operators.multimodal",
    "KAnonymityTransformer": "etl_spark_gradle_spark.operators.pii",
    "LDiversityTransformer": "etl_spark_gradle_spark.operators.pii",
    "TClosenessTransformer": "etl_spark_gradle_spark.operators.pii",
    "l_diversity": "etl_spark_gradle_spark.operators.pii",
    "PiiTransformer": "etl_spark_gradle_spark.operators.pii",
    "k_anonymity": "etl_spark_gradle_spark.operators.pii",
    "t_closeness": "etl_spark_gradle_spark.operators.pii",
    "AggregationTransformer": "etl_spark_gradle_spark.operators.relational",
    "AnalyticsTransformer": "etl_spark_gradle_spark.operators.relational",
    "AsofJoinTransformer": "etl_spark_gradle_spark.operators.relational",
    "DistinctTransformer": "etl_spark_gradle_spark.operators.relational",
    "ExplodeTransformer": "etl_spark_gradle_spark.operators.relational",
    "UnpivotTransformer": "etl_spark_gradle_spark.operators.relational",
    "FilterTransformer": "etl_spark_gradle_spark.operators.relational",
    "FlattenTransformer": "etl_spark_gradle_spark.operators.relational",
    "JoinTransformer": "etl_spark_gradle_spark.operators.relational",
    "MapTransformer": "etl_spark_gradle_spark.operators.relational",
    "PivotTransformer": "etl_spark_gradle_spark.operators.relational",
    "QuantileFilterTransformer": "etl_spark_gradle_spark.operators.relational",
    "RangeJoinTransformer": "etl_spark_gradle_spark.operators.relational",
    "IntervalJoinTransformer": "etl_spark_gradle_spark.operators.relational",
    "RankingTransformer": "etl_spark_gradle_spark.operators.relational",
    "RollingTimeTransformer": "etl_spark_gradle_spark.operators.relational",
    "SaltedAggregationTransformer": "etl_spark_gradle_spark.operators.relational",
    "SampleTransformer": "etl_spark_gradle_spark.operators.relational",
    "SetOpTransformer": "etl_spark_gradle_spark.operators.relational",
    "SortTransformer": "etl_spark_gradle_spark.operators.relational",
    "SplitTransformer": "etl_spark_gradle_spark.operators.relational",
    "SqlTransformer": "etl_spark_gradle_spark.operators.relational",
    "WindowingTransformer": "etl_spark_gradle_spark.operators.relational",
    "aggregate": "etl_spark_gradle_spark.operators.relational",
    "analytic_columns": "etl_spark_gradle_spark.operators.relational",
    "asof_join": "etl_spark_gradle_spark.operators.relational",
    "distinct_rows": "etl_spark_gradle_spark.operators.relational",
    "explode_column": "etl_spark_gradle_spark.operators.relational",
    "filter_rows": "etl_spark_gradle_spark.operators.relational",
    "flatten_structs": "etl_spark_gradle_spark.operators.relational",
    "hash_split": "etl_spark_gradle_spark.operators.relational",
    "join_view": "etl_spark_gradle_spark.operators.relational",
    "map_columns": "etl_spark_gradle_spark.operators.relational",
    "pivot_table": "etl_spark_gradle_spark.operators.relational",
    "quantile_filter": "etl_spark_gradle_spark.operators.relational",
    "interval_overlap_join": "etl_spark_gradle_spark.operators.relational",
    "range_join_points": "etl_spark_gradle_spark.operators.relational",
    "rank_rows": "etl_spark_gradle_spark.operators.relational",
    "salted_aggregate": "etl_spark_gradle_spark.operators.relational",
    "sample_rows": "etl_spark_gradle_spark.operators.relational",
    "set_op": "etl_spark_gradle_spark.operators.relational",
    "sort_limit": "etl_spark_gradle_spark.operators.relational",
    "sql_transform": "etl_spark_gradle_spark.operators.relational",
    "window_aggregate": "etl_spark_gradle_spark.operators.relational",
    "CohortTransformer": "etl_spark_gradle_spark.operators.events",
    "DebounceTransformer": "etl_spark_gradle_spark.operators.events",
    "RollingActiveTransformer": "etl_spark_gradle_spark.operators.events",
    "SessionizeTransformer": "etl_spark_gradle_spark.operators.events",
    "TopPathsTransformer": "etl_spark_gradle_spark.operators.events",
    "FunnelTransformer": "etl_spark_gradle_spark.operators.events",
    "MarketBasketTransformer": "etl_spark_gradle_spark.operators.events",
    "TransitionsTransformer": "etl_spark_gradle_spark.operators.events",
    "association_rules": "etl_spark_gradle_spark.operators.events",
    "debounce": "etl_spark_gradle_spark.operators.events",
    "sessionize": "etl_spark_gradle_spark.operators.events",
    "BfsDistancesTransformer": "etl_spark_gradle_spark.operators.graph",
    "PagerankTransformer": "etl_spark_gradle_spark.operators.graph",
    "TriangleCountTransformer": "etl_spark_gradle_spark.operators.graph",
    "bfs_distances": "etl_spark_gradle_spark.operators.graph",
    "pagerank": "etl_spark_gradle_spark.operators.graph",
    "triangle_count": "etl_spark_gradle_spark.operators.graph",
    "KMeansTransformer": "etl_spark_gradle_spark.operators.clustering",
    "kmeans": "etl_spark_gradle_spark.operators.clustering",
    "semantic_representatives": "etl_spark_gradle_spark.operators.clustering",
    "SkewJoinTransformer": "etl_spark_gradle_spark.operators.skew",
    "SkewReportTransformer": "etl_spark_gradle_spark.operators.skew",
    "skew_join": "etl_spark_gradle_spark.operators.skew",
    "skew_report": "etl_spark_gradle_spark.operators.skew",
    "FeatureHashTransformer": "etl_spark_gradle_spark.operators.features",
    "OneHotTransformer": "etl_spark_gradle_spark.operators.features",
    "RobustScaleTransformer": "etl_spark_gradle_spark.operators.features",
    "TargetEncodeTransformer": "etl_spark_gradle_spark.operators.features",
    "feature_hash": "etl_spark_gradle_spark.operators.features",
    "one_hot": "etl_spark_gradle_spark.operators.features",
    "robust_scale": "etl_spark_gradle_spark.operators.features",
    "target_encode": "etl_spark_gradle_spark.operators.features",
    "Bm25Transformer": "etl_spark_gradle_spark.operators.retrieval",
    "TfidfTransformer": "etl_spark_gradle_spark.operators.retrieval",
    "EvaluationTransformer": "etl_spark_gradle_spark.operators.evaluation",
    "auc": "etl_spark_gradle_spark.operators.evaluation",
    "classification_report": "etl_spark_gradle_spark.operators.evaluation",
    "cohens_kappa": "etl_spark_gradle_spark.operators.evaluation",
    "lift_table": "etl_spark_gradle_spark.operators.evaluation",
    "DiscretizeTransformer": "etl_spark_gradle_spark.operators.stats",
    "DriftTransformer": "etl_spark_gradle_spark.operators.stats",
    "QuantileNormalizeTransformer": "etl_spark_gradle_spark.operators.stats",
    "StatsTransformer": "etl_spark_gradle_spark.operators.stats",
    "category_drift": "etl_spark_gradle_spark.operators.stats",
    "discretize": "etl_spark_gradle_spark.operators.stats",
    "exact_quantiles": "etl_spark_gradle_spark.operators.stats",
    "ks_drift": "etl_spark_gradle_spark.operators.stats",
    "mad_outliers": "etl_spark_gradle_spark.operators.stats",
    "EditJoinTransformer": "etl_spark_gradle_spark.operators.strings",
    "SketchTransformer": "etl_spark_gradle_spark.operators.sketch",
    "AcfTransformer": "etl_spark_gradle_spark.operators.timeseries",
    "CusumTransformer": "etl_spark_gradle_spark.operators.timeseries",
    "EwmaTransformer": "etl_spark_gradle_spark.operators.timeseries",
    "KaplanMeierTransformer": "etl_spark_gradle_spark.operators.timeseries",
    "IntervalsTransformer": "etl_spark_gradle_spark.operators.timeseries",
    "LagFeaturesTransformer": "etl_spark_gradle_spark.operators.timeseries",
    "OhlcTransformer": "etl_spark_gradle_spark.operators.timeseries",
    "ResampleTransformer": "etl_spark_gradle_spark.operators.timeseries",
    "RollingMedianTransformer": "etl_spark_gradle_spark.operators.timeseries",
    "RollingZscoreTransformer": "etl_spark_gradle_spark.operators.timeseries",
    "TimeRollupTransformer": "etl_spark_gradle_spark.operators.timeseries",
    "TwapTransformer": "etl_spark_gradle_spark.operators.timeseries",
    "acf": "etl_spark_gradle_spark.operators.timeseries",
    "cusum_changepoints": "etl_spark_gradle_spark.operators.timeseries",
    "lag_features": "etl_spark_gradle_spark.operators.timeseries",
    "merge_intervals": "etl_spark_gradle_spark.operators.timeseries",
    "ohlc_bars": "etl_spark_gradle_spark.operators.timeseries",
    "resample": "etl_spark_gradle_spark.operators.timeseries",
    "rolling_zscore": "etl_spark_gradle_spark.operators.timeseries",
    "twap": "etl_spark_gradle_spark.operators.timeseries",
    "time_rollup": "etl_spark_gradle_spark.operators.timeseries",
    "InfoTheoryTransformer": "etl_spark_gradle_spark.operators.infotheory",
    "category_entropy": "etl_spark_gradle_spark.operators.infotheory",
    "js_divergence": "etl_spark_gradle_spark.operators.infotheory",
    "kl_divergence": "etl_spark_gradle_spark.operators.infotheory",
    "mutual_information": "etl_spark_gradle_spark.operators.infotheory",
    "psi_drift": "etl_spark_gradle_spark.operators.infotheory",
    "ExpectTransformer": "etl_spark_gradle_spark.quality",
    "ProfileTransformer": "etl_spark_gradle_spark.quality",
    "SchemaAlignTransformer": "etl_spark_gradle_spark.quality",
    "profile_columns": "etl_spark_gradle_spark.quality",
    "ModelScoreTransformer": "etl_spark_gradle_spark.operators.text",
    "TextAnalysisTransformer": "etl_spark_gradle_spark.operators.text",
}

# registry type string -> Transformer class name (all in _EXPORTS);
# instances are created on first lookup and then cached, preserving
# the former one-shared-instance-per-key semantics
_TRANSFORMER_SPECS = {
    "filter": "FilterTransformer",
    "map": "MapTransformer",
    "aggregation": "AggregationTransformer",
    "join": "JoinTransformer",
    "windowing": "WindowingTransformer",
    "sql": "SqlTransformer",
    "ranking": "RankingTransformer",
    "analytics": "AnalyticsTransformer",
    "rolling_time": "RollingTimeTransformer",
    "pivot": "PivotTransformer",
    "asof_join": "AsofJoinTransformer",
    "range_join": "RangeJoinTransformer",
    "interval_join": "IntervalJoinTransformer",
    "setop": "SetOpTransformer",
    "sort": "SortTransformer",
    "distinct": "DistinctTransformer",
    "explode": "ExplodeTransformer",
    "unpivot": "UnpivotTransformer",
    "sample": "SampleTransformer",
    "split": "SplitTransformer",
    "salted_aggregation": "SaltedAggregationTransformer",
    "diff": "DiffTransformer",
    "scd2": "Scd2Transformer",
    "consolidate": "ConsolidateTransformer",
    "scd2_lookup": "Scd2LookupTransformer",
    "quantile_filter": "QuantileFilterTransformer",
    "flatten": "FlattenTransformer",
    "zorder": "ZorderTransformer",
    "schema_align": "SchemaAlignTransformer",
    "expect": "ExpectTransformer",
    "sketch": "SketchTransformer",
    "bm25": "Bm25Transformer",
    "tfidf": "TfidfTransformer",
    "funnel": "FunnelTransformer",
    "cohort": "CohortTransformer",
    "transitions": "TransitionsTransformer",
    "top_paths": "TopPathsTransformer",
    "rolling_active": "RollingActiveTransformer",
    "market_basket": "MarketBasketTransformer",
    "sessionize": "SessionizeTransformer",
    "debounce": "DebounceTransformer",
    "edit_join": "EditJoinTransformer",
    "evaluation": "EvaluationTransformer",
    "quantile_normalize": "QuantileNormalizeTransformer",
    "stats": "StatsTransformer",
    "resample": "ResampleTransformer",
    "rolling_median": "RollingMedianTransformer",
    "time_rollup": "TimeRollupTransformer",
    "infotheory": "InfoTheoryTransformer",
    "intervals": "IntervalsTransformer",
    "changepoint": "CusumTransformer",
    "acf": "AcfTransformer",
    "ohlc": "OhlcTransformer",
    "twap": "TwapTransformer",
    "ewma": "EwmaTransformer",
    "kaplan_meier": "KaplanMeierTransformer",
    "lag_features": "LagFeaturesTransformer",
    "rolling_zscore": "RollingZscoreTransformer",
    "profile": "ProfileTransformer",
    "drift": "DriftTransformer",
    "pmi": "PmiTransformer",
    "weighted_sample": "WeightedSampleTransformer",
    "pagerank": "PagerankTransformer",
    "triangle_count": "TriangleCountTransformer",
    "kmeans": "KMeansTransformer",
    "bfs": "BfsDistancesTransformer",
    "skew_join": "SkewJoinTransformer",
    "skew_report": "SkewReportTransformer",
    "bloom_semi_join": "BloomSemiJoinTransformer",
    "keyword_tag": "KeywordTagTransformer",
    "discretize": "DiscretizeTransformer",
    "target_encode": "TargetEncodeTransformer",
    "one_hot": "OneHotTransformer",
    "robust_scale": "RobustScaleTransformer",
    "feature_hash": "FeatureHashTransformer",
    "dedup": "DedupTransformer",
    "contamination": "ContaminationTransformer",
    "text_analysis": "TextAnalysisTransformer",
    "model_score": "ModelScoreTransformer",
    "lm_score": "LmScoreTransformer",
    "pii": "PiiTransformer",
    "k_anonymity": "KAnonymityTransformer",
    "l_diversity": "LDiversityTransformer",
    "t_closeness": "TClosenessTransformer",
    "chunk": "ChunkTransformer",
    "bpe_tokenize": "BpeTokenizeTransformer",
    "pack": "PackTransformer",
    "token_frequency": "TokenFrequencyTransformer",
    "hash_sample": "HashSampleTransformer",
    "negative_sample": "NegativeSampleTransformer",
    "decontaminate": "DecontaminateTransformer",
    "dsir": "DsirTransformer",
    "mix": "MixTransformer",
    "cap_per_group": "CapPerGroupTransformer",
    "balance_classes": "BalanceClassesTransformer",
    "multimodal": "MultimodalTransformer",
}


# star-import support under PEP 562 (ADVICE r12): without __all__,
# `from ...operators import *` binds only already-materialized names
__all__ = sorted(_EXPORTS)


def __getattr__(name: str):
    """PEP 562 lazy re-export: import the defining module on first use."""
    try:
        module = _EXPORTS[name]
    except KeyError:
        raise AttributeError(
            f"module {__name__!r} has no attribute {name!r}"
        ) from None
    value = getattr(importlib.import_module(module), name)
    globals()[name] = value  # cache: next access skips __getattr__
    return value


def __dir__():
    return sorted(set(globals()) | set(_EXPORTS))


class _LazyTransformerRegistry(dict):
    """Dict of type-key -> Transformer instance, instantiated on first
    lookup. Supports the access patterns the codebase uses: ``[key]``,
    ``.get(key)``, ``key in registry``, truthiness, iteration/len over
    the FULL key space (instantiated ∪ spec-backed, minus explicit
    deletions — ADVICE r12), and user overrides via
    ``register_transformer`` (a plain ``__setitem__``, which always
    wins over the spec table). Deletion semantics: ``del``/``pop`` of a
    USER OVERRIDE removes just the override — the spec default
    resurfaces (the register/unregister round trip r12 locked in
    tests). Deleting the spec-made instance, or a spec-backed key that
    was never materialized, leaves a tombstone so unregistering a
    built-in sticks instead of being silently resurrected by
    ``__missing__`` (ADVICE r12)."""

    def __init__(self):
        super().__init__()
        self._tombstones: set = set()
        self._spec_made: set = set()

    def __missing__(self, key):
        if key in self._tombstones:
            raise KeyError(key)
        cls_name = _TRANSFORMER_SPECS[key]  # KeyError -> caller's miss
        instance = __getattr__(cls_name)()
        self[key] = instance
        self._spec_made.add(key)
        return instance

    def __setitem__(self, key, value):
        self._tombstones.discard(key)
        self._spec_made.discard(key)
        dict.__setitem__(self, key, value)

    def __delitem__(self, key):
        if dict.__contains__(self, key):
            was_spec_made = key in self._spec_made
            dict.__delitem__(self, key)
            self._spec_made.discard(key)
            if was_spec_made or key not in _TRANSFORMER_SPECS:
                # removing the spec-made instance = unregister the
                # built-in; removing a non-spec key just removes it
                if key in _TRANSFORMER_SPECS:
                    self._tombstones.add(key)
            # else: user override removed — spec default resurfaces
            return
        if key not in _TRANSFORMER_SPECS or key in self._tombstones:
            raise KeyError(key)
        self._tombstones.add(key)

    def pop(self, key, *default):
        try:
            value = self[key]  # materializes spec-backed entries
        except KeyError:
            if default:
                return default[0]
            raise
        del self[key]
        return value

    def get(self, key, default=None):
        try:
            return self[key]
        except KeyError:
            return default

    def __contains__(self, key):
        if key in self._tombstones:
            return dict.__contains__(self, key)
        return dict.__contains__(self, key) or key in _TRANSFORMER_SPECS

    def _all_keys(self):
        live = set(dict.keys(self)) | (
            set(_TRANSFORMER_SPECS) - self._tombstones
        )
        return sorted(live)

    def __iter__(self):
        return iter(self._all_keys())

    def __len__(self):
        return len(self._all_keys())

    def keys(self):
        return self._all_keys()

    def items(self):
        return [(k, self[k]) for k in self._all_keys()]

    def values(self):
        return [self[k] for k in self._all_keys()]

    def __bool__(self):
        return True


TRANSFORMER_REGISTRY = _LazyTransformerRegistry()


def register_transformer(type_key: str, transformer) -> None:
    """User extension point (parity: ``pipeline/TransformerRegistry.scala:40-42``)."""
    TRANSFORMER_REGISTRY[type_key.lower()] = transformer
