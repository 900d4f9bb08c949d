"""Collocation mining: PMI-scored adjacent bigrams (word2phrase).

Beyond-reference LLM-pipeline operator: phrase detection à la
Mikolov et al. 2013 ("New York" → one token) scores every adjacent
word pair by pointwise mutual information — how much more often the
pair co-occurs than its unigram frequencies predict:

    PMI(a,b) = ln( P(ab) / (P(a)·P(b)) )
             = ln( (c_ab/N_bi) / ((c_a/N_uni)·(c_b/N_uni)) )

Spark-first plan: two exploding aggregations over the corpus (bigram
counts and unigram counts — each with map-side partial combine, so the
shuffles carry vocabulary-sized state, not token streams), two
vocab-sized joins to attach the marginals, then pure expression math.
The corpus text is read once per count (one scan if the two counts are
computed from a cached tokenized projection; at 100 TB the dominant
cost is the token explosion itself, which no phrase miner avoids).

Cross-engine determinism: counts are exact integers; the likelihood
RATIO is closed as doubles in a fixed operand order
``(c_ab/N_bi) / ((c_a/N_uni) * (c_b/N_uni))`` (each step correctly
rounded under IEEE-754 — bit-identical on any engine). The ``pmi``
column is ``ln(ratio)`` — libm's ``log`` is NOT guaranteed identical
across platforms in the last ulp, so oracle-gated queries should
compare ``ratio`` (monotonic with PMI, same ranking) and pin ``pmi``
against ``math.log`` in unit tests (the bm25/lm_score posture).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_spark_gradle_spark.operators.relational import TransformationError, _BaseTransformer
from etl_spark_gradle_spark.operators.text import tokens

__all__ = ["pmi_bigrams", "PmiTransformer"]


def pmi_bigrams(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 2,
    top_k: int | None = None,
    lowercase: bool = True,
) -> DataFrame:
    """Adjacent-bigram PMI table: ``(a, b, c_ab, c_a, c_b, ratio,
    pmi)``, filtered to ``c_ab >= min_count`` and optionally cut to the
    deterministic ``top_k`` by (ratio desc, a, b)."""
    if text_col not in df.columns:
        raise TransformationError(f"text column not in input schema: {text_col}")
    if min_count < 1:
        raise TransformationError("pmi_bigrams requires min_count >= 1")
    toks = tokens(text_col)
    if lowercase:
        toks = F.transform(toks, F.lower)
    words = df.select(toks.alias("_w"))

    uni = (
        words.select(F.explode("_w").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    bi = (
        words.where(F.size("_w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(_w) - 2), "
                    "i -> struct(_w[i] AS a, _w[i + 1] AS b))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )
    n_uni = uni.agg(F.sum("c").cast("double").alias("_nu"))
    # N_bi is the UNPRUNED bigram total — min_count prunes candidates,
    # not the probability denominator
    n_bi = bi.agg(F.sum("c_ab").cast("double").alias("_nb"))
    if min_count > 1:
        bi = bi.filter(F.col("c_ab") >= min_count)

    out = (
        bi.join(F.broadcast(uni.withColumnRenamed("w", "a").withColumnRenamed("c", "c_a")), "a")
        .join(F.broadcast(uni.withColumnRenamed("w", "b").withColumnRenamed("c", "c_b")), "b")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
    )
    ratio = (F.col("c_ab").cast("double") / F.col("_nb")) / (
        (F.col("c_a").cast("double") / F.col("_nu"))
        * (F.col("c_b").cast("double") / F.col("_nu"))
    )
    out = out.select(
        "a",
        "b",
        "c_ab",
        "c_a",
        "c_b",
        ratio.alias("ratio"),
        F.log(ratio).alias("pmi"),
    )
    if top_k is not None:
        out = out.orderBy(
            F.col("ratio").desc(), F.col("a"), F.col("b")
        ).limit(top_k)
    return out


class PmiTransformer(_BaseTransformer):
    """Registry adapter (``type: pmi``). Options: ``textColumn``
    (default text), ``minCount`` (default 2), ``topK`` (optional),
    ``lowercase`` true|false (default true)."""

    def validate(self, df, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        tc = opts.get("textColumn", "text")
        if tc not in df.columns:
            errors.append(f"text column not in input schema: {tc}")
        try:
            if int(opts.get("minCount", 2)) < 1:
                errors.append("minCount must be >= 1")
        except (TypeError, ValueError):
            errors.append("minCount must be an integer")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        top_k = opts.get("topK")
        return pmi_bigrams(
            df,
            text_col=opts.get("textColumn", "text"),
            min_count=int(opts.get("minCount", 2)),
            top_k=int(top_k) if top_k is not None else None,
            lowercase=str(opts.get("lowercase", "true")).lower() != "false",
        )
