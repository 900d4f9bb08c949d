"""N-gram language-model scoring: train a bigram LM on a corpus, score
documents by smoothed log-probability — the KenLM-style perplexity
filter of production curation stacks (quality gating by "does this read
like natural language"), self-contained on Spark with no model runtime.

Beyond-reference operator (the reference has no scoring surface); gives
the ``model_score`` hook a REAL trained model rather than an injected
scorer: ``train_bigram_lm`` + ``score_with_bigram_lm`` compose into the
standard train-on-reference-corpus → score-candidate-corpus flow.

100-TB design
-------------
- Training is two groupBy-count aggregations over exploded tokens /
  bigrams (map-side partial, one shuffle each); ``min_count`` prunes the
  tail so the model stays broadcast-sized (a 1M-type vocab with pruned
  bigrams is tens of MB — far under the broadcast threshold at default
  10MB? pass ``broadcast_model=False`` to fall back to shuffle joins
  when the model outgrows broadcast).
- Scoring explodes candidate docs to bigram rows and LEFT-joins the
  (broadcast) count tables — with broadcast there is exactly ONE
  shuffle, the per-document re-aggregation on doc id.
- The only driver-side materialization is the vocabulary size (one
  ``count()`` scalar, O(1) rows) — documented driver point.
- Tokenization uses the explicit ASCII whitespace class ``[ \\t\\n\\f\\r]``
  shared with the DuckDB oracle (RE2 ``\\s`` excludes ``\\x0B`` while
  Java's includes it — the drift class flagged in round-3 ADVICE).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_spark_gradle_spark.operators.base import TransformationError, _BaseTransformer

_WS = r"[ \t\n\f\r]+"


def _tokens(text_col: str, lowercase: bool = True):
    c = F.trim(F.col(text_col))
    if lowercase:
        c = F.lower(c)
    # split of '' yields [''] — filter empties so 0/1-token docs produce
    # no bigrams instead of degenerate ('','') ones
    return F.filter(F.split(c, _WS), lambda t: t != F.lit(""))


def _bigrams(toks):
    return F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda x, i: F.struct(
            x.alias("w1"), F.element_at(toks, i + F.lit(2)).alias("w2")
        ),
    )


@dataclass(frozen=True)
class BigramLM:
    """Trained model: two count tables + the vocabulary size."""

    unigrams: DataFrame  # (w, c1)
    bigrams: DataFrame  # (w1, w2, c2)
    vocab_size: int


def train_bigram_lm(
    corpus: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    lowercase: bool = True,
) -> BigramLM:
    """Count unigrams and bigrams over the corpus (two partial-agg
    shuffles); ``min_count`` prunes rare bigrams to bound model size.
    ``vocab_size`` (the add-one smoothing denominator term) is counted
    BEFORE pruning so probabilities stay properly normalized."""
    toks = corpus.select(_tokens(text_col, lowercase).alias("t"))
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c1"))
    )
    vocab_size = uni.count()  # O(1) driver scalar — documented
    big = (
        toks.select(F.explode(_bigrams(F.col("t"))).alias("b"))
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c2"))
    )
    if min_count > 1:
        big = big.filter(F.col("c2") >= min_count)
        uni = uni.filter(F.col("c1") >= 1)  # unigrams stay complete
    return BigramLM(unigrams=uni, bigrams=big, vocab_size=vocab_size)


def score_with_bigram_lm(
    docs: DataFrame,
    lm: BigramLM,
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
    broadcast_model: bool = True,
) -> DataFrame:
    """Per-document add-one-smoothed bigram log-probability.

    Output columns per document (docs with <2 tokens are dropped — no
    bigram evidence):

    - ``n_bigrams``, ``sum_c2``, ``sum_c1``, ``oov_bigrams`` — exact
      integer evidence (matched bigram count mass, context mass, unseen
      bigrams); these are the cross-engine-verifiable core.
    - ``avg_logprob`` — mean ln((c2+1)/(c1+V)) over the doc's bigrams
      (the quality signal: higher = more reference-like text);
      ``ppl`` = exp(-avg_logprob), the conventional perplexity.
    """
    uni, big = lm.unigrams, lm.bigrams
    if broadcast_model:
        uni, big = F.broadcast(uni), F.broadcast(big)
    toks = docs.select(F.col(id_col).alias("__id"), _tokens(text_col, lowercase).alias("t"))
    db = toks.select("__id", F.explode(_bigrams(F.col("t"))).alias("b")).select(
        "__id", "b.w1", "b.w2"
    )
    joined = (
        db.join(big, ["w1", "w2"], "left")
        .join(uni.withColumnRenamed("w", "w1"), ["w1"], "left")
        .select(
            "__id",
            F.coalesce(F.col("c2"), F.lit(0)).alias("c2"),
            F.coalesce(F.col("c1"), F.lit(0)).alias("c1"),
        )
    )
    v = float(lm.vocab_size)
    logp = F.log((F.col("c2") + 1).cast("double") / (F.col("c1") + F.lit(v)))
    out = joined.groupBy("__id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.sum("c2").cast("long").alias("sum_c2"),
        F.sum("c1").cast("long").alias("sum_c1"),
        F.sum(F.when(F.col("c2") == 0, 1).otherwise(0)).cast("long").alias("oov_bigrams"),
        F.avg(logp).alias("avg_logprob"),
    )
    return out.select(
        F.col("__id").alias(id_col),
        "n_bigrams",
        "sum_c2",
        "sum_c1",
        "oov_bigrams",
        "avg_logprob",
        F.exp(-F.col("avg_logprob")).alias("ppl"),
    )


class LmScoreTransformer(_BaseTransformer):
    """Registry adapter (``type: lm_score``): train on the input frame
    itself or a reference ``trainPath`` parquet, annotate each document
    with the LM evidence + perplexity. Options: ``idColumn`` (required),
    ``textColumn`` (default ``text``), ``trainPath`` (optional parquet of
    reference text with the same ``textColumn``), ``minCount`` (bigram
    prune, default 1), ``action`` annotate|replace (default annotate)."""

    def validate(self, df: DataFrame, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        opts = config.options
        errors = []
        if not opts.get("idColumn"):
            errors.append("lm_score requires 'idColumn'")
        elif opts["idColumn"] not in df.columns:
            errors.append(f"column not in input schema: {opts['idColumn']}")
        tc = opts.get("textColumn", "text")
        if tc not in df.columns:
            errors.append(f"column not in input schema: {tc}")
        if opts.get("action", "annotate") not in ("annotate", "replace"):
            errors.append("lm_score action must be annotate|replace")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        opts = config.options
        ic = opts["idColumn"]
        tc = opts.get("textColumn", "text")
        if opts.get("trainPath"):
            corpus = df.sparkSession.read.parquet(opts["trainPath"])
        else:
            corpus = df
        lm = train_bigram_lm(corpus, tc, min_count=int(opts.get("minCount", 1)))
        scores = score_with_bigram_lm(df, lm, id_col=ic, text_col=tc)
        if opts.get("action", "annotate") == "replace":
            return scores
        return df.join(scores, ic, "left")
