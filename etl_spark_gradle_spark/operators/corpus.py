"""Corpus-assembly operators: document chunking, sequence packing,
token-frequency statistics, and deterministic hash sampling.

These cover the "turn a curated corpus into training batches" tail of an
LLM data pipeline (beyond the reference's envelope — its scalar surface
`transformer/MapTransformer.scala:58` is the substrate the expressions
compile onto):

- :func:`chunk_documents` — split each document into fixed-token-budget
  chunks with optional overlap (context-window preparation)
- :func:`pack_sequences` — GPT-style concat-and-split packing: assign
  each document a (sequence id, offset) as if the corpus were
  concatenated in key order and cut every ``max_tokens``
- :func:`token_frequency` — corpus-wide token counts / top-k vocabulary
- :func:`hash_sample` — deterministic md5-threshold sampling with
  optional per-stratum fractions (reproducible corpus mixing; the
  cross-engine-stable alternative to ``sample_rows``/``sampleBy``)

100-TB design notes
-------------------
- Chunking is a narrow per-row expression (``split``/``slice``) plus one
  ``posexplode`` — no shuffle; output rows stay on the partition that
  produced them.
- Packing needs a running token total, i.e. an ordered window. A single
  global window would serialize the corpus through one task, so packing
  is *sharded*: rows are hash-assigned to ``shards`` independent
  windows, each packed separately (sequence ids are (shard, seq) pairs).
  At 1000 executors, ``shards`` >= cluster parallelism keeps every core
  busy; the only shuffle is the one hash partition by shard.
- Token frequency is explode + two-phase hash aggregation: map-side
  partial counts absorb each partition's repeats, so shuffle bytes are
  bounded by distinct tokens per partition, not corpus tokens. Top-k
  plans as TakeOrderedAndProject (per-partition heaps, no global sort).
- Hash sampling is a pure Catalyst predicate on ``md5(key)`` — the scan
  filter runs before anything else and the same keys are kept on every
  run, on any engine, at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_spark_gradle_spark.options import parse_bool
from etl_spark_gradle_spark.operators.relational import (
    TransformationError,
    _BaseTransformer,
    _split_csv,
    broadcast_group_join,
)
from etl_spark_gradle_spark.plans.config import ValidationResult
from etl_spark_gradle_spark.operators.text import tokens


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    chunk_tokens: int = 512,
    overlap: int = 0,
    out_prefix: str = "chunk_",
) -> DataFrame:
    """Split documents into fixed-token-budget chunks with optional
    token overlap between consecutive chunks.

    Output: one row per chunk with the id column,
    ``{prefix}idx`` (0-based), ``{prefix}text`` (space-rejoined tokens),
    and ``{prefix}tokens`` (chunk token count; only the final chunk of a
    document may be short). Empty documents produce no chunks.

    Chunk starts are ``1, 1+stride, ...`` (``stride = chunk_tokens -
    overlap``) while ``start <= max(n_tokens - overlap, 1)`` — so every
    token is covered and no chunk is pure overlap.
    """
    if chunk_tokens < 1:
        raise TransformationError(f"chunk_tokens must be >= 1: {chunk_tokens}")
    if overlap < 0 or overlap >= chunk_tokens:
        raise TransformationError(
            f"overlap must be in [0, chunk_tokens): {overlap}"
        )
    stride = chunk_tokens - overlap
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size("__tk") - overlap, F.lit(1)),
        F.lit(stride),
    )
    p = out_prefix
    exploded = (
        df.select(F.col(id_col), tokens(text_col).alias("__tk"))
        .filter(F.size("__tk") > 0)
        .select(F.col(id_col), F.col("__tk"), F.posexplode(starts))
    )
    chunk = F.slice(F.col("__tk"), F.col("col"), chunk_tokens)
    return exploded.select(
        F.col(id_col),
        F.col("pos").cast("int").alias(p + "idx"),
        F.array_join(chunk, " ").alias(p + "text"),
        F.size(chunk).cast("long").alias(p + "tokens"),
    )


def pack_sequences(
    df: DataFrame,
    key_col: str,
    token_count_col: str | Column,
    max_tokens: int,
    shards: int = 64,
    shard_col: str | None = None,
) -> DataFrame:
    """Concat-and-split sequence packing: documents are laid end-to-end
    in ``key_col`` order and cut every ``max_tokens`` tokens; each row
    gets the sequence it *starts* in and its token offset there.

    Adds ``pack_shard``, ``pack_seq`` (0-based within the shard), and
    ``pack_offset``. A document longer than ``max_tokens`` spans
    sequences; it is assigned where it starts (the trainer's splitter
    handles spill, exactly like GPT-style pretraining packing).

    Sharding: a global ordered window is a single-task bottleneck, so
    rows are split into ``shards`` independent packing streams by
    ``key % shards`` (or an explicit ``shard_col``). Each shard's
    sequences are dense from 0; global sequence ids are the
    (pack_shard, pack_seq) pair.
    """
    if max_tokens < 1:
        raise TransformationError(f"max_tokens must be >= 1: {max_tokens}")
    if shards < 1:
        raise TransformationError(f"shards must be >= 1: {shards}")
    tc = (
        F.col(token_count_col)
        if isinstance(token_count_col, str)
        else token_count_col
    )
    shard = (
        F.col(shard_col)
        if shard_col is not None
        else F.pmod(F.col(key_col).cast("bigint"), F.lit(shards))
    )
    out = df.withColumn("pack_shard", shard.cast("bigint"))
    w = Window.partitionBy("pack_shard").orderBy(F.col(key_col))
    start = (F.sum(tc).over(w) - tc).cast("bigint")
    return out.withColumn(
        "pack_seq", F.floor(start / max_tokens).cast("bigint")
    ).withColumn("pack_offset", (start % max_tokens).cast("bigint"))


def token_frequency(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    top_k: int | None = None,
    lowercase: bool = False,
) -> DataFrame:
    """Corpus-wide token frequency: ``(token, freq)`` rows, optionally
    lower-cased, filtered to ``freq >= min_count``, and cut to the
    ``top_k`` most frequent (ties broken by token ascending, so the
    result is deterministic)."""
    toks = tokens(text_col)
    if lowercase:
        toks = F.transform(toks, F.lower)
    out = (
        df.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    if min_count > 1:
        out = out.filter(F.col("freq") >= min_count)
    if top_k is not None:
        out = out.orderBy(F.col("freq").desc(), F.col("token")).limit(top_k)
    return out


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 2,
    top_k: int | None = None,
    lowercase: bool = True,
) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary — OLS of
    ``ln(freq)`` on ``ln(rank)``. Natural text follows
    ``freq ∝ rank^s`` with ``s ≈ −1``; a slope far from −1 (or a low
    r²) is a corpus-health smell: template/boilerplate floods flatten
    the head, synthetic or deduplicated-to-death text steepens it.
    The standard one-number diagnostic next to
    :func:`~etl_spark_gradle_spark.operators.text.with_text_stats`'
    per-document signals.

    Ranks (1 = most frequent, ties broken token-ascending) come from
    ``evaluation._global_rank_desc``'s two-level scan — vocabulary-
    sized input, NO single-partition window. Both logs are rounded to
    9 dp and cast to exact ``decimal(12,9)`` so the OLS moment sums
    are exact decimal (the module's cross-engine posture — a float
    Σln accumulates partition-order dependently); the closed form
    applies float math only to the final ≤6 scalars, string-round-
    tripped (``stats._d``). ``min_count`` trims the hapax tail
    (default 2 — rank-frequency fits conventionally drop count-1
    types); ``top_k`` optionally fits the head only.

    Plan at 100 TB: one explode + token count shuffle (map-side
    combined) reduces the corpus to its vocabulary; everything after
    is vocabulary-sized. One row out: ``n_types`` (long),
    ``slope``/``intercept``/``r2`` (double).

    Reference parity: beyond-reference surface (SURVEY.md §2)."""
    from etl_spark_gradle_spark.operators.evaluation import (
        _global_rank_desc,
    )
    from etl_spark_gradle_spark.operators.stats import _d

    if int(min_count) < 1:
        raise TransformationError("zipf_fit requires min_count >= 1")
    if top_k is not None and int(top_k) < 2:
        raise TransformationError("zipf_fit requires top_k >= 2")
    if text_col not in df.columns:
        raise TransformationError(
            f"zipf_fit: column not in schema: {text_col}"
        )
    freqs = token_frequency(
        df, text_col, min_count=int(min_count), lowercase=lowercase
    )
    ranked = _global_rank_desc(
        freqs.select(
            F.col("freq").alias("_s"), F.col("token").alias("_id")
        )
    )
    if top_k is not None:
        ranked = ranked.where(F.col("_rank") <= int(top_k))
    dec = "decimal(12,9)"
    lx = F.round(F.log(F.col("_rank").cast("double")), 9).cast(dec)
    ly = F.round(F.log(F.col("_s").cast("double")), 9).cast(dec)
    m = ranked.select(lx.alias("_lx"), ly.alias("_ly")).agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("_lx").alias("_sx"),
        F.sum("_ly").alias("_sy"),
        F.sum(F.col("_lx") * F.col("_lx")).alias("_sxx"),
        F.sum(F.col("_ly") * F.col("_ly")).alias("_syy"),
        F.sum(F.col("_lx") * F.col("_ly")).alias("_sxy"),
    )
    n = F.col("n_types").cast("double")
    sx, sy = _d(F.col("_sx")), _d(F.col("_sy"))
    sxx, syy = _d(F.col("_sxx")), _d(F.col("_syy"))
    sxy = _d(F.col("_sxy"))
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    cov = n * sxy - sx * sy
    # sqrt-free r² — the linear_fit posture (fixed operand order)
    return m.select(
        "n_types",
        F.when(vx > 0, cov / vx).alias("slope"),
        F.when(vx > 0, (sy - (cov / vx) * sx) / n).alias("intercept"),
        F.when((vx > 0) & (vy > 0), (cov * cov) / (vx * vy)).alias(
            "r2"
        ),
    )


def dsir_weights(
    train_df: DataFrame,
    target_df: DataFrame,
    id_col: str,
    text_col: str,
    target_text_col: str | None = None,
    n_buckets: int = 10_000,
    use_bigrams: bool = True,
    smoothing: float = 1.0,
    salt: str = "dsir:",
) -> DataFrame:
    """Data Selection via Importance Resampling weights (Xie et al.
    2023, DSIR) — score every training document by how much it looks
    like a small TARGET corpus, under hashed n-gram bag-of-words
    models of both::

        log w(doc) = Σ_features  ln p_target(b) − ln p_raw(b)

    with ``b = portable-hash(feature) % n_buckets`` (the
    :func:`~etl_spark_gradle_spark.operators.features.feature_hash`
    md5-prefix posture — replayable in any engine), features =
    lowercased unigrams (+ word bigrams when ``use_bigrams``, the
    paper's feature set), and add-α smoothed bucket probabilities
    ``p(b) = (c_b + α)/(N + α·B)`` so buckets unseen in the target
    stay finite. This is THE quality-targeting selection op for LLM
    pretraining mixes (score against Wikipedia+books, keep the head);
    compose with ``rank``/``cap_per_group``/``weighted_reservoir``
    for the actual selection (this operator is deliberately the
    deterministic scoring half — the paper's Gumbel-noise sampling is
    a non-reproducible coin flip this repo's oracle gate refuses).

    Reproducibility: each bucket's log-ratio is quantized ONCE to
    integer nano-units on the bucket table
    (``round((ln p_t − ln p_r)·1e9)`` — the cusum posture), so the
    per-document accumulation is an exact LONG sum over exploded
    features (order-free); the single float step per document is one
    division by 1e9. Cross-engine bit-identical.

    Plan at 100 TB: feature hashing rides both scans; the bucket
    table is ≤ ``n_buckets`` rows built from TWO map-side-combined
    count shuffles and BROADCAST to the training explode (the corpus
    is never shuffled on the feature key); the only corpus-sized
    exchange is the final per-doc aggregation. Documents with no
    features (empty text) get log_weight 0 with n_features 0.

    Output: one row per training doc — ``(id_col, n_features
    (long), log_weight (double))``.

    Reference parity: beyond-reference surface (SURVEY.md §2; the
    corpus-selection family next to :func:`decontaminate` and
    :func:`mix_to_target`)."""
    from etl_spark_gradle_spark.operators.text import tokens as _tokens

    if int(n_buckets) < 2:
        raise TransformationError("dsir_weights requires n_buckets >= 2")
    if float(smoothing) <= 0:
        raise TransformationError("dsir_weights requires smoothing > 0")
    t_text = target_text_col or text_col
    for c, frame, side in (
        (id_col, train_df, "train"),
        (text_col, train_df, "train"),
        (t_text, target_df, "target"),
    ):
        if c not in frame.columns:
            raise TransformationError(
                f"dsir_weights: column not in {side} schema: {c}"
            )
    B = int(n_buckets)
    alpha = float(smoothing)

    def feats(col: str):
        # NOTE: bigrams come from zip_with over two slices — per-ROW
        # evaluations of the token array. The tempting per-element
        # form (transform over a sequence of indices with element_at
        # into the tokenizer expression) re-splits the text once PER
        # ELEMENT (measured ~8 ms/doc — quadratic in document length).
        tk = F.transform(_tokens(col), F.lower)
        if not use_bigrams:
            return tk
        n1 = F.greatest(F.size(tk) - 1, F.lit(0))
        return F.concat(
            tk,
            F.zip_with(
                F.slice(tk, 1, n1),
                F.slice(tk, 2, n1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
        )

    def bucket(tok: Column) -> Column:
        h = F.md5(F.concat(F.lit(salt), tok))
        return (
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
            % F.lit(B)
        ).cast("long")

    # ONE corpus pass: explode + hash reduce straight to the per-(doc,
    # bucket) count cells, then pin — this reduced relation feeds BOTH
    # the raw bucket distribution and the final scoring join (separate
    # lineages re-execute the corpus scan otherwise — measured 3.5x
    # the exec time; at production scale this is the natural persist
    # point, docs × min(doc_features, B) rows, never the raw corpus)
    doc_bucket = (
        train_df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.explode(feats(text_col)).alias("_f"))
        .groupBy(id_col, bucket(F.col("_f")).alias("_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        .localCheckpoint(eager=False)
    )
    raw_counts = doc_bucket.groupBy("_b").agg(
        F.sum("_c").cast("long").alias("_cr")
    )
    tgt_counts = (
        target_df.where(F.col(t_text).isNotNull())
        .select(F.explode(feats(t_text)).alias("_f"))
        .groupBy(bucket(F.col("_f")).alias("_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("_ct"))
    )
    # bucket table: only train-observed buckets matter (a doc can only
    # hit buckets its own corpus populated); totals attach as 1-row
    # broadcasts, the log-ratio quantizes ONCE per bucket. ≤ B rows —
    # pinned so the broadcast below doesn't rebuild the three-way join
    nr = raw_counts.agg(F.sum("_cr").cast("long").alias("_nr"))
    nt = tgt_counts.agg(F.sum("_ct").cast("long").alias("_nt"))
    table = (
        raw_counts.join(tgt_counts, "_b", "left")
        .withColumn("_ct", F.coalesce(F.col("_ct"), F.lit(0)))
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nt))
    )
    lp_t = F.log(
        (F.col("_ct").cast("double") + F.lit(alpha))
        / (F.col("_nt").cast("double") + F.lit(alpha) * F.lit(float(B)))
    )
    lp_r = F.log(
        (F.col("_cr").cast("double") + F.lit(alpha))
        / (F.col("_nr").cast("double") + F.lit(alpha) * F.lit(float(B)))
    )
    table = table.select(
        "_b",
        F.round((lp_t - lp_r) * F.lit(1e9)).cast("long").alias("_dlq"),
    ).localCheckpoint(eager=False)
    # per-doc close: exact integer Σ c·dlq over the doc's cells (equal
    # to the per-feature Σ dlq the oracle sums — both exact integers)
    scored = (
        doc_bucket.join(F.broadcast(table), "_b")
        .groupBy(id_col)
        .agg(
            F.sum("_c").cast("long").alias("n_features"),
            F.sum(
                F.col("_c").cast("decimal(38,0)")
                * F.col("_dlq").cast("decimal(38,0)")
            ).cast("long").alias("_q"),
        )
        .select(
            id_col,
            "n_features",
            (F.col("_q").cast("double") / F.lit(1e9)).alias(
                "log_weight"
            ),
        )
    )
    # featureless docs (empty/NULL text) score 0 with 0 features
    base = train_df.select(id_col).distinct()
    return (
        base.join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_features"), F.lit(0)).alias(
                "n_features"
            ),
            F.coalesce(F.col("log_weight"), F.lit(0.0)).alias(
                "log_weight"
            ),
        )
    )


def hash_sample(
    df: DataFrame,
    key_col: str,
    fraction: float | None = None,
    fractions: dict[str, float] | None = None,
    strata_col: str | None = None,
    salt: str = "",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic sampling by content hash: keep a row iff the first
    8 hex chars of ``md5('sample:' || key || salt)`` fall below the
    fraction threshold. The same keys are kept on every run and on any
    engine — the reproducible alternative to seeded ``rand()``
    sampling, and the standard way to mix corpus sources at fixed
    proportions (``fractions`` per ``strata_col`` value,
    ``default_fraction`` for unlisted strata).

    The ``sample:`` domain tag makes this hash independent of
    ``hash_split``/``cap_per_group`` over the same key: without it,
    sampling at fraction f keeps exactly the keys a downstream split
    would send to train (both read low-md5 ranges), so every val/test
    bucket past f would be EMPTY.
    """
    if (fraction is None) == (fractions is None):
        raise TransformationError(
            "hash_sample needs exactly one of fraction / fractions"
        )
    if fractions is not None and strata_col is None:
        raise TransformationError("fractions requires strata_col")

    def _threshold(f: float) -> str:
        if not 0.0 <= f <= 1.0:
            raise TransformationError(f"fraction must be in [0, 1]: {f}")
        # fraction 1.0 can't be an 8-hex-char bound; "g" sorts after
        # every hex digit, so `bucket < "g"` keeps all rows
        return "g" if f >= 1.0 else format(int(f * 16**8), "08x")

    bucket = F.substring(
        F.md5(F.concat(F.lit("sample:"), F.col(key_col).cast("string"), F.lit(salt))), 1, 8
    )
    if fraction is not None:
        return df.filter(bucket < F.lit(_threshold(fraction)))
    limit: Column = F.lit(_threshold(default_fraction))
    for value, f in sorted(fractions.items()):
        limit = F.when(
            F.col(strata_col) == value, F.lit(_threshold(f))
        ).otherwise(limit)
    return df.filter(bucket < limit)


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    target_count: int,
    salt: str = "",
) -> DataFrame:
    """Deterministic probability-proportional-to-size (PPS) Poisson
    sampling: keep row *i* with probability ``p_i = min(1, target ·
    w_i / Σw)`` — expected sample size ≈ ``target_count``, higher-weight
    rows (quality scores, dedup-cluster sizes, citation counts)
    proportionally more likely to survive. The curation counterpart of
    :func:`hash_sample`'s uniform thresholds.

    Deterministic end-to-end: the uniform draw is the ``md5`` bucket
    (``wsample:`` domain tag — independent of sample/split/cap hashes
    over the same key), and Σw is an EXACT ``decimal(18,6)`` sum (the
    float total would be partition-order dependent — the same
    cross-engine hazard stats.py documents), so the kept set is
    identical on every run and engine. Weights are assumed to carry
    ≤ 6 decimal digits (the stats.py contract, relaxed to 6);
    non-positive/null weights get p = 0.

    One tiny aggregate (Σw) broadcast back; the corpus itself is
    never shuffled — the keep test is a scan predicate.
    """
    if target_count < 0:
        raise TransformationError("weighted_sample requires target_count >= 0")
    for c in (key_col, weight_col):
        if c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")
    w = F.col(weight_col).cast("decimal(18,6)")
    totals = df.agg(
        F.sum(F.when(w > 0, w)).cast("string").cast("double").alias("_tw")
    )
    # fixed operand order (target * w) / tw — the oracle spells the same
    p = F.least(
        F.lit(1.0),
        (F.lit(float(target_count)) * F.col(weight_col).cast("double"))
        / F.col("_tw"),
    )
    thr = F.when(p >= 1.0, F.lit("g")).otherwise(
        F.format_string("%08x", F.floor(p * F.lit(4294967296.0)).cast("long"))
    )
    bucket = F.substring(
        F.md5(
            F.concat(F.lit("wsample:"), F.col(key_col).cast("string"), F.lit(salt))
        ),
        1,
        8,
    )
    keep = (
        F.col(weight_col).isNotNull()
        & (F.col(weight_col).cast("double") > 0.0)
        & (bucket < thr)
    )
    return (
        df.crossJoin(F.broadcast(totals)).filter(keep).drop("_tw")
    )


def weighted_reservoir(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    strata_col: str | None = None,
    salt: str = "",
    priority_col: str | None = None,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — the
    Efraimidis–Spirakis A-ES scheme (Inf. Proc. Letters 2006): each
    row draws priority ``u^(1/w)`` and the top-``k`` priorities win,
    yielding EXACTLY ``min(k, n_positive)`` rows (per stratum with
    ``strata_col``) where :func:`weighted_sample`'s Poisson-PPS design
    only hits the target in expectation. The curation shape for "give
    me exactly 10k docs per source, quality-weighted".

    Deterministic end-to-end: the uniform draw is the md5 bucket
    (``wres:`` domain tag, independent of the sample/split/cap/wsample
    hashes over the same key) mapped to ``(bucket + 0.5) / 2^32`` ∈
    (0, 1); the comparison key is the monotone log form ``ln(u)/w``
    (maximized — for w>0, u^(1/w) order ≡ ln(u)/w order), computed in
    two fixed IEEE ops so any engine spelling the same arithmetic
    ranks identically; ties (only possible on md5 collisions) break by
    key. Null/non-positive weights never win a slot.

    Plan at 100 TB: priorities are scan-riding expressions; the
    top-k is ``row_number`` over (strata) — a PARTIAL WindowGroupLimit
    keeps ≤k rows per map task before the single strata-keyed
    exchange, so the shuffle carries ≤ k·tasks rows, never the
    corpus."""
    if k <= 0:
        raise TransformationError("weighted_reservoir requires k > 0")
    for c in (key_col, weight_col, *( [strata_col] if strata_col else [] )):
        if c not in df.columns:
            raise TransformationError(f"column not in input schema: {c}")
    bucket = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("wres:"), F.col(key_col).cast("string"), F.lit(salt)
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    u = (bucket.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    w = F.col(weight_col).cast("double")
    pri = F.when(w > 0.0, F.log(u) / w)
    parts = [F.col(strata_col)] if strata_col else []
    win = Window.partitionBy(*parts).orderBy(
        pri.desc_nulls_last(), F.col(key_col).cast("string").asc()
    )
    out = df.withColumn("_wr_pri", pri).withColumn(
        "_wr_rn", F.row_number().over(win)
    )
    out = out.where(F.col("_wr_rn") <= int(k)).where(
        F.col("_wr_pri").isNotNull()
    )
    if priority_col:
        out = out.withColumn(priority_col, F.col("_wr_pri"))
    return out.drop("_wr_pri", "_wr_rn")


def cap_per_group(
    df: DataFrame,
    group_cols: list[str],
    max_rows: int,
    order_col: str,
    salt: str = "",
) -> DataFrame:
    """Keep at most ``max_rows`` rows per group — the crawl-balancing
    step that stops a handful of giant domains/sources from dominating a
    training mix (per-domain caps in web-corpus curation).

    Survivors are chosen deterministically: rows are ranked inside each
    group by ``md5('cap:' || order_col || salt)`` (content-hash order —
    unbiased, reproducible on any engine, re-runnable) and ranks >
    ``max_rows`` are dropped. The ``cap:`` domain tag keeps this hash
    INDEPENDENT of ``hash_split``/``hash_sample`` over the same key —
    without it, capping keeps exactly the low-md5 rows that a
    downstream split assigns to train, starving the val/test buckets
    (observed: a 10 % val split collapsed to 0.3 % when cap and split
    shared the raw ``md5(key)``). Plans as WindowGroupLimit: each task keeps only its
    local top-``max_rows`` per group BEFORE the exchange, so the shuffle
    carries at most ``groups x max_rows`` rows — the same partial-top-k
    shape as ranking/exact-dedup survivor selection. Ties on the full
    hash are broken by the raw key so the cut is total.
    """
    if max_rows < 1:
        raise TransformationError("cap_per_group max_rows must be >= 1")
    if not group_cols:
        raise TransformationError("cap_per_group requires group columns")
    if not order_col:
        # A group column would be constant inside its group, making the
        # md5 rank key identical for every row and survivor choice a
        # function of partition scan order — silently nondeterministic.
        raise TransformationError(
            "cap_per_group requires order_col: a per-row key (e.g. the "
            "document id) that varies WITHIN each group; group columns "
            "are constant per group and would make survivor selection "
            "depend on scan order"
        )
    key = F.col(order_col)
    rank_key = F.md5(F.concat(F.lit("cap:"), key.cast("string"), F.lit(salt)))
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(
        rank_key.asc(), key.cast("string").asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_rows)
        .drop("__rn")
    )


class CapPerGroupTransformer(_BaseTransformer):
    """Registry adapter (``type: cap_per_group``). Options:
    ``groupBy`` (comma list, required), ``maxRows`` (required),
    ``orderColumn`` (hash-rank key, required — must vary within each
    group for deterministic survivors), ``salt``."""

    def validate(self, df: DataFrame, config) -> ValidationResult:
        opts = config.options
        errors = []
        groups = [c.strip() for c in opts.get("groupBy", "").split(",") if c.strip()]
        if not groups:
            errors.append("cap_per_group requires 'groupBy'")
        errors += [
            f"column not in input schema: {c}" for c in groups if c not in df.columns
        ]
        if not str(opts.get("maxRows", "")).isdigit():
            errors.append("cap_per_group requires integer 'maxRows'")
        oc = opts.get("orderColumn")
        if not oc:
            errors.append(
                "cap_per_group requires 'orderColumn' (a per-row key that "
                "varies within each group; deterministic survivor choice)"
            )
        elif oc not in df.columns:
            errors.append(f"column not in input schema: {oc}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        opts = config.options
        groups = [c.strip() for c in opts["groupBy"].split(",") if c.strip()]
        return cap_per_group(
            df,
            groups,
            max_rows=int(opts["maxRows"]),
            order_col=opts.get("orderColumn"),
            salt=opts.get("salt", ""),
        )


def _opt_int(opts: dict, key: str, default: int) -> int:
    try:
        return int(opts.get(key, default))
    except (TypeError, ValueError):
        raise TransformationError(f"{key} must be an integer: {opts.get(key)!r}")


class ChunkTransformer(_BaseTransformer):
    """Registry adapter (``type: chunk``). Options: ``idColumn``,
    ``textColumn`` (default ``text``), ``chunkTokens`` (default 512),
    ``overlap`` (default 0)."""

    def validate(self, df: DataFrame, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        if opts.get("idColumn", "") not in df.columns:
            errors.append(f"idColumn not in input schema: {opts.get('idColumn')!r}")
        if opts.get("textColumn", "text") not in df.columns:
            errors.append(f"textColumn not in input schema: {opts.get('textColumn')!r}")
        try:
            ct = _opt_int(opts, "chunkTokens", 512)
            ov = _opt_int(opts, "overlap", 0)
            if ct < 1 or ov < 0 or ov >= ct:
                errors.append("need chunkTokens >= 1 and 0 <= overlap < chunkTokens")
        except TransformationError as e:
            errors.append(str(e))
        return ValidationResult.fail(*errors) if errors else ValidationResult.ok()

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        opts = config.options
        return chunk_documents(
            df,
            id_col=opts["idColumn"],
            text_col=opts.get("textColumn", "text"),
            chunk_tokens=_opt_int(opts, "chunkTokens", 512),
            overlap=_opt_int(opts, "overlap", 0),
        )


class PackTransformer(_BaseTransformer):
    """Registry adapter (``type: pack``). Options: ``keyColumn``,
    ``tokenCountColumn``, ``maxTokens``, optional ``shards`` (default
    64) / ``shardColumn``."""

    def validate(self, df: DataFrame, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        for key in ("keyColumn", "tokenCountColumn"):
            if opts.get(key, "") not in df.columns:
                errors.append(f"{key} not in input schema: {opts.get(key)!r}")
        sc = opts.get("shardColumn")
        if sc is not None and sc not in df.columns:
            errors.append(f"shardColumn not in input schema: {sc!r}")
        try:
            if _opt_int(opts, "maxTokens", 0) < 1:
                errors.append("maxTokens must be >= 1")
            if _opt_int(opts, "shards", 64) < 1:
                errors.append("shards must be >= 1")
        except TransformationError as e:
            errors.append(str(e))
        return ValidationResult.fail(*errors) if errors else ValidationResult.ok()

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        opts = config.options
        return pack_sequences(
            df,
            key_col=opts["keyColumn"],
            token_count_col=opts["tokenCountColumn"],
            max_tokens=_opt_int(opts, "maxTokens", 0),
            shards=_opt_int(opts, "shards", 64),
            shard_col=opts.get("shardColumn"),
        )


class TokenFrequencyTransformer(_BaseTransformer):
    """Registry adapter (``type: token_frequency``). Options:
    ``textColumn`` (default ``text``), ``minCount`` (default 1),
    ``topK`` (optional), ``lowercase`` (default false)."""

    def validate(self, df: DataFrame, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        if opts.get("textColumn", "text") not in df.columns:
            errors.append(f"textColumn not in input schema: {opts.get('textColumn')!r}")
        try:
            if _opt_int(opts, "minCount", 1) < 1:
                errors.append("minCount must be >= 1")
            if "topK" in opts and _opt_int(opts, "topK", 0) < 1:
                errors.append("topK must be >= 1")
        except TransformationError as e:
            errors.append(str(e))
        return ValidationResult.fail(*errors) if errors else ValidationResult.ok()

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        opts = config.options
        return token_frequency(
            df,
            text_col=opts.get("textColumn", "text"),
            min_count=_opt_int(opts, "minCount", 1),
            top_k=_opt_int(opts, "topK", 0) if "topK" in opts else None,
            lowercase=str(opts.get("lowercase", "false")).lower() == "true",
        )


def mix_to_target(
    df: DataFrame,
    group_col: str,
    targets: dict[str, float],
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """Resample a corpus so its group proportions hit a TARGET mixture
    (the data-mixture step of training-set assembly: "40% web, 30%
    code, 30% books") while keeping the maximum possible amount of
    data.

    Solver: with group counts ``n_g`` and targets ``t_g``, the largest
    achievable (expected) output is ``N = min_g(n_g / t_g)``; each
    group keeps rate ``r_g = t_g * N / n_g`` — the binding group keeps
    everything (rate 1.0), every other group downsamples exactly enough.
    Rates are applied with :func:`hash_sample`'s deterministic
    md5-threshold per stratum, so the selected rows are reproducible on
    any engine and across runs. Groups absent from ``targets`` are
    DROPPED (target share zero).

    Scale: ONE group-count aggregation (a ``#groups``-row driver table
    — sources/domains, thousands at most), then one narrow filter over
    the corpus; no shuffle of the data itself. ``targets`` must be > 0
    and will be normalized to sum 1.
    """
    if not targets:
        raise TransformationError("mix_to_target requires non-empty targets")
    if any(t <= 0 for t in targets.values()):
        raise TransformationError("mix targets must all be > 0")
    total_t = sum(targets.values())
    norm = {g: t / total_t for g, t in targets.items()}
    counts = {
        r.g: r.c
        for r in df.filter(F.col(group_col).isin(*norm))
        .groupBy(F.col(group_col).alias("g"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    missing = sorted(set(norm) - set(counts))
    if missing:
        raise TransformationError(
            f"mix_to_target: groups have no rows: {missing} — a zero-count "
            "group makes the target mixture unsatisfiable"
        )
    n_max = min(counts[g] / t for g, t in norm.items())
    rates = {g: min(1.0, t * n_max / counts[g]) for g, t in norm.items()}
    return hash_sample(
        df,
        key_col,
        fractions=rates,
        strata_col=group_col,
        salt=salt,
        default_fraction=0.0,
    )


class MixTransformer(_BaseTransformer):
    """Registry adapter (``type: mix``). Options: ``groupColumn``,
    ``keyColumn``, ``targets: "web:0.4,code:0.3,books:0.3"``, optional
    ``salt``."""

    def validate(self, df: DataFrame, config):
        errors = []
        opts = config.options
        for k in ("groupColumn", "keyColumn"):
            if opts.get(k, "") not in df.columns:
                errors.append(f"{k} not in input schema: {opts.get(k)!r}")
        if not opts.get("targets", "").strip():
            errors.append("mix requires 'targets'")
        else:
            try:
                t = HashSampleTransformer._parse_fractions(opts["targets"])
                if not t or any(v <= 0 for v in t.values()):
                    errors.append("mix targets must be non-empty and > 0")
            except ValueError:
                errors.append(f"cannot parse targets: {opts['targets']!r}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df: DataFrame, config, ctx):
        opts = config.options
        return mix_to_target(
            df,
            group_col=opts["groupColumn"],
            targets=HashSampleTransformer._parse_fractions(opts["targets"]),
            key_col=opts["keyColumn"],
            salt=opts.get("salt", ""),
        )


class WeightedSampleTransformer(_BaseTransformer):
    """Registry adapter (``type: weighted_sample``). Options:
    ``keyColumn``, ``weightColumn``, ``targetCount``, optional
    ``salt``."""

    def validate(self, df: DataFrame, config):
        errors = []
        opts = config.options
        for key in ("keyColumn", "weightColumn"):
            if opts.get(key, "") not in df.columns:
                errors.append(f"{key} not in input schema: {opts.get(key)!r}")
        try:
            if int(opts.get("targetCount", -1)) < 0:
                errors.append("weighted_sample requires integer 'targetCount' >= 0")
        except (TypeError, ValueError):
            errors.append("weighted_sample requires integer 'targetCount' >= 0")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df: DataFrame, config, ctx):
        opts = config.options
        return weighted_sample(
            df,
            key_col=opts["keyColumn"],
            weight_col=opts["weightColumn"],
            target_count=int(opts["targetCount"]),
            salt=opts.get("salt", ""),
        )


class HashSampleTransformer(_BaseTransformer):
    """Registry adapter (``type: hash_sample``). Options: ``keyColumn``,
    either ``fraction`` or ``fractions: "src0:0.5,src1:0.2"`` +
    ``strataColumn`` (+ optional ``defaultFraction``), optional
    ``salt``."""

    @staticmethod
    def _parse_fractions(spec: str) -> dict[str, float]:
        from etl_spark_gradle_spark.operators.relational import split_top_level

        out: dict[str, float] = {}
        for part in split_top_level(spec):
            if not part.strip():
                continue
            name, _, f = part.partition(":")
            out[name.strip()] = float(f)
        return out

    def validate(self, df: DataFrame, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        if opts.get("keyColumn", "") not in df.columns:
            errors.append(f"keyColumn not in input schema: {opts.get('keyColumn')!r}")
        has_frac = "fraction" in opts
        has_fracs = "fractions" in opts
        if has_frac == has_fracs:
            errors.append("need exactly one of fraction / fractions")
        if has_fracs:
            if opts.get("strataColumn", "") not in df.columns:
                errors.append(
                    f"strataColumn not in input schema: {opts.get('strataColumn')!r}"
                )
            try:
                self._parse_fractions(opts["fractions"])
            except ValueError:
                errors.append("fractions must be 'value:fraction' pairs")
        if has_frac:
            try:
                f = float(opts["fraction"])
                if not 0.0 <= f <= 1.0:
                    errors.append("fraction must be in [0, 1]")
            except (TypeError, ValueError):
                errors.append(f"fraction must be a number: {opts.get('fraction')!r}")
        return ValidationResult.fail(*errors) if errors else ValidationResult.ok()

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        opts = config.options
        if "fraction" in opts:
            return hash_sample(
                df,
                key_col=opts["keyColumn"],
                fraction=float(opts["fraction"]),
                salt=opts.get("salt", ""),
            )
        return hash_sample(
            df,
            key_col=opts["keyColumn"],
            fractions=self._parse_fractions(opts["fractions"]),
            strata_col=opts["strataColumn"],
            salt=opts.get("salt", ""),
            default_fraction=float(opts.get("defaultFraction", 0.0)),
        )


def balance_classes(
    df: DataFrame,
    class_cols: list[str],
    order_col: str,
    target: int | None = None,
    salt: str = "",
    mode: str = "down",
) -> DataFrame:
    """Equalize class sizes, deterministically. ``mode='down'``
    (default) downsamples every class to the SMALLEST class's row
    count (or an explicit ``target`` cap, whichever is lower) — the
    classic imbalanced-training-set fix ("1000 fraud rows, 10M clean
    rows"): survivors are the lowest ``md5('cap:'||key)`` ranks per
    class, so the balanced set is identical on every run and every
    engine, and re-running after an append keeps previously chosen
    rows stable except where the minority count shrank the budget.
    ``mode='up'`` instead REPLICATES every class to the LARGEST
    class's count (or ``target``): each row gets
    ``floor(budget/n)`` copies and the ``budget % n`` remainder goes
    to the lowest-rank rows — same determinism contract, no data
    dropped (a class already at/above budget is left untouched).

    NULL class labels form their own class, consistent with groupBy
    semantics everywhere else in the engine.

    Scale: one map-side-combined count aggregation to find the
    minority size (|classes| rows, one value to the driver — bounded),
    then exactly ``cap_per_group``'s WindowGroupLimit plan: each task
    keeps only its local top-``target`` per class BEFORE the exchange,
    so the shuffle carries ≤ |classes|·target rows however large the
    majority class is. The count pass does NOT cache the input —
    at 100 TB, two cheap column-pruned scans beat materializing the
    frame.
    """
    if not class_cols:
        raise TransformationError("balance_classes requires class columns")
    for c in class_cols:
        if c not in df.columns:
            raise TransformationError(f"class column not in input schema: {c}")
    if target is not None and target < 1:
        raise TransformationError("balance_classes target must be >= 1")
    if mode not in ("down", "up"):
        raise TransformationError(
            f"balance_classes mode must be down|up, got '{mode}'"
        )
    if order_col not in df.columns:
        raise TransformationError(f"order column not in input schema: {order_col}")
    per_class = df.groupBy(*[F.col(c) for c in class_cols]).agg(
        F.count(F.lit(1)).alias("__n")
    )
    agg_fn = F.min if mode == "down" else F.max
    counts = per_class.agg(agg_fn("__n").alias("__m")).collect()
    if not counts or counts[0]["__m"] is None:
        return df  # empty input: nothing to balance
    budget = int(counts[0]["__m"])
    if target is not None:
        budget = min(budget, int(target)) if mode == "down" else int(target)
    if mode == "down":
        return cap_per_group(df, class_cols, budget, order_col, salt=salt)

    # ---- mode == "up": replicate every class to exactly `budget` rows.
    # Each row gets floor(budget/n) copies; the budget%n remainder goes
    # to the lowest md5-rank rows — deterministic on any engine, so the
    # oversampled set is a pure function of the data. Unlike the down
    # path there is no WindowGroupLimit shortcut (every row survives),
    # so this pays one full class-keyed window shuffle — unavoidable:
    # upsampling must touch and rank every row anyway. A class larger
    # than `budget` (possible only with an explicit target) is NOT cut
    # — this mode only adds rows; chain a down pass to trim.
    key = F.col(order_col)
    rank_key = F.md5(F.concat(F.lit("cap:"), key.cast("string"), F.lit(salt)))
    w = Window.partitionBy(*[F.col(c) for c in class_cols]).orderBy(
        rank_key.asc(), key.cast("string").asc()
    )
    ranked = df.withColumn("__rn", F.row_number().over(w))
    with_n = broadcast_group_join(ranked, per_class, class_cols)
    copies = F.when(
        F.col("__n") >= F.lit(budget), F.lit(1)
    ).otherwise(
        (F.lit(budget) - F.pmod(F.lit(budget), F.col("__n"))) / F.col("__n")
        + F.when(F.col("__rn") <= F.pmod(F.lit(budget), F.col("__n")), 1).otherwise(0)
    ).cast("int")
    return (
        with_n.withColumn("__copy", F.explode(F.sequence(F.lit(1), copies)))
        .drop("__rn", "__n", "__copy")
    )


class BalanceClassesTransformer(_BaseTransformer):
    """Registry adapter (``type: balance_classes``). Options:
    ``classBy`` (comma list, required), ``orderColumn`` (required —
    per-row key varying within each class), ``target`` (optional
    explicit cap), ``mode`` down|up (default down), ``salt``."""

    def validate(self, df: DataFrame, config) -> ValidationResult:
        errors = []
        opts = config.options
        cols = _split_csv(opts.get("classBy", ""))
        if not cols:
            errors.append("balance_classes requires 'classBy'")
        for c in cols:
            if c not in df.columns:
                errors.append(f"class column not in input schema: {c}")
        if not opts.get("orderColumn"):
            errors.append("balance_classes requires 'orderColumn'")
        elif opts["orderColumn"] not in df.columns:
            errors.append(f"orderColumn not in input schema: {opts['orderColumn']}")
        if "target" in opts:
            try:
                if int(opts["target"]) < 1:
                    errors.append("target must be >= 1")
            except ValueError:
                errors.append(f"target is not an integer: {opts['target']}")
        if opts.get("mode", "down") not in ("down", "up"):
            errors.append(f"mode must be down|up, got '{opts['mode']}'")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        opts = config.options
        return balance_classes(
            df,
            class_cols=_split_csv(opts["classBy"]),
            order_col=opts["orderColumn"],
            target=int(opts["target"]) if "target" in opts else None,
            salt=opts.get("salt", ""),
            mode=opts.get("mode", "down"),
        )


def decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    eval_id_col: str | None = None,
    eval_text_col: str | None = None,
    n: int = 13,
    min_hits: int = 1,
    mode: str = "report",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Training-set decontamination against an evaluation set via
    exact token n-gram collision — the GPT-3-style leakage check
    (Brown et al. 2020 appendix C uses 13-gram overlap; Gao et al.
    2021 The Pile uses the same family): a training document is
    CONTAMINATED when it shares at least ``min_hits`` distinct token
    ``n``-grams with any eval document. Without this, benchmark
    answers inside the corpus silently inflate eval scores — the
    failure every serious LLM data pipeline screens for.

    Tokenization is the repo's shingle normalization
    (:func:`~etl_spark_gradle_spark.operators.dedup.token_shingles`:
    lowercase, unicode-whitespace split, space-joined windows,
    per-document distinct) so the collision predicate is replayable
    in SQL. Documents shorter than ``n`` tokens produce no shingles
    and can never be flagged.

    Relationship to :func:`~etl_spark_gradle_spark.operators.dedup.
    contamination_check` (``type: contamination``): that scan
    annotates EVERY corpus row with a matched-count flag against the
    benchmark's distinct shingle SET (ids deliberately dropped so the
    broadcast stays minimal). This operator keeps the eval ids in the
    probe for ATTRIBUTION — which eval doc leaked, through how many
    n-grams — and adds the pair table and the anti-join removal the
    flag scan can't produce. Same tokenization, same broadcast
    posture; pick by output contract.

    ``mode``:
    - ``'report'`` — one row per contaminated training doc:
      ``(id_col, overlapping_ngrams, eval_docs_hit)`` (distinct
      shared n-grams / distinct eval docs hit; hits >= min_hits);
    - ``'matches'`` — the (train, eval) pair table with
      ``shared_ngrams`` per pair (attribution view), filtered to
      pairs with ``shared_ngrams >= min_hits`` (NOTE: per-PAIR, so a
      train doc can clear report's cross-eval total while every one
      of its pairs falls below the per-pair bar — matches is the
      stricter read per row);
    - ``'clean'`` — the training frame with contaminated docs
      REMOVED (left-anti join on the flagged ids).

    Plan at 100 TB: the eval side is benchmark-sized, so its distinct
    shingles BROADCAST (default) and the training corpus is never
    shuffled for the probe — shingling rides the scan, the collision
    is a broadcast hash join, and the only exchange is the final
    per-train-doc aggregation (map-side combined). Set
    ``broadcast_eval=False`` for an eval set too large to broadcast
    (falls back to a shuffle join on the shingle key).

    Reference parity: beyond-reference surface (SURVEY.md §2 — the
    reference has no corpus operators), same family as dedup/mix."""
    from etl_spark_gradle_spark.operators.dedup import token_shingles

    if int(n) < 1:
        raise TransformationError("decontaminate requires n >= 1")
    if int(min_hits) < 1:
        raise TransformationError("decontaminate requires min_hits >= 1")
    if mode not in ("report", "matches", "clean"):
        raise TransformationError(
            f"decontaminate mode must be report|matches|clean, got '{mode}'"
        )
    e_id = eval_id_col or id_col
    e_text = eval_text_col or text_col
    for c, frame, side in (
        (id_col, train_df, "train"),
        (text_col, train_df, "train"),
        (e_id, eval_df, "eval"),
        (e_text, eval_df, "eval"),
    ):
        if c not in frame.columns:
            raise TransformationError(
                f"decontaminate: column not in {side} schema: {c}"
            )
    tg = train_df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.explode(token_shingles(text_col, int(n))).alias("_g"),
    )
    eg = eval_df.where(F.col(e_text).isNotNull()).select(
        F.col(e_id).alias("_eval_id"),
        F.explode(token_shingles(e_text, int(n))).alias("_g"),
    )
    probe = F.broadcast(eg) if broadcast_eval else eg
    hits = tg.join(probe, "_g")
    if mode == "matches":
        return (
            hits.groupBy(id_col, "_eval_id")
            .agg(
                F.count_distinct("_g").cast("long").alias("shared_ngrams")
            )
            # min_hits applies here too (per PAIR — ADVICE r10: a
            # minHits=5 pipeline must not get every 1-shingle pair)
            .where(F.col("shared_ngrams") >= int(min_hits))
            .select(
                id_col,
                F.col("_eval_id").alias("eval_id"),
                "shared_ngrams",
            )
        )
    report = (
        hits.groupBy(id_col)
        .agg(
            F.count_distinct("_g").cast("long").alias("overlapping_ngrams"),
            F.count_distinct("_eval_id").cast("long").alias("eval_docs_hit"),
        )
        .where(F.col("overlapping_ngrams") >= int(min_hits))
    )
    if mode == "report":
        return report
    return train_df.join(report.select(id_col), id_col, "left_anti")


class DecontaminateTransformer(_BaseTransformer):
    """Registry adapter (``type: decontaminate``): screens the
    pipeline frame (the TRAINING corpus) against a registered view
    (the EVAL set). Options: ``evalView`` (required — name registered
    under ``views:``), ``idColumn``/``textColumn`` (required),
    ``evalIdColumn``/``evalTextColumn`` (default: same names),
    ``n`` (default 13), ``minHits`` (default 1), ``mode``
    report|matches|clean (default report), ``broadcastEval``
    (default true)."""

    def validate(self, df: DataFrame, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        if not opts.get("evalView"):
            errors.append("decontaminate requires 'evalView'")
        for key in ("idColumn", "textColumn"):
            if not opts.get(key):
                errors.append(f"decontaminate requires '{key}'")
            elif opts[key] not in df.columns:
                errors.append(f"column not in input schema: {opts[key]}")
        for key, lo in (("n", 1), ("minHits", 1)):
            try:
                if int(opts.get(key, lo)) < lo:
                    errors.append(f"decontaminate {key} must be >= {lo}")
            except (TypeError, ValueError):
                errors.append(f"decontaminate {key} must be an int")
        if opts.get("mode", "report") not in ("report", "matches", "clean"):
            errors.append(
                f"mode must be report|matches|clean, got '{opts['mode']}'"
            )
        return (
            ValidationResult.ok()
            if not errors
            else ValidationResult.fail(*errors)
        )

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        from etl_spark_gradle_spark.options import parse_bool

        opts = config.options
        try:
            eval_df = ctx.spark.table(opts["evalView"])
        except Exception as exc:
            raise TransformationError(
                f"decontaminate: evalView not found: {opts['evalView']}: "
                f"{exc}"
            ) from exc
        return decontaminate(
            df,
            eval_df,
            id_col=opts["idColumn"],
            text_col=opts["textColumn"],
            eval_id_col=opts.get("evalIdColumn"),
            eval_text_col=opts.get("evalTextColumn"),
            n=int(opts.get("n", 13)),
            min_hits=int(opts.get("minHits", 1)),
            mode=opts.get("mode", "report"),
            broadcast_eval=parse_bool(opts.get("broadcastEval", True)),
        )


def negative_sample(
    df: DataFrame,
    key_col: str,
    candidates: DataFrame,
    cand_col: str,
    k: int = 5,
    buckets: int = 64,
    salt: str = "",
    exclude_equal: bool = True,
    index_col: str = "neg_index",
    output_col: str = "negative",
) -> DataFrame:
    """Deterministic negative sampling for contrastive / ranking
    training: attach ``k`` pseudo-random negatives from a candidate
    pool to every anchor row — ``(anchor…, neg_index, negative)`` —
    with the SAME negatives on every run and engine (md5-derived
    choices, the ``hash_sample`` reproducibility posture; seeded
    ``rand()`` would re-draw per execution and per partitioning).

    Mechanism (all relational, no driver-side candidate list): the
    distinct candidate pool hashes into ``buckets`` groups, each
    bucket ranks its members by an independent md5 (a bucket-local
    ``row_number``, never a global one — a global rank would funnel
    the pool through a single window task); non-empty buckets get a
    dense index in a buckets-sized side table. Each (anchor, i)
    slot picks a dense bucket via one hash and a rank inside it via
    another, then joins on (bucket, rank). Sampling is near-uniform:
    a candidate's inclusion odds deviate from 1/N only by the
    bucket-size spread (the standard hashing-trick tradeoff — raise
    ``buckets`` toward √N to tighten it).

    ``exclude_equal=True`` drops slots whose drawn negative equals the
    anchor key (string-compared), so those anchors carry < k
    negatives — the caller's re-draw policy is a second pass with a
    different ``salt``. NULL keys keep their slots (a legitimate
    anchor); NULL candidates never enter the pool.

    Plan at 100 TB: the pool is scanned once (one buckets-keyed
    window over |pool| rows); anchors explode ×k and broadcast-join
    the TINY dense-bucket table, then join the ranked pool on
    (bucket, rank) — a shuffle join bounded by max(anchors·k, |pool|),
    with AQE free to broadcast a dimension-sized pool."""
    if k < 1:
        raise TransformationError("negative_sample requires k >= 1")
    if buckets < 1:
        raise TransformationError("negative_sample requires buckets >= 1")
    if key_col not in df.columns:
        raise TransformationError(
            f"negative_sample key column not in input schema: {key_col}"
        )
    if cand_col not in candidates.columns:
        raise TransformationError(
            f"negative_sample candidate column not in schema: {cand_col}"
        )
    for c in (index_col, output_col):
        if c in df.columns:
            raise TransformationError(
                f"negative_sample output column already in schema: {c}"
            )
    from pyspark.sql.window import Window

    def _h(tag: str, col: Column) -> Column:
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(tag), col.cast("string"), F.lit(salt))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")

    pool = (
        candidates.select(F.col(cand_col).alias("_cand"))
        .where(F.col("_cand").isNotNull())
        .distinct()
        .withColumn("_b", _h("negb:", F.col("_cand")) % F.lit(int(buckets)))
    )
    ranked = pool.withColumn(
        "_r",
        F.row_number().over(
            Window.partitionBy("_b").orderBy(
                F.md5(F.concat(F.lit("negr:"), F.col("_cand").cast("string"),
                               F.lit(salt))).asc(),
                F.col("_cand").cast("string").asc(),
            )
        )
        - 1,
    )
    # `_db` (not `_b`): the dense table derives from `ranked`, and the
    # final join touches `ranked` again — a shared `_b` would be an
    # ambiguous self-join column
    sizes = ranked.groupBy(F.col("_b").alias("_db")).agg(
        F.count(F.lit(1)).alias("_sz")
    )
    dense = sizes.withColumn(
        "_j",
        F.row_number().over(Window.partitionBy().orderBy(F.col("_db").asc()))
        - 1,
    )
    n_buckets = dense.agg(F.count(F.lit(1)).alias("_nb"))
    slots = (
        df.withColumn(
            index_col, F.explode(F.sequence(F.lit(1), F.lit(int(k))))
        )
        .withColumn(index_col, F.col(index_col).cast("int"))
        .crossJoin(F.broadcast(n_buckets))
        .withColumn(
            "_jpick",
            F.when(
                F.col("_nb") > 0,
                _h(
                    "negq:",
                    F.concat(
                        F.col(key_col).cast("string"), F.lit(":"),
                        F.col(index_col).cast("string"),
                    ),
                )
                % F.col("_nb"),
            ),
        )
        .drop("_nb")
    )
    slots = (
        slots.join(F.broadcast(dense), slots["_jpick"] == dense["_j"])
        .withColumn(
            "_rpick",
            _h(
                "negi:",
                F.concat(
                    F.col(key_col).cast("string"), F.lit(":"),
                    F.col(index_col).cast("string"),
                ),
            )
            % F.col("_sz"),
        )
        .drop("_j", "_jpick", "_sz")
    )
    out = (
        slots.join(
            ranked,
            (slots["_db"] == ranked["_b"])
            & (slots["_rpick"] == ranked["_r"]),
        )
        .drop("_db", "_b", "_r", "_rpick")
        .withColumnRenamed("_cand", output_col)
    )
    if exclude_equal:
        out = out.where(
            ~F.col(output_col)
            .cast("string")
            .eqNullSafe(F.col(key_col).cast("string"))
        )
    return out


class NegativeSampleTransformer(_BaseTransformer):
    """Registry adapter (``type: negative_sample``). Options:
    ``keyColumn`` (required), ``candidatesTable`` (a ``views:`` entry,
    required), ``candidateColumn`` (required), ``k`` (default 5),
    ``buckets`` (default 64), ``salt``, ``excludeEqual`` (default
    true), ``indexColumn``, ``outputColumn``."""

    def validate(self, df: DataFrame, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        if not opts.get("keyColumn"):
            errors.append("negative_sample requires 'keyColumn'")
        elif opts["keyColumn"] not in df.columns:
            errors.append(f"keyColumn not in input schema: {opts['keyColumn']}")
        for opt in ("candidatesTable", "candidateColumn"):
            if not opts.get(opt):
                errors.append(f"negative_sample requires '{opt}'")
        for opt, lo in (("k", 1), ("buckets", 1)):
            try:
                if int(opts.get(opt, lo)) < lo:
                    errors.append(f"{opt} must be >= {lo}")
            except (TypeError, ValueError):
                errors.append(f"{opt} is not an int: {opts[opt]}")
        return (
            ValidationResult.ok()
            if not errors
            else ValidationResult.fail(*errors)
        )

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        opts = config.options
        cands = ctx.spark.table(opts["candidatesTable"])
        return negative_sample(
            df,
            key_col=opts["keyColumn"],
            candidates=cands,
            cand_col=opts["candidateColumn"],
            k=int(opts.get("k", 5)),
            buckets=int(opts.get("buckets", 64)),
            salt=str(opts.get("salt", "")),
            exclude_equal=parse_bool(opts.get("excludeEqual"), default=True),
            index_col=opts.get("indexColumn", "neg_index"),
            output_col=opts.get("outputColumn", "negative"),
        )


class DsirTransformer(_BaseTransformer):
    """Registry adapter (``type: dsir``): scores the pipeline frame
    (the TRAINING corpus) against a registered view (the TARGET
    corpus) with :func:`dsir_weights` and ANNOTATES it — the weights
    join back onto the frame so a downstream ``filter``/``rank``/
    ``cap_per_group`` step does the selection. Options: ``targetView``
    (required — name registered under ``views:``), ``idColumn``/
    ``textColumn`` (required), ``targetTextColumn`` (default:
    textColumn), ``buckets`` (default 10000), ``useBigrams`` (default
    true), ``smoothing`` (default 1.0)."""

    def validate(self, df: DataFrame, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        opts = config.options
        if not opts.get("targetView"):
            errors.append("dsir requires 'targetView'")
        for key in ("idColumn", "textColumn"):
            if not opts.get(key):
                errors.append(f"dsir requires '{key}'")
            elif opts[key] not in df.columns:
                errors.append(f"column not in input schema: {opts[key]}")
        try:
            if int(opts.get("buckets", 10_000)) < 2:
                errors.append("dsir buckets must be >= 2")
        except (TypeError, ValueError):
            errors.append("dsir buckets must be an int")
        try:
            if float(opts.get("smoothing", 1.0)) <= 0:
                errors.append("dsir smoothing must be > 0")
        except (TypeError, ValueError):
            errors.append("dsir smoothing must be numeric")
        return (
            ValidationResult.ok()
            if not errors
            else ValidationResult.fail(*errors)
        )

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        from etl_spark_gradle_spark.options import parse_bool

        opts = config.options
        try:
            target_df = ctx.spark.table(opts["targetView"])
        except Exception as exc:
            raise TransformationError(
                f"dsir: targetView not found: {opts['targetView']}: {exc}"
            ) from exc
        weights = dsir_weights(
            df,
            target_df,
            id_col=opts["idColumn"],
            text_col=opts["textColumn"],
            target_text_col=opts.get("targetTextColumn"),
            n_buckets=int(opts.get("buckets", 10_000)),
            use_bigrams=parse_bool(opts.get("useBigrams", True)),
            smoothing=float(opts.get("smoothing", 1.0)),
        )
        return df.join(weights, opts["idColumn"], "left")
