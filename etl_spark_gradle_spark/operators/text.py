"""Text-analysis operators for large-scale training-data pipelines:
tokenization, quality scoring, language identification, document
fingerprinting.

These extend the reference's capability envelope (SURVEY.md §7.2 step 8 /
BASELINE north star); the reference itself has no text operators — its
scalar surface is Spark SQL `expr()` (`transformer/MapTransformer.scala:58`),
which is exactly the surface these are built on.

100-TB design notes
-------------------
Every operator here is a *narrow, per-row projection* built from JVM-side
Catalyst expressions (`split`, `regexp_count`, `array_intersect`, `md5`,
...). No shuffle, no UDF, no Python in the hot path: a 100 TB corpus maps
through whole-stage-codegen'd expressions with column pruning (only the
text column is read) and nothing ever leaves the executor. Token arrays
are intermediate expressions, never materialized columns, so the scan
output stays small.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_spark_gradle_spark.operators.base import TransformationError, _BaseTransformer

# Tiny per-language stopword lists for the n-gram/stopword-overlap
# language heuristic. Deliberately short: the point is a cheap,
# JVM-expressible prior, not a real langid model (which would be an
# Arrow-batched pandas UDF over a fastText-style table).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "una", "los", "por"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "人"],
}

# (?U) = Java UNICODE_CHARACTER_CLASS: \s matches U+00A0 & friends,
# matching Python-regex semantics (training corpora are full of NBSP)
_WS = r"(?U)\s+"


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization as a Catalyst expression (no UDF).

    ``split`` + drop-empty handles leading/trailing whitespace and the
    empty string (``[""]`` → ``[]``) without a trim, which would miss
    Unicode whitespace.
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, _WS), lambda t: t != "")


def token_count(text: Column | str) -> Column:
    """Whitespace token count (the cheap proxy for BPE token budgeting;
    a real tokenizer would be an Arrow-batched pandas UDF)."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """BPE-ish token estimate: count word chunks and non-space punctuation
    separately (``\\w+`` pieces plus isolated symbols), the classic
    regex approximation of subword tokenizers."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(r"(?U)\w+|[^\w\s]"))


def with_text_stats(
    df: DataFrame, text_col: str = "text", prefix: str = ""
) -> DataFrame:
    """Add per-document quality statistics, all JVM-side:

    - ``n_chars``/``n_tokens``: length and whitespace token count
    - ``avg_token_len``: mean token length
    - ``punct_ratio``: non-word, non-space chars / chars
    - ``digit_ratio``: digits / chars
    - ``stopword_ratio``: English stopword tokens / tokens
    - ``quality_score``: a simple monotone combination used for corpus
      filtering (longer docs with sane punctuation and some stopwords
      score higher)
    """
    c = F.col(text_col)
    toks = tokens(c)
    n_chars = F.length(c)
    n_tokens = F.size(toks)
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    safe_tokens = F.greatest(n_tokens, F.lit(1)).cast("double")
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*LANG_STOPWORDS["en"]))
    )
    punct = F.regexp_count(c, F.lit(r"(?U)[^\w\s]"))
    digits = F.regexp_count(c, F.lit(r"[0-9]"))
    p = prefix
    out = (
        df.withColumn(p + "n_chars_c", n_chars.cast("long"))
        .withColumn(p + "n_tokens", n_tokens.cast("long"))
        .withColumn(
            p + "avg_token_len",
            (
                F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
                / safe_tokens
            ).cast("double"),
        )
        .withColumn(p + "punct_ratio", (punct / safe_chars).cast("double"))
        .withColumn(p + "digit_ratio", (digits / safe_chars).cast("double"))
        .withColumn(p + "stopword_ratio", (stop_hits / safe_tokens).cast("double"))
    )
    return out.withColumn(
        p + "quality_score",
        (
            F.least(F.col(p + "n_tokens") / F.lit(100.0), F.lit(1.0)) * 0.5
            + (F.lit(1.0) - F.least(F.col(p + "punct_ratio") * 4, F.lit(1.0))) * 0.25
            + F.least(F.col(p + "stopword_ratio") * 5, F.lit(1.0)) * 0.25
        ).cast("double"),
    )


def with_repetition_stats(
    df: DataFrame, text_col: str = "text", prefix: str = ""
) -> DataFrame:
    """Gopher-style repetition metrics (Rae et al. 2021 §A1.1), the
    standard filters for boilerplate / templated / spammy documents:

    - ``line_count``: non-empty trimmed lines
    - ``dup_line_frac``: 1 - distinct_lines / lines (0 when <= 1 line)
    - ``dup_line_char_frac``: fraction of line characters in repeat
      occurrences beyond each line's first (1 - distinct_char_sum /
      char_sum)
    - ``dup_word_frac``: 1 - distinct_tokens / tokens

    Scale: pure per-row array expressions (``split`` / ``array_distinct``
    / ``aggregate``) — no shuffle, no UDF; a free rider on the scan like
    the rest of this module.
    """
    c = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(c, r"\n"), lambda x: F.trim(x)), lambda x: x != ""
    )
    dlines = F.array_distinct(lines)
    toks = tokens(c)
    n_lines = F.size(lines)
    chars = F.aggregate(lines, F.lit(0), lambda acc, x: acc + F.length(x))
    dchars = F.aggregate(dlines, F.lit(0), lambda acc, x: acc + F.length(x))
    n_toks = F.size(toks)
    p = prefix
    return (
        df.withColumn(p + "line_count", n_lines.cast("long"))
        .withColumn(
            p + "dup_line_frac",
            F.when(n_lines <= 1, F.lit(0.0))
            .otherwise(F.lit(1.0) - F.size(dlines) / n_lines.cast("double"))
            .cast("double"),
        )
        .withColumn(
            p + "dup_line_char_frac",
            F.when(chars <= 0, F.lit(0.0))
            .otherwise(F.lit(1.0) - dchars / chars.cast("double"))
            .cast("double"),
        )
        .withColumn(
            p + "dup_word_frac",
            F.when(n_toks <= 0, F.lit(0.0))
            .otherwise(
                F.lit(1.0) - F.size(F.array_distinct(toks)) / n_toks.cast("double")
            )
            .cast("double"),
        )
    )


def top_ngram_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 2,
    out_prefix: str = "top_ngram_",
) -> DataFrame:
    """Fraction of tokens covered by the single most frequent word
    n-gram (overlapping count × n / tokens, capped at 1) — the other
    half of the Gopher repetition filters; high values flag keyword
    stuffing and templated text.

    Adds ``{prefix}count`` and ``{prefix}frac`` (0 for docs with fewer
    than ``n`` tokens).

    Scale: n-grams are exploded then aggregated in two hash
    aggregations — (id, gram) count, then per-id max — both keyed by the
    document id so partial (map-side) aggregation absorbs the repeats,
    followed by a broadcast-or-shuffle join back on the id. Nothing is
    O(tokens²) per row, unlike an array-expression mode computation, so
    pathological million-token documents stay linear.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1: {n}")
    toks = tokens(text_col)
    if n == 1:
        grams = toks
    else:
        # join n successive slices positionally: gram i = toks[i..i+n-1]
        glen = F.greatest(F.size(toks) - (n - 1), F.lit(0))
        arrs = [F.slice(toks, i + 1, glen) for i in range(n)]
        grams = arrs[0]
        for nxt in arrs[1:]:
            grams = F.zip_with(grams, nxt, lambda a, b: F.concat_ws(" ", a, b))
    exploded = (
        df.select(F.col(id_col), F.size(toks).alias("__nt"), F.explode(grams).alias("__g"))
    )
    per_doc = (
        exploded.groupBy(id_col, "__nt", "__g")
        .agg(F.count("*").alias("__c"))
        .groupBy(id_col, "__nt")
        .agg(F.max("__c").alias(out_prefix + "count"))
        .select(
            F.col(id_col),
            F.col(out_prefix + "count").cast("long").alias(out_prefix + "count"),
            F.least(
                F.col(out_prefix + "count") * n / F.col("__nt").cast("double"),
                F.lit(1.0),
            )
            .cast("double")
            .alias(out_prefix + "frac"),
        )
    )
    out = df.join(per_doc, on=id_col, how="left")
    return out.fillna({out_prefix + "count": 0, out_prefix + "frac": 0.0})


def with_readability(
    df: DataFrame, text_col: str = "text", prefix: str = ""
) -> DataFrame:
    """Add Flesch readability metrics per document — the classic
    corpus-quality signal alongside :func:`with_text_stats` and
    :func:`with_gopher_rules` (too-hard and too-trivial documents are
    both filter targets for LLM training mixes)::

        ease  = 206.835 − 1.015·(words/sentences) − 84.6·(syll/words)
        grade = 0.39·(words/sentences) + 11.8·(syll/words) − 15.59

    Syllables use the standard regex approximation — each maximal
    vowel run ``[aeiouy]+`` in the lowercased token counts as one
    syllable, minimum one per token (exact syllabification needs a
    pronunciation dictionary; the vowel-run count is the documented
    heuristic every readability library ships). Sentences count
    terminator RUNS (``[.!?]+``), minimum one so fragments don't
    divide by zero.

    Pure per-row Catalyst expressions (regexp + array fold) — no UDF,
    no shuffle, scales embarrassingly. Documents with zero tokens (or
    NULL text) get NULL metrics; the integer counts are always
    present (0 for empty).

    Output: adds ``{prefix}n_words``/``{prefix}n_sentences``/
    ``{prefix}n_syllables`` (long) and ``{prefix}flesch_ease``/
    ``{prefix}fk_grade`` (double)."""
    if text_col not in df.columns:
        raise TransformationError(
            f"with_readability: column not in schema: {text_col}"
        )
    c = F.col(text_col)
    toks = tokens(c)
    # size(NULL) is -1 under the legacy default — pin NULL text to 0
    n_words = F.when(c.isNull(), F.lit(0)).otherwise(F.size(toks))
    n_sents = F.when(
        c.isNull(), F.lit(0)
    ).otherwise(
        F.greatest(F.regexp_count(c, F.lit(r"[.!?]+")), F.lit(1))
    )
    syl = F.coalesce(
        F.aggregate(
            F.transform(
                toks,
                lambda t: F.greatest(
                    F.size(
                        F.regexp_extract_all(
                            F.lower(t), F.lit("[aeiouy]+"), 0
                        )
                    ),
                    F.lit(1),
                ),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ),
        F.lit(0),
    )
    p = prefix
    out = (
        df.withColumn(p + "n_words", n_words.cast("long"))
        .withColumn(p + "n_sentences", n_sents.cast("long"))
        .withColumn(p + "n_syllables", syl.cast("long"))
    )
    wps = (
        F.col(p + "n_words").cast("double")
        / F.col(p + "n_sentences").cast("double")
    )
    spw = (
        F.col(p + "n_syllables").cast("double")
        / F.col(p + "n_words").cast("double")
    )
    ok = F.col(p + "n_words") > 0
    ease = (
        F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    )
    grade = (
        F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    )
    return out.withColumn(
        p + "flesch_ease", F.when(ok, ease).cast("double")
    ).withColumn(p + "fk_grade", F.when(ok, grade).cast("double"))


def language_scores(text: Column | str) -> dict[str, Column]:
    """Per-language stopword-overlap scores (distinct stopwords hit).

    ``array_intersect`` against a literal array stays JVM-side; one pass
    over the token array per language, no shuffle.
    """
    toks = tokens(text)
    return {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_STOPWORDS.items()
    }


def with_language_id(
    df: DataFrame, text_col: str = "text", out_col: str = "lang_pred"
) -> DataFrame:
    """Predict language by argmax stopword overlap as an ordered CASE
    chain: languages are tested alphabetically and the first whose score
    is positive and >= every other wins, so ties break to the
    alphabetically-first code; 'und' when nothing matches.

    Scale: pure projection; at 100 TB this is a free rider on whatever
    scan is already happening.
    """
    scores = language_scores(text_col)
    langs = sorted(scores)
    expr: Column | None = None
    for lang in langs:
        cond = scores[lang] > 0
        for other in langs:
            if other != lang:
                cond = cond & (scores[lang] >= scores[other])
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    assert expr is not None
    return df.withColumn(out_col, expr.otherwise(F.lit("und")))


# Writing-system classes for script profiling: (name, Java-regex class,
# the oracle uses RE2's \p{Name}). Membership tables are Unicode-version
# sensitive for RARE codepoints; the oracle synthesizes inputs from
# stable well-known characters, and production routing only needs the
# dominant script of real text — version skew on exotic codepoints is
# noise there.
_SCRIPTS: list[tuple[str, str]] = [
    ("arabic", r"\p{IsArabic}"),
    ("cyrillic", r"\p{IsCyrillic}"),
    ("devanagari", r"\p{IsDevanagari}"),
    ("greek", r"\p{IsGreek}"),
    ("han", r"\p{IsHan}"),
    ("hangul", r"\p{IsHangul}"),
    ("hebrew", r"\p{IsHebrew}"),
    ("hiragana", r"\p{IsHiragana}"),
    ("katakana", r"\p{IsKatakana}"),
    ("latin", r"\p{IsLatin}"),
]


def with_script_profile(
    df: DataFrame, text_col: str = "text", prefix: str = "script_"
) -> DataFrame:
    """Writing-system profile — the orthography-level complement to
    ``with_language_id`` (which needs stopword vocabulary and covers 5
    languages; the SCRIPT of a document is detectable for every
    language at once and is what multilingual corpus ROUTING keys on:
    Han → CJK pipeline, Cyrillic → Slavic models, mixed → segmenter).

    Adds three columns:

    - ``{prefix}letters``: total Unicode letters (``\\p{L}``),
    - ``{prefix}name``: dominant script of 10 majors (arabic, cyrillic,
      devanagari, greek, han, hangul, hebrew, hiragana, katakana,
      latin) — ties break to the alphabetically-LAST name via a
      (count, name) struct max, documented and engine-stable; ``none``
      when no profiled-script letters occur,
    - ``{prefix}ratio``: dominant-script chars / letters (0.0 when
      none) — one fixed-order double division.

    Scale: ten ``regexp_count`` expressions riding the scan — zero
    shuffle, zero Python, a free rider like the rest of this module.
    """
    c = F.col(text_col)
    counts = {name: F.regexp_count(c, F.lit(pat)) for name, pat in _SCRIPTS}
    letters = F.regexp_count(c, F.lit(r"\p{L}"))
    best = F.array_max(
        F.array(
            *[
                F.struct(cnt.alias("n"), F.lit(name).alias("s"))
                for name, cnt in counts.items()
            ]
        )
    )
    p = prefix
    return (
        df.withColumn(p + "letters", letters.cast("long"))
        .withColumn(
            p + "name",
            F.when(best["n"] > 0, best["s"]).otherwise(F.lit("none")),
        )
        .withColumn(
            p + "ratio",
            F.when(
                (best["n"] > 0) & (letters > 0),
                best["n"].cast("double") / letters.cast("double"),
            ).otherwise(F.lit(0.0)),
        )
    )


# HTML entity decode pairs, applied in THIS order on both engines (the
# oracle mirrors the sequence; &amp; must come after the others would
# double-decode, so it is last-but-one by convention here)
_HTML_ENTITIES: list[tuple[str, str]] = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]


def clean_html(text: Column | str) -> Column:
    """Strip HTML to clean training text, pure Catalyst (regex chain —
    zero shuffle, rides the scan): drop <script>/<style>/<!--comment-->
    blocks, then all remaining tags, decode the common entities, and
    collapse whitespace. Patterns avoid backreferences so the SAME
    regexes run on RE2 engines (the DuckDB oracle) — the standard first
    step of a web-crawl curation pipeline (wet→text extraction).
    """
    c = F.col(text) if isinstance(text, str) else text
    c = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"(?s)<[^>]+>", " ")
    for entity, repl in _HTML_ENTITIES:
        c = F.replace(c, F.lit(entity), F.lit(repl))
    return F.trim(F.regexp_replace(c, r"(?U)\s+", " "))


# Latin accent → ASCII fold map as two parallel strings (consumed by
# `translate`, a 1:1 codepoint map — NOT full Unicode NFKD, which needs
# a real normalizer; this covers the Latin-1 Supplement + Latin
# Extended-A letters that dominate European-language crawl text).
# ß/Æ/Œ-style 1:N expansions cannot ride a 1:1 translate and are
# handled as explicit replaces in fold_accents.
_ACCENT_SRC = (
    "ÀÁÂÃÄÅàáâãäåÈÉÊËèéêëÌÍÎÏìíîïÒÓÔÕÖØòóôõöøÙÚÛÜùúûüÝŸýÿÑñÇç"
    "ĀāĂăĄąĆćĈĉĊċČčĎďĐđĒēĔĕĖėĘęĚěĜĝĞğĠġĢģĤĥĦħĨĩĪīĬĭĮįİıĴĵĶķĹĺĻļĽľŁł"
    "ŃńŅņŇňŌōŎŏŐőŔŕŖŗŘřŚśŜŝŞşŠšŢţŤťŦŧŨũŪūŬŭŮůŰűŲųŴŵŶŷŹźŻżŽž"
)
_ACCENT_DST = (
    "AAAAAAaaaaaaEEEEeeeeIIIIiiiiOOOOOOooooooUUUUuuuuYYyyNnCc"
    "AaAaAaCcCcCcCcDdDdEeEeEeEeEeGgGgGgGgHhHhIiIiIiIiIiJjKkLlLlLlLl"
    "NnNnNnOoOoOoRrRrRrSsSsSsSsTtTtTtUuUuUuUuUuUuWwYyZzZzZz"
)
_ACCENT_EXPANSIONS = [("ß", "ss"), ("Æ", "AE"), ("æ", "ae"), ("Œ", "OE"), ("œ", "oe"), ("Ð", "D"), ("ð", "d"), ("Þ", "Th"), ("þ", "th")]


def fold_accents(text: Column | str) -> Column:
    """Fold Latin accented letters to ASCII (café→cafe, Ñoño→Nono,
    straße→strasse) — the normalization step before fingerprinting /
    exact dedup so visually-identical crawl variants hash together.
    Pure Catalyst (`translate` + a few 1:N `replace`s), zero shuffle,
    rides the scan; the SAME codepoint map is spelled in the DuckDB
    oracle, so folded text is engine-identical by construction.
    Characters outside the map (Greek, Cyrillic, CJK, emoji) pass
    through untouched — this is Latin folding, not transliteration.
    """
    c = F.col(text) if isinstance(text, str) else text
    for src, dst in _ACCENT_EXPANSIONS:
        c = F.replace(c, F.lit(src), F.lit(dst))
    return F.translate(c, _ACCENT_SRC, _ACCENT_DST)


def drop_boilerplate_lines(
    text: Column | str,
    min_chars: int = 10,
    min_alpha_ratio: float = 0.4,
    strip_tags_for_ratio: bool = False,
) -> Column:
    """Line-level boilerplate filter (jusText-style heuristic, narrow):
    keep only lines with >= ``min_chars`` non-space characters AND a
    letters+spaces ratio >= ``min_alpha_ratio`` — nav bars, cookie
    banners, link lists and symbol soup fall below one of the two.
    Split/filter/rejoin is a per-row array expression; no shuffle.

    ``strip_tags_for_ratio`` computes both heuristics on the line with
    HTML tags removed (the VISIBLE text) while keeping/dropping the
    original line. Without it, good prose wrapped in a tag with long
    attributes (``<a href="https://...">Good sentence</a>``) is scored
    on the raw markup and can fall below ``min_alpha_ratio`` — turn it
    on whenever this runs before an HTML strip. Tags broken across a
    newline are not recognized by the per-line strip (same limitation
    as any line-local heuristic)."""
    c = F.col(text) if isinstance(text, str) else text
    lines = F.split(c, r"\n")

    def _visible(ln: Column) -> Column:
        if strip_tags_for_ratio:
            return F.regexp_replace(ln, r"(?s)<[^>]+>", " ")
        return ln

    kept = F.filter(
        lines,
        lambda ln: (F.length(F.trim(_visible(ln))) >= min_chars)
        & (
            F.length(F.regexp_replace(_visible(ln), r"[^A-Za-z ]", ""))
            / F.greatest(F.length(_visible(ln)), F.lit(1))
            >= min_alpha_ratio
        ),
    )
    return F.array_join(kept, "\n")


def with_clean_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "clean_text",
    strip_html: bool = True,
    boilerplate: bool = False,
    min_line_chars: int = 10,
    min_alpha_ratio: float = 0.4,
) -> DataFrame:
    """Text-cleaning stage: HTML strip and/or line-level boilerplate
    removal into ``out_col``. Both are pure projections — at 100 TB this
    runs inside the scan's whole-stage codegen with zero exchanges."""
    c: Column = F.col(text_col)
    if boilerplate:
        # When an HTML strip follows, score each line on its visible
        # (tag-stripped) text so markup-heavy-but-good-prose lines
        # aren't dropped for their attribute noise (ADVICE r3).
        c = drop_boilerplate_lines(
            c, min_line_chars, min_alpha_ratio, strip_tags_for_ratio=strip_html
        )
    if strip_html:
        c = clean_html(c)
    return df.withColumn(out_col, c)


def score_with_model(
    df: DataFrame,
    id_col: str,
    text_col: str,
    scorer=None,
    batch_status: str | None = None,
) -> DataFrame:
    """Model-based document scoring stage (quality/toxicity/perplexity
    classifiers — the fastText / KenLM style filters every production
    curation stack runs alongside the heuristic gates).

    The Spark side is REAL and is what matters at 100 TB: one Arrow
    ``mapInPandas`` stage over a narrow (id, text) projection, model
    loaded ONCE per Python worker (inside the generator, not per row),
    scores emitted as small rows so downstream shuffles never carry
    text. ``scorer`` is any callable ``list[str] -> list[float]`` —
    plug in a real classifier there; the default is a clearly-labeled
    deterministic stand-in (sha256-derived, status ``ok_stub``) because
    no model runtime ships in this container.
    """
    import hashlib as _hashlib

    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("model_score", DoubleType()),
            StructField("score_status", StringType()),
        ]
    )
    status = batch_status or ("ok" if scorer is not None else "ok_stub")

    def batches(it):
        # model/scorer initialization happens HERE — once per worker
        # process, amortized over every Arrow batch it serves
        fn = scorer
        if fn is None:
            def fn(texts):  # deterministic stand-in, swap for a model
                return [
                    int.from_bytes(
                        _hashlib.sha256((t or "").encode()).digest()[:4], "big"
                    )
                    / 2**32
                    for t in texts
                ]

        for pdf in it:
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype("int64"),
                    "model_score": pd.Series(fn(list(pdf[text_col])), dtype="float64"),
                    "score_status": [status] * len(pdf),
                }
            )

    from etl_spark_gradle_spark.operators.multimodal import require_integral_id

    src = require_integral_id(df, id_col, "score_with_model")
    return src.select(id_col, text_col).mapInPandas(batches, schema)


class ModelScoreTransformer(_BaseTransformer):
    """Registry adapter (``type: model_score``). Options: ``idColumn``
    (required), ``textColumn`` (default ``text``), ``action``
    ``annotate`` (default — join ``model_score``/``score_status`` back
    onto the frame by id) | ``replace`` (emit only the score rows),
    ``scorerFactory`` (optional dotted path ``pkg.mod:fn`` resolving to
    a ``list[str] -> list[float]`` callable — the hook for a real
    model; absent → deterministic stub core)."""

    def validate(self, df: DataFrame, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        opts = config.options
        errors = []
        ic = opts.get("idColumn")
        if not ic:
            errors.append("model_score requires 'idColumn'")
        elif ic not in df.columns:
            errors.append(f"column not in input schema: {ic}")
        tc = opts.get("textColumn", "text")
        if tc not in df.columns:
            errors.append(f"column not in input schema: {tc}")
        if opts.get("action", "annotate").lower() not in ("annotate", "replace"):
            errors.append(f"unsupported action: {opts['action']}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        opts = config.options
        scorer = None
        factory = opts.get("scorerFactory")
        if factory:
            import importlib

            mod_name, _, fn_name = factory.partition(":")
            if not fn_name:
                raise TransformationError(
                    f"scorerFactory must be 'module:function', got {factory!r}"
                )
            scorer = getattr(importlib.import_module(mod_name), fn_name)()
        ic = opts["idColumn"]
        scores = score_with_model(df, ic, opts.get("textColumn", "text"), scorer=scorer)
        if opts.get("action", "annotate").lower() == "replace":
            return scores
        return df.join(
            scores.withColumnRenamed("id", ic), ic, "left"
        )


def with_url_features(
    df: DataFrame, url_col: str, prefix: str = "url_"
) -> DataFrame:
    """Decompose a URL column into curation features — the metadata
    web-crawl pipelines key on (domain caps via ``cap_per_group``,
    per-TLD mixing, path-depth heuristics):

    ``<prefix>domain`` (lowercased host), ``<prefix>tld`` (last label),
    ``<prefix>path_depth`` (non-empty path segments, query/fragment
    excluded), ``<prefix>is_https``. Pure regex projection (RE2-safe
    patterns — no backreferences — so the DuckDB oracle runs the SAME
    expressions); malformed/non-URL values yield empty domain and can
    be filtered on it."""
    u = F.col(url_col)
    domain = F.lower(F.regexp_extract(u, r"(?i)^https?://([^/:?#]+)", 1))
    tld = F.regexp_extract(domain, r"\.([a-z0-9-]+)$", 1)
    path = F.regexp_extract(u, r"(?i)^https?://[^/?#]+(/[^?#]*)", 1)
    depth = F.size(F.filter(F.split(path, "/"), lambda x: x != "")).cast("int")
    return (
        df.withColumn(f"{prefix}domain", domain)
        .withColumn(f"{prefix}tld", tld)
        .withColumn(f"{prefix}path_depth", depth)
        .withColumn(f"{prefix}is_https", F.lower(F.substring(u, 1, 6)) == "https:")
    )


def fingerprint(text: Column | str, normalize: bool = True) -> Column:
    """Content fingerprint: md5 of whitespace-normalized, lower-cased
    text. The canonical exact-dedup key at corpus scale: grouping by a
    32-hex-char hash shuffles 32 bytes per row instead of the document
    body.
    """
    c = F.col(text) if isinstance(text, str) else text
    if normalize:
        c = F.lower(F.trim(F.regexp_replace(c, _WS, " ")))
    return F.md5(c)


def with_fingerprint(
    df: DataFrame, text_col: str = "text", out_col: str = "fingerprint"
) -> DataFrame:
    return df.withColumn(out_col, fingerprint(text_col))


class TextAnalysisTransformer(_BaseTransformer):
    """Registry adapter (``type: text_analysis``). Options:
    ``textColumn`` (default ``text``), ``stats`` / ``languageId`` /
    ``fingerprint`` / ``repetition`` / ``readability`` booleans
    selecting which column families to add; ``topNgram: <n>`` (requires ``idColumn``) adds the
    most-frequent-n-gram coverage columns; ``foldAccents`` folds Latin
    accents to ASCII FIRST (into ``foldOutputColumn``, default in
    place) so every later family reads normalized text; ``clean`` / ``boilerplate``
    booleans run HTML stripping / line-boilerplate removal into
    ``cleanOutputColumn`` (default ``clean_text``; knobs
    ``minLineChars``, ``minAlphaRatio``) BEFORE the analysis columns,
    which then read the cleaned column; ``gopherRules`` adds the
    Gopher quality-filter metric/flag columns (knobs
    ``gopherMinWords``, ``gopherMinStopHits``)."""

    def validate(self, df: DataFrame, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        tc = config.options.get("textColumn", "text")
        if tc not in df.columns:
            return ValidationResult.fail(f"textColumn not in input schema: {tc}")
        return ValidationResult.ok()

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        opts = config.options
        tc = opts.get("textColumn", "text")

        def flag(name: str, default: str = "false") -> bool:
            return opts.get(name, default).lower() in ("true", "1", "yes")

        out = df
        if flag("foldAccents"):
            # fold BEFORE clean/stats so every later family reads the
            # normalized form; writes foldOutputColumn (default: in
            # place) — Latin accent→ASCII, non-Latin passes through
            fold_out = opts.get("foldOutputColumn", tc)
            out = out.withColumn(fold_out, fold_accents(tc))
            tc = fold_out
        if flag("clean") or flag("boilerplate"):
            out = with_clean_text(
                out,
                tc,
                out_col=opts.get("cleanOutputColumn", "clean_text"),
                strip_html=flag("clean"),
                boilerplate=flag("boilerplate"),
                min_line_chars=int(opts.get("minLineChars", 10)),
                min_alpha_ratio=float(opts.get("minAlphaRatio", 0.4)),
            )
            tc = opts.get("cleanOutputColumn", "clean_text")
        if flag("stats", "true"):
            out = with_text_stats(out, tc)
        if flag("languageId"):
            out = with_language_id(out, tc)
        if flag("fingerprint"):
            out = with_fingerprint(out, tc)
        if flag("scriptProfile"):
            out = with_script_profile(out, tc)
        if flag("repetition"):
            out = with_repetition_stats(out, tc)
        if flag("readability"):
            out = with_readability(out, tc)
        if flag("gopherRules"):
            out = with_gopher_rules(
                out,
                tc,
                min_words=int(opts.get("gopherMinWords", 50)),
                min_stop_hits=int(opts.get("gopherMinStopHits", 2)),
            )
        if "topNgram" in opts:
            id_col = opts.get("idColumn", "")
            if id_col not in df.columns:
                raise TransformationError(
                    f"topNgram requires idColumn in input schema: {id_col!r}"
                )
            out = top_ngram_coverage(out, id_col, tc, n=int(opts["topNgram"]))
        return out


# Gopher quality-filter rules (Rae et al. 2021, Table A1) — the 8-word
# stop list is part of the rule definition, distinct from the langid
# lists above.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def with_gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher quality-filter rules (Rae et al. 2021, Table A1) as pure
    Catalyst expressions — the document-level rule battery between the
    line-level pass (:func:`drop_boilerplate_lines` /
    ``dedup.line_dedup``) and model-based scoring
    (:func:`score_with_model`):

    1. ``min_words <= word count <= max_words``
    2. ``min_mean_word_len <= mean word length <= max_mean_word_len``
    3. symbol-to-word ratio (``#`` and ellipsis) ``<= max_symbol_ratio``
    4. fraction of lines starting with a bullet ``<= max_bullet_frac``
    5. fraction of lines ending in an ellipsis ``<= max_ellipsis_frac``
    6. fraction of words with >=1 ASCII-alphabetic char
       ``>= min_alpha_frac``
    7. >= ``min_stop_hits`` DISTINCT hits in the Gopher 8-word stop
       list (the, be, to, of, and, that, have, with)

    (The paper's repetition rules — dup line/n-gram fractions — live in
    :func:`with_repetition_stats`; compose both for the full battery.)

    Adds integer/ratio metric columns plus per-rule ``r_*`` int flags
    and ``gopher_keep``. Every ratio is ONE division of two exact
    integer counts, so the doubles are bit-identical across engines
    (the cross-engine float gate this repo's oracles enforce). Zero
    shuffles: at 100 TB this rides the scan inside whole-stage codegen
    exactly like ``with_text_stats``. Bullet/ellipsis line matching is
    ASCII-whitespace anchored (``[ \\t]``) and alpha means ASCII
    letters — deterministic, documented narrowing of the paper's prose
    (reference parity anchor: the reference's quality surface is
    null/duplicate checks only, ``quality/DataQualityChecker.scala``)."""
    c = F.col(text_col)
    toks = tokens(c)
    n_words = F.size(toks)
    safe_words = F.greatest(n_words, F.lit(1)).cast("double")
    sum_word_len = F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
    n_symbols = F.regexp_count(c, F.lit(r"#|\.{3}|…"))
    lines = F.split(c, "\n")
    n_lines = F.size(lines)
    safe_lines = F.greatest(n_lines, F.lit(1)).cast("double")
    bullets = F.size(
        F.filter(lines, lambda ln: ln.rlike(r"^[ \t]*[-*•‣▪]"))
    )
    ellipses = F.size(
        F.filter(lines, lambda ln: ln.rlike(r"(\.{3}|…)[ \t]*$"))
    )
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    stop_hits = sum(
        (
            F.array_contains(toks, w).cast("int")
            for w in GOPHER_STOPWORDS
        ),
        start=F.lit(0),
    )
    mean_word_len = (sum_word_len / safe_words).cast("double")
    symbol_ratio = (n_symbols / safe_words).cast("double")
    bullet_frac = (bullets / safe_lines).cast("double")
    ellipsis_frac = (ellipses / safe_lines).cast("double")
    alpha_frac = (alpha_words / safe_words).cast("double")
    r = {
        "r_words": (n_words >= min_words) & (n_words <= max_words),
        "r_word_len": (mean_word_len >= min_mean_word_len)
        & (mean_word_len <= max_mean_word_len),
        "r_symbol": symbol_ratio <= max_symbol_ratio,
        "r_bullet": bullet_frac <= max_bullet_frac,
        "r_ellipsis": ellipsis_frac <= max_ellipsis_frac,
        "r_alpha": alpha_frac >= min_alpha_frac,
        "r_stop": stop_hits >= min_stop_hits,
    }
    out = (
        df.withColumn("n_words", n_words.cast("long"))
        .withColumn("mean_word_len", mean_word_len)
        .withColumn("symbol_ratio", symbol_ratio)
        .withColumn("bullet_frac", bullet_frac)
        .withColumn("ellipsis_frac", ellipsis_frac)
        .withColumn("alpha_frac", alpha_frac)
        .withColumn("stop_hits", stop_hits.cast("long"))
    )
    keep = F.lit(True)
    for name, cond in r.items():
        out = out.withColumn(name, cond.cast("int"))
        keep = keep & cond
    return out.withColumn("gopher_keep", keep.cast("int"))
