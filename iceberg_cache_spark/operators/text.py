"""Text analysis operators: tokenization, quality, language-ID, fingerprint.

All JVM-side built-ins (no Python UDFs): at 100 TB these run inside
whole-stage codegen over the parquet scan, shuffling nothing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Words used by the n-gram/stopword language heuristic. Deliberately tiny
# and deterministic — the point is the *operator shape* (scan-local
# scoring + argmax), not linguistic accuracy.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "une", "que", "des"),
    "es": ("el", "los", "las", "es", "una", "que", "por", "con"),
}


# Engine-dialect-proof regex fragments, shared verbatim with the DuckDB
# oracle SQL (tests/test_round11_fixes.py pins the parity on adversarial
# text). Two traps these sidestep:
#   * `\s`: Java's is [ \t\n\x0B\f\r] but RE2's lacks \x0B — spelled out
#     explicitly so both engines see the identical class;
#   * unicode lowercasing: the JVM and utf8proc tables disagree on edge
#     codepoints (U+0130 İ → 'i'+U+0307 on the JVM vs 'i' in DuckDB), so
#     lower() must only ever run AFTER non-ASCII is stripped, or be the
#     ASCII-only translate() in fingerprint().
WS_CLASS = "[ \\t\\n\\x0B\\f\\r]"
ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"


def tokens(col: Column) -> Column:
    """Whitespace tokens of lowercased, punctuation-stripped text.

    Non-alphanumerics are stripped BEFORE lowercasing so lower() only
    ever sees ASCII [A-Za-z0-9 ] — making the token stream provably
    identical between the JVM and any RE2/utf8proc-based oracle engine
    for arbitrary valid UTF-8 (each non-ASCII codepoint → space in both;
    surrogate-pair halves each map to a space on the JVM, collapsed by
    the split)."""
    cleaned = F.lower(F.regexp_replace(col, r"[^A-Za-z0-9]", " "))
    return F.filter(F.split(cleaned, " +"), lambda t: t != "")


def token_count(col: Column) -> Column:
    """Whitespace token count (BIGINT)."""
    return F.size(tokens(col)).cast("bigint")


def char_count(col: Column) -> Column:
    return F.length(col).cast("bigint")


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are punctuation (0 for empty text).

    `[^\\w\\s]` spelled out with the explicit whitespace class: Java and
    RE2 agree that \\w is ASCII [A-Za-z0-9_], but disagree on \\s (\\x0B)."""
    n_punct = F.length(col) - F.length(
        F.regexp_replace(col, "[^A-Za-z0-9_" + WS_CLASS[1:], "")
    )
    return F.when(F.length(col) > 0, n_punct / F.length(col)).otherwise(0.0)


def stopword_ratio(
    col: Column,
    stopwords: tuple[str, ...] = _LANG_MARKERS["en"],
    toks: Column | None = None,
) -> Column:
    """Fraction of tokens that are (English, by default) stopwords.

    ``toks`` (round 14): pass a PRE-STAGED token-array column to share
    one tokenization across several consumers in the same projection.
    The tokenizer is the expensive part of every text-quality
    expression (a full-text regexp_replace + split per evaluation) and
    Catalyst inlines single-reference aliases, so a query computing
    stopword_ratio + quality_score re-tokenized up to 6× per row
    (q66's optimized plan carried 8 regexp_replace instances). Staging
    the array in its own projection (multi-referenced, non-cheap —
    CollapseProject keeps it) tokenizes exactly once."""
    t = tokens(col) if toks is None else toks
    hits = F.size(F.filter(t, lambda w: w.isin(*stopwords)))
    return F.when(F.size(t) > 0, hits / F.size(t)).otherwise(0.0)


def _quality_parts(length_col: Column, pr: Column, sr: Column) -> Column:
    """The quality score as the exact rounded DECIMAL from its three
    components (length, punct ratio, stopword ratio) — lets callers
    stage the ratio columns once and reuse them (round 14)."""
    one = F.expr("CAST(1.0 AS DECIMAL(2,1))")
    len_score = F.least(
        length_col.cast("decimal(12,3)") * F.expr("CAST(0.002 AS DECIMAL(4,3))"),
        one,
    )
    punct_score = one - F.least(pr.cast("decimal(18,12)") * F.lit(4), one)
    stop_score = F.least(sr.cast("decimal(18,12)") * F.lit(5), one)
    w4, w3 = F.expr("CAST(0.4 AS DECIMAL(2,1))"), F.expr("CAST(0.3 AS DECIMAL(2,1))")
    return F.round(w4 * len_score + w3 * punct_score + w3 * stop_score, 4)


def _quality_decimal(col: Column, toks: Column | None = None) -> Column:
    """The quality score as the exact rounded DECIMAL, before any
    output-type cast — shared by quality_score (double presentation)
    and quality_score_e4 (integer fixed point)."""
    return _quality_parts(
        F.length(col), punct_ratio(col), stopword_ratio(col, toks=toks)
    )


def quality_score(col: Column, toks: Column | None = None) -> Column:
    """Composite document-quality score in [0, 1]: rewards moderate
    length, low punctuation density, and natural stopword frequency.

    The weighting runs in exact DECIMAL arithmetic: the components are
    often exact decimals, so a double pipeline lands on round-half ties
    (e.g. 0.54175) where engines disagree; decimal ROUND is
    half-away-from-zero in both Spark and DuckDB."""
    return _quality_decimal(col, toks=toks).cast("double")


def quality_score_e4(col: Column, toks: Column | None = None) -> Column:
    """quality_score in e4 fixed point (score × 10000 as BIGINT).

    For anything that AGGREGATES quality (token-weighted shard means,
    percentile cuts over billions of docs) the double form is a trap:
    double summation is association-order-dependent, so a 1000-executor
    plan and a DuckDB oracle drift in the last bits. The rounded
    DECIMAL is exact at 4 places, so ×10000 is an exact integer and
    every downstream SUM/DIV stays engine-exact."""
    return (_quality_decimal(col, toks=toks) * F.lit(10000)).cast("bigint")


def lang_id(col: Column, toks: Column | None = None) -> Column:
    """Argmax language with deterministic tie-break (markers chain en >
    de > fr > es in a fixed CASE order); 'und' when no marker hits.

    All per-language counts accumulate in ONE pass over the token array
    (struct accumulator) — N filter() passes would each pay the
    interpreted higher-order-function cost per token (measured 4×
    slower); the single fold is the scan-local shape that holds at
    100 TB. ``toks``: pre-staged token array (see stopword_ratio)."""
    names = list(_LANG_MARKERS)
    toks = tokens(col) if toks is None else toks
    zero = F.struct(*[F.lit(0).alias(n) for n in names])
    counts = F.aggregate(
        toks,
        zero,
        lambda acc, t: F.struct(
            *[
                (acc[n] + F.when(t.isin(*_LANG_MARKERS[n]), 1).otherwise(0)).alias(n)
                for n in names
            ]
        ),
    )
    best = F.greatest(*[counts[n] for n in names])
    expr = F.lit("und")
    # build CASE from last to first so earlier langs win ties
    for lang in reversed(names):
        expr = F.when(counts[lang] == best, F.lit(lang)).otherwise(expr)
    return F.when(best > 0, expr).otherwise(F.lit("und"))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized, ASCII-lowercased
    text (canonical content hash used for exact near-normalized dedup).

    translate() lowers ONLY A-Z: full lower() would run the engine's
    unicode tables over arbitrary text, and the JVM vs utf8proc disagree
    on edge codepoints — one divergent byte flips the whole md5. The
    whitespace run-collapse uses the explicit class for the same reason."""
    lowered = F.translate(col, ASCII_UPPER, ASCII_LOWER)
    normalized = F.regexp_replace(F.trim(lowered), WS_CLASS + "+", " ")
    return F.md5(normalized.cast("binary"))


def gopher_metrics(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, public) as
    pure INTEGER relational algebra — every threshold is a cross-
    multiplied integer comparison, so the flags are bit-identical on any
    engine (no float division to disagree at round-half ties).

    Rules: word count in [50, 100000]; mean word length in [3, 10]
    (as 3·n ≤ chars ≤ 10·n); most-frequent-word share ≤ 20 %
    (as 5·maxf ≤ n); ≥ 2 stopword occurrences.

    Plan shape: explode tokens → (doc, word) count → per-doc aggregate.
    Two hash aggregates with map-side combine, shuffle keyed by doc id —
    no windows, no Python. The (doc, word) intermediate is bounded by
    corpus token count, exactly like any inverted-index build.
    spread_scan (round 13): the tokenize+explode+partial-agg is
    scan-stage compute — an under-parallel source serializes it (no-op
    on an already-parallel scan). Round 14: gated at 64 MB/task — a
    plain tokenize+count is light per byte, and the round-13
    unconditional spread of a ~0.6 MB corpus was the driver-measured
    q117 regression (0.9 → 9.9 s: 32-way fan-out jitter on sub-second
    work; unspread runs 0.87 s stable). A task owning a real file
    split's worth of text still earns the exchange."""
    from iceberg_cache_spark.operators.materialize import spread_scan

    stop = _LANG_MARKERS["en"]
    df = spread_scan(df, id_col, min_bytes_per_task=64 << 20)
    ex = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("w"))
    c = ex.groupBy(id_col, "w").agg(F.count("*").alias("cnt"))
    m = c.groupBy(id_col).agg(
        F.sum("cnt").cast("bigint").alias("n_words"),
        F.max("cnt").cast("bigint").alias("max_word_freq"),
        F.sum(F.length("w") * F.col("cnt")).cast("bigint").alias("n_word_chars"),
        F.coalesce(
            F.sum(F.when(F.col("w").isin(*stop), F.col("cnt"))), F.lit(0)
        ).cast("bigint").alias("n_stopwords"),
    )
    n, maxf = F.col("n_words"), F.col("max_word_freq")
    chars, stops = F.col("n_word_chars"), F.col("n_stopwords")
    word_count_ok = ((n >= 50) & (n <= 100000)).cast("int")
    mean_len_ok = ((3 * n <= chars) & (chars <= 10 * n)).cast("int")
    repetition_ok = (5 * maxf <= n).cast("int")
    stopword_ok = (stops >= 2).cast("int")
    return m.select(
        id_col, "n_words", "max_word_freq", "n_word_chars", "n_stopwords",
        word_count_ok.alias("word_count_ok"),
        mean_len_ok.alias("mean_len_ok"),
        repetition_ok.alias("repetition_ok"),
        stopword_ok.alias("stopword_ok"),
        (word_count_ok * mean_len_ok * repetition_ok * stopword_ok).alias("passes"),
    )
