"""Text-analysis functions for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All pure Catalyst expressions (the reference computed comparable per-field
derivations — soundex, outcode regexes, DOB recombinations — partly in scalar
Python UDFs, utils/preprocessing_utils.py:17-86; we keep everything native so
it is SQL-mirrorable for the DuckDB oracle and free for Catalyst to push
around).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from nhse_probabilistic_linkage_spark.functions.text import normalize_text, tokenize

# Marker stopwords per language for the n-gram/lexicon heuristic. Tiny on
# purpose: broadcast as literals into the plan, identical lists in the DuckDB
# oracle SQL.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans", "que", "pour", "pas"],
    "es": ["el", "la", "los", "y", "es", "una", "en", "que", "por", "con"],
}

# BPE-ish tokenization: letter runs, digit runs, or single non-space symbols —
# the standard pre-tokenizer shape (GPT-2-style word/number/punct split).
BPE_ISH_PATTERN = r"[\p{L}]+|[\p{N}]+|[^\s\p{L}\p{N}]"


def whitespace_token_count(text: Column | str | None = None, *, tokens: Column | None = None) -> Column:
    return F.size(tokens if tokens is not None else tokenize(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.coalesce(F.regexp_count(c, F.lit(BPE_ISH_PATTERN)), F.lit(0))


def stopword_ratio(
    text: Column | str | None = None, lang: str = "en", *, tokens: Column | None = None
) -> Column:
    toks = tokens if tokens is not None else tokenize(text)
    markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def lang_scores(
    text: Column | str | None = None, *, tokens: Column | None = None
) -> dict[str, Column]:
    return {lang: stopword_ratio(text, lang, tokens=tokens) for lang in LANG_MARKERS}


def lang_id(
    text: Column | str | None = None, default: str = "und", *, tokens: Column | None = None
) -> Column:
    """Argmax language over marker-word hit ratios; 'und' when no marker
    hits. Deterministic tie-break: lexicographic language code order.

    The per-language scores (each a token-array filter scan) are bound ONCE
    into a lambda variable (r6): the argmax references every score ~3 times
    (greatest + equality pick + the >0 guard), and without the binding each
    reference re-runs its filter scan per row. Identical values — langs are
    iterated in sorted order on both sides of the binding."""
    langs = sorted(LANG_MARKERS)
    scores = lang_scores(text, tokens=tokens)
    scores_arr = F.array(*[scores[lang] for lang in langs])

    def pick(s: Column) -> Column:
        best = F.array_max(s)
        choice = F.coalesce(
            *[F.when(s[i] == best, F.lit(lang)) for i, lang in enumerate(langs)]
        )
        return F.when(best > 0, choice).otherwise(F.lit(default))

    return _bind_once(scores_arr, pick)


def mean_token_length(
    text: Column | str | None = None, *, tokens: Column | None = None
) -> Column:
    toks = tokens if tokens is not None else tokenize(text)
    total = F.aggregate(F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x)
    return F.when(F.size(toks) > 0, total.cast("double") / F.size(toks)).otherwise(F.lit(0.0))


def alpha_ratio(text: Column | str) -> Column:
    """Fraction of non-space characters that are letters.

    Two regex passes (r6; was four-plus once the when() re-referenced the
    stripped string): letter UTF-16 units = length - length(letters
    removed) — identical to stripping non-letters first, including
    surrogate-pair counting — and non-space units = length - count of \\s
    matches (every \\s char is one BMP unit). The denominator is bound once
    via _bind_once so its regexp_count isn't re-run per reference."""
    c = F.col(text) if isinstance(text, str) else text
    letters = F.length(c) - F.length(F.regexp_replace(c, r"[\p{L}]", ""))
    non_space = F.length(c) - F.regexp_count(c, F.lit(r"[\s]"))
    return _bind_once(
        non_space,
        lambda ns: F.when(ns > 0, letters.cast("double") / ns).otherwise(F.lit(0.0)),
    )


def _quality_from_parts(n_tok: Column, mtl: Column, alpha: Column, stop: Column) -> Column:
    """Quality formula over already-computed (unrounded) parts — shared by
    quality_score and with_textstats so the composite never re-derives a
    stat that a sibling column already pays for."""
    len_term = F.least(n_tok.cast("double") / 50.0, F.lit(1.0)) * 0.25
    mtl_term = F.when((mtl >= 3) & (mtl <= 10), F.lit(0.25)).otherwise(F.lit(0.0))
    alpha_term = alpha * 0.25
    stop_term = F.least(stop * 5.0, F.lit(1.0)) * 0.25
    return F.round(len_term + mtl_term + alpha_term + stop_term, 6)


def quality_score(
    text: Column | str, lang: str = "en", *, tokens: Column | None = None
) -> Column:
    """Composite [0,1] quality heuristic: length band + mean-token-length
    band + alpha ratio + stopword presence. Gopher-style rules compressed to
    a deterministic closed form (each term in [0,0.25]).

    Pass `tokens` (a materialized token-array column) when calling alongside
    other token-derived stats: lambda-bearing expressions are opaque to
    codegen subexpression elimination, so without it the normalize+split
    pipeline re-runs once per term (see with_textstats)."""
    return _quality_from_parts(
        whitespace_token_count(text, tokens=tokens),
        mean_token_length(text, tokens=tokens),
        alpha_ratio(text),
        stopword_ratio(text, lang, tokens=tokens),
    )


def duplicate_line_ratio(text: Column | str) -> Column:
    """Fraction of non-empty lines that are repeats of an earlier line —
    the Gopher/MassiveText repetition filter's line-level signal. Boilerplate
    pages (nav bars, cookie banners pasted per section) score high and get
    filtered before ever reaching the dedup detectors."""
    c = F.col(text) if isinstance(text, str) else text
    lines = F.filter(F.transform(F.split(c, "\n"), lambda l: F.trim(l)), lambda l: l != F.lit(""))
    n = F.size(lines)
    return F.when(n > 0, (n - F.size(F.array_distinct(lines))).cast("double") / n).otherwise(
        F.lit(0.0)
    )


# Hard token cap for the O(n·distinct) top-token scan: the ratio is computed
# over the first TOP_TOKEN_MAX_TOKENS tokens. Page-sized docs are far below
# it (no behavior change); a book-sized outlier costs a bounded prefix scan
# instead of a quadratic stall — same policy as DedupConfig.substr_max_chars.
TOP_TOKEN_MAX_TOKENS = 10_000


def _bind_once(col: Column, f) -> Column:
    """Evaluate `col` exactly once and expose it to `f` as a lambda variable.

    Inside nested higher-order functions, a non-lambda-variable child
    expression is RE-EVALUATED on every outer iteration — so e.g. a filter
    over `tokenize(text)` nested in a transform re-runs the whole
    normalize+regexp+split pipeline per outer element (measured: a 2k-token
    doc went from sub-second to minutes). Wrapping the expression in a
    1-element array and transform binds it to a lambda variable, which inner
    lambdas capture by reference."""
    return F.transform(F.array(col), f)[0]


def top_token_ratio(
    text: Column | str | None = None,
    *,
    tokens: Column | None = None,
    max_tokens: int | None = TOP_TOKEN_MAX_TOKENS,
) -> Column:
    """Frequency of the most common token over all tokens (Gopher's
    "fraction of most common word" rule). Computed natively: count each
    DISTINCT token's occurrences with a filter lambda — O(n·distinct) per
    row. The function enforces its own token cap (`max_tokens`, None
    disables): the scan never exceeds O(cap·distinct(cap)) however large
    the document."""
    toks = tokens if tokens is not None else tokenize(text)
    if max_tokens is not None:
        toks = F.slice(toks, 1, max_tokens)

    def ratio(t: Column) -> Column:
        counts = F.transform(
            F.array_distinct(t), lambda d: F.size(F.filter(t, lambda x: x == d))
        )
        return F.when(
            F.size(t) > 0, F.array_max(counts).cast("double") / F.size(t)
        ).otherwise(F.lit(0.0))

    return _bind_once(toks, ratio)


def repetition_flags(
    text: Column | str,
    max_dup_line_ratio: float = 0.3,
    max_top_token_ratio: float = 0.2,
    *,
    tokens: Column | None = None,
    max_tokens: int | None = TOP_TOKEN_MAX_TOKENS,
) -> Column:
    """True when the document passes the repetition filters (Gopher-style
    thresholds; both signals are native expressions)."""
    return (duplicate_line_ratio(text) <= max_dup_line_ratio) & (
        top_token_ratio(text, tokens=tokens, max_tokens=max_tokens) <= max_top_token_ratio
    )


def doc_fingerprint(text: Column | str) -> Column:
    """64-bit content fingerprint of the normalized text (exact-dup key)."""
    return F.xxhash64(normalize_text(text))


def with_textstats(df, text_col: str = "text"):
    """All stats in one pass over a SINGLE tokenization.

    The token array is materialized as its own projection step first:
    every token-derived stat references it, and lambda-bearing expressions
    are opaque to codegen subexpression elimination, so inlined the
    normalize+regexp+split+filter pipeline re-executes per stat term (4x
    inside lang_id alone). Interleaved A/B at sf0.1, local[8]: 1.38s
    inlined vs 0.92s shared (~1.5x), identical output. CollapseProject
    keeps non-cheap multi-referenced aliases in separate Projects, so
    `_toks` evaluates exactly once."""
    t = F.col(text_col)
    toks = F.col("_toks")
    # every expensive stat the composite quality re-uses is additionally
    # materialized as its own (unrounded) alias (r6): each is
    # multi-referenced and non-cheap, so CollapseProject keeps the alias and
    # it evaluates once — without this the mean-token-length aggregate
    # appeared 5x and the alpha regex chain 4x in the final (interpreted,
    # lambda-bearing) Project. Output values identical: the output columns
    # round the same unrounded expressions as before.
    return (
        df.withColumn("_toks", tokenize(t))
        .withColumn("_mtl", mean_token_length(tokens=toks))
        .withColumn("_alpha", alpha_ratio(t))
        .withColumn("_stop", stopword_ratio(tokens=toks, lang="en"))
        .withColumn("ws_tokens", whitespace_token_count(tokens=toks))
        .withColumn("bpe_tokens", bpe_ish_token_count(t))
        .withColumn("mean_tok_len", F.round(F.col("_mtl"), 6))
        .withColumn("alpha_ratio", F.round(F.col("_alpha"), 6))
        .withColumn("stopword_ratio_en", F.round(F.col("_stop"), 6))
        .withColumn("lang_pred", lang_id(tokens=toks))
        .withColumn(
            "quality",
            _quality_from_parts(
                whitespace_token_count(tokens=toks),
                F.col("_mtl"),
                F.col("_alpha"),
                F.col("_stop"),
            ),
        )
        .withColumn("fingerprint", doc_fingerprint(t))
        .drop("_toks", "_mtl", "_alpha", "_stop")
    )
