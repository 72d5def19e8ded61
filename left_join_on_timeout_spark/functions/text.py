"""Text-analysis column expressions for the LLM-data-pipeline surface:
tokenization, token counting, quality scoring, language ID, fingerprints.

Everything is a built-in-function Column (JVM codegen, no Python UDFs);
each expression has an exact ANSI-SQL twin used in the DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Whitespace + BPE-ish word/number/punct pieces — same pattern both engines.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Small inline stopword list (English) for the quality heuristic.
STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]

# Language marker words for the n-gram-heuristic language ID.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "with"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "los", "las", "es", "una"],
}


def normalize(text: Column | str) -> Column:
    """Lower-cased, trimmed text; NULL becomes '' so the result is
    provably non-nullable. This is load-bearing for performance, not just
    hygiene: a nullable derivation lets Catalyst's
    InferFiltersFromConstraints synthesize `isnotnull(<whole expensive
    expression>)` and push it into the (possibly single-partition) scan,
    serializing the entire tokenize/shingle pipeline inside a filter. A
    non-nullable input makes those constraints trivially true, so nothing
    is inferred or pushed."""
    t = F.col(text) if isinstance(text, str) else text
    return F.trim(F.lower(F.coalesce(t, F.lit(""))))


def words(text: Column | str) -> Column:
    """Whitespace tokens of the normalized text (1-based `element_at`)."""
    return F.split(normalize(text), r"\s+")


def n_words(text: Column | str) -> Column:
    return F.size(words(text))


def token_count(text: Column | str) -> Column:
    """BPE-ish token count: letter runs, digit runs, single punct marks."""
    t = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(t, F.lit(BPE_TOKEN_RE), 0))


def _count_re(t: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(t, F.lit(pattern), 0))


def punct_ratio(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return _count_re(t, r"[^\w\s]") / F.greatest(F.length(t), F.lit(1))


def stopword_count(text: Column | str) -> Column:
    t = normalize(text)
    pat = r"\b(" + "|".join(STOPWORDS) + r")\b"
    return _count_re(t, pat)


def avg_word_len(text: Column | str) -> Column:
    t = normalize(text)
    total_chars = F.length(F.regexp_replace(t, r"\s+", ""))
    return total_chars / F.greatest(n_words(text), F.lit(1))


def quality_score(text: Column | str) -> Column:
    """Heuristic document quality in [0, 1]: long enough, low punctuation
    noise, some stopword mass (natural prose), sane mean word length.
    Per-row double math — deterministic across engines."""
    nw = n_words(text).cast("double")
    length_score = F.least(nw / 100.0, F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - 4.0 * punct_ratio(text))
    stop_score = F.least(
        3.0 * stopword_count(text).cast("double") / F.greatest(nw, F.lit(1.0)),
        F.lit(1.0))
    wl = avg_word_len(text)
    wl_score = F.when((wl >= 3.0) & (wl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return (0.3 * length_score + 0.3 * punct_pen + 0.2 * stop_score
            + 0.2 * wl_score)


def lang_marker_score(text: Column | str, lang: str) -> Column:
    """Marker-word hits per whitespace token for one language."""
    t = normalize(text)
    pat = r"\b(" + "|".join(LANG_MARKERS[lang]) + r")\b"
    return _count_re(t, pat).cast("double") / F.greatest(n_words(text), F.lit(1))


def han_ratio(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    # Java regex: \p{IsHan}; the DuckDB (RE2) twin uses \p{Han}.
    return _count_re(t, r"\p{IsHan}") / F.greatest(F.length(t), F.lit(1))


def lang_id(text: Column | str) -> Column:
    """N-gram-heuristic language ID over {en,de,fr,es,zh}: CJK-ratio check
    first, else argmax of marker scores with a fixed precedence order so
    ties are deterministic."""
    scores = {lang: lang_marker_score(text, lang) for lang in LANG_MARKERS}
    pred = F.lit("unknown")
    # reversed so the first language in the dict wins ties
    for lang in reversed(list(LANG_MARKERS)):
        others = [s for l2, s in scores.items() if l2 != lang]
        pred = F.when(scores[lang] >= F.greatest(*others), F.lit(lang)).otherwise(pred)
    no_hits = sum(scores.values(), F.lit(0.0)) == 0.0
    return (F.when(han_ratio(text) > 0.05, F.lit("zh"))
            .when(no_hits, F.lit("unknown"))
            .otherwise(pred))


def word_ngrams(text: Column | str, n: int) -> Column:
    """All word ``n``-grams (space-joined) of the normalized text, in
    order. Guarded to an empty array below ``n`` words — ``sequence(1,
    size-k)`` with a negative stop would *descend*, not stay empty.

    PERFORMANCE: higher-order-function lambdas are interpreted (no
    whole-stage codegen, no subexpression elimination), so the
    ``slice`` inside the transform re-evaluates its captured words
    expression — the regex split of the WHOLE text — once per gram.
    Keep this form only for one-shot scalar uses (a size gate over a
    tiny slice); every per-row gram RELATION must go through
    :func:`gram_rows` / :func:`ngrams_of`, which bind the words array
    to a materialized column first (the dedup family's ``shingles_of``
    discipline — that same inlining was 85% of the r1 minhash cost,
    and the r14 A/B measured 3.55 s → 0.61 s on the sf0.1 gram
    explode)."""
    return ngrams_of(words(text), n)


def ngrams_of(w: Column, n: int) -> Column:
    """All word ``n``-grams of a words-array column, empty below ``n``
    words. Pass a *materialized* column reference (`F.col("_w")`), not
    the tokenizer expression, so the split evaluates once per row —
    see :func:`word_ngrams`."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(w) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(w, i, n)))
    return F.when(F.size(w) >= n, grams) \
            .otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))


def gram_rows(df, text_col: str, n: int, *, id_col: str | None = None,
              gram_alias: str = "g", outer: bool = False,
              extra_cols: list[str] | None = None):
    """Exploded ``(id_col?, *extra_cols, gram_alias)`` word-n-gram rows
    of ``df`` — the ONE place the gram relation shape is built.

    Two projections on purpose: the first materializes the normalized
    words array as a column, the second explodes the n-grams of that
    column. CollapseProject keeps them separate (the array is
    referenced by several non-cheap expressions), so the regex split
    runs once per row instead of once per gram — the 5.8× tokenize win
    measured in PLANS.md r14. ``outer=True`` keeps zero-gram docs as a
    NULL gram row (the admission-gate shape)."""
    keep = ([F.col(id_col)] if id_col else []) + \
        [F.col(c) for c in (extra_cols or [])]
    ex = F.explode_outer if outer else F.explode
    return (df.select(*keep, words(text_col).alias("_w"))
            .select(*keep, ex(ngrams_of(F.col("_w"), n))
                    .alias(gram_alias)))


def gram_digest_set(df, text_col: str = "text", n: int = 5,
                    alias: str = "h"):
    """The distinct md5 word-n-gram digests of ``df`` — the eval/bench
    gram-set shape every contamination query builds (grams travel as
    16-byte digests, never strings). Routed through :func:`gram_rows`
    so the tokenizer splits once per row, not once per gram."""
    return (gram_rows(df, text_col, n)
            .select(F.md5("g").alias(alias)).distinct())


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-collapsed
    normalized text (stable under reflow)."""
    t = F.regexp_replace(normalize(text), r"\s+", " ")
    return F.md5(t)
