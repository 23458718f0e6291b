"""Text-analysis operators for large-scale training-data pipelines.

All hot-path logic is built-in Column expressions (JVM-side, whole-
stage codegen): tokenization, stopword ratios, punctuation stats,
n-gram shingling, fingerprinting, and a heuristic language ID.  No
Python UDFs -- at 100 TB these run as a single codegen'd projection
per document partition, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword sets for the n-gram/stopword heuristic
# language ID.  Deliberately small: the point is the operator shape
# (array intersection scoring), not lexical completeness.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "dans"],
}

PUNCT_CLASS = "[.,!?;:]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (single-space split -- deterministic and
    oracle-matchable; use ``regex_tokens`` for robust splitting)."""
    return F.split(F.col(col) if isinstance(col, str) else col, " ")


def regex_tokens(col: Column | str) -> Column:
    """BPE-ish tokenizer: words, numbers, or single non-space symbols."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0)


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def stopword_hits(col: Column | str, lang: str = "en") -> Column:
    """Number of tokens that are stopwords of ``lang`` (array filter --
    evaluated per-row JVM-side, no shuffle)."""
    words = STOPWORDS[lang]
    return F.size(F.filter(tokens(col), lambda x: x.isin(words)))


def punct_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c) - F.length(F.regexp_replace(c, PUNCT_CLASS, ""))


def quality_features(df: DataFrame) -> DataFrame:
    """Length / punctuation / stopword quality features per document of
    the ``text`` column."""
    n_tok = token_count("text")
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("n_chars_computed", F.length(F.col("text")))
        .withColumn("punct_chars", punct_count("text"))
        .withColumn("stop_hits", stopword_hits("text", "en"))
        .withColumn(
            "stop_ratio",
            F.round(F.col("stop_hits").cast("double") / F.col("n_tokens"), 4),
        )
        .withColumn(
            "avg_token_len",
            F.round(
                (F.col("n_chars_computed") - (F.col("n_tokens") - 1)).cast("double")
                / F.col("n_tokens"),
                4,
            ),
        )
    )


def language_scores(col: Column | str) -> dict[str, Column]:
    """Stopword-hit score per language."""
    toks = tokens(col)
    return {
        lang: F.size(F.filter(toks, lambda x: x.isin(words)))
        for lang, words in STOPWORDS.items()
    }


# Both language-ID flavors answer 'unknown' below this many hits.
_LANG_MIN_HITS = 2


def language_guess(col: Column | str) -> Column:
    """Argmax language over stopword scores, deterministic tie-break by
    language-key order; 'unknown' when the best score is below
    ``_LANG_MIN_HITS``."""
    scores = language_scores(col)
    best = F.greatest(*scores.values())
    expr = F.when(best < _LANG_MIN_HITS, F.lit("unknown"))
    for lang in STOPWORDS:  # first language reaching the max wins
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr.otherwise(F.lit("unknown"))


# Tiny char-trigram profiles per language (top distinctive trigrams) --
# the n-gram flavor of language ID: score = profile-trigram hits in the
# document's trigram set.  Complements the stopword argmax above.
CHAR_TRIGRAM_PROFILES = {
    "en": ["the", "and", "ing", "ion", "ent", " th", "he ", "of "],
    "de": ["der", "die", "und", "ein", "sch", "cht", "en ", "ich"],
    "es": ["que", "los", "ión", "nte", "de ", "la ", "el ", "ado"],
    "fr": ["les", "ent", "de ", "la ", "ion", "que", "des", "ais"],
}


def char_trigrams(col: Column | str) -> Column:
    """Distinct character trigrams of the lowercased text (empty array
    for texts shorter than 3 chars -- no partial grams).

    Built from shifted-array zips over the char array, NOT
    ``substr(c, i, 3)`` inside a position lambda: a lambda re-evaluates
    referenced subexpressions per element, so the substr formulation
    lowers the whole string once per position -- O(len^2) char work per
    document (the same antipattern the rolling fingerprint hit at
    115 s/sf0.1; see SCALING.md r4)."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    ch = F.split(c, "")
    sz = F.size(ch)
    pad = F.array(F.lit(""))
    t2 = F.concat(F.slice(ch, 2, F.greatest(sz - 1, F.lit(0))), pad)
    t3 = F.concat(F.slice(ch, 3, F.greatest(sz - 2, F.lit(0))), pad, pad)
    tri = F.zip_with(
        F.zip_with(ch, t2, lambda a, b: F.concat(a, b)),
        t3,
        lambda ab, c3: F.concat(ab, F.coalesce(c3, F.lit(""))),
    )
    return F.when(F.length(c) < 3, F.array().cast("array<string>")).otherwise(
        F.array_distinct(F.slice(tri, 1, F.greatest(sz - 2, F.lit(0))))
    )


def language_guess_ngram(col: Column | str) -> Column:
    """Argmax language over char-trigram profile hits (n-gram heuristic
    language ID)."""
    grams = char_trigrams(col)
    scores = {
        lang: F.size(F.filter(grams, lambda g: g.isin(profile)))
        for lang, profile in CHAR_TRIGRAM_PROFILES.items()
    }
    best = F.greatest(*scores.values())
    expr = F.when(best < _LANG_MIN_HITS, F.lit("unknown"))
    for lang in CHAR_TRIGRAM_PROFILES:
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr.otherwise(F.lit("unknown"))


def normalized_text(col: Column | str) -> Column:
    """Whitespace-collapsed, lowercased text for fingerprinting."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def fingerprint_md5(col: Column | str) -> Column:
    """Content fingerprint over normalized text (exact-dup detection)."""
    return F.md5(normalized_text(col))


def clean_tokens(col: Column | str) -> Column:
    """Non-empty tokens with the NULL/empty contract every shingle
    consumer shares: NULL or whitespace-only text yields an EMPTY
    array (size 0), never NULL and never [''].  This is THE definition
    of "token count" for the gram operators -- ``shingles``,
    ``shingles_sampled``, and any query doing its own positional
    arithmetic (queries/corpus.q_substring_dedup_cut) must all derive
    from this one expression, or window-length math silently
    desynchronizes from the gram array."""
    # coalesce: NULL text must take the empty branch (size(NULL) is -1
    # under non-ANSI, which would otherwise fall into callers'
    # short-doc arms and emit the degenerate [''] shingle)
    return F.coalesce(
        F.filter(tokens(col), lambda t: t != ""), F.array().cast("array<string>")
    )


def _all_shingles(toks: Column, n: int) -> Column:
    """Full-length n-gram array via shifted-array zips: ``toks`` is
    referenced a constant n times (itself + n-1 shifted, padded
    copies), so the tokenization is evaluated O(n) times per row.  The
    previous slice-per-position formulation re-evaluated the token
    array inside the position lambda -- O(tokens^2) split/filter work
    per document, the actual root of the 'interpreted shingle HOFs'
    bottleneck measured in r3 (SCALING.md r4)."""
    sz = F.size(toks)
    parts = [toks]
    for j in range(1, n):
        pads = F.array(*[F.lit("") for _ in range(j)])
        parts.append(
            F.concat(F.slice(toks, j + 1, F.greatest(sz - j, F.lit(0))), pads)
        )
    acc = parts[0]
    for p in parts[1:]:
        acc = F.zip_with(acc, p, lambda a, b: F.concat(a, F.lit(" "), b))
    return acc  # length sz; positions past sz-n+1 carry pad-joined tails


def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> (input to MinHash).
    Pure Column ops, no UDF; linear in document length (see
    _all_shingles).

    Empty/whitespace-only text yields an EMPTY array (not ``['']``):
    a degenerate shared shingle would put every empty doc in the same
    LSH band bucket, recreating the quadratic bucket the explode
    formulation exists to avoid.  Short-but-nonempty docs still get one
    whole-text shingle so true short dups can match."""
    toks = clean_tokens(col)
    sz = F.size(toks)
    return (
        F.when(sz == 0, F.array().cast("array<string>"))
        .when(sz < n, F.array(F.concat_ws(" ", toks)))
        .otherwise(F.slice(_all_shingles(toks, n), 1, sz - (n - 1)))
    )


def shingles_sampled(col: Column | str, n: int = 3, step: int = 4) -> Column:
    """Every ``step``-th word n-gram (token positions 0, step, 2*step,
    ...) -- the blocking-key flavor of ``shingles``.  Building the full
    shingle array is the measured bottleneck of min-hash fingerprint
    blocking (interpreted HOF constructing ~size(toks) strings per row;
    swapping md5 for xxhash64 bought only ~12%), so for a 1-hash
    blocking key we construct 1/step of the positions instead: still a
    valid (coarser) MinHash -- two near-identical docs still agree on
    the min over sampled positions with high probability, and the
    subsample is deterministic by position, so any engine recomputes
    the same key.  Same empty/short-doc semantics as ``shingles``."""
    toks = clean_tokens(col)
    sz = F.size(toks)
    # full gram array built linearly, then strided with filter's
    # (element, index) lambda -- one pass, no per-position re-eval of
    # the token array (same O(tokens^2) trap as _all_shingles notes)
    strided = F.filter(
        F.slice(_all_shingles(toks, n), 1, sz - (n - 1)),
        lambda _x, i: i % step == 0,
    )
    return (
        F.when(sz == 0, F.array().cast("array<string>"))
        .when(sz < n, F.array(F.concat_ws(" ", toks)))
        .otherwise(strided)
    )


# Window-combination constants for the portable rolling fingerprint
# (golden-ratio / xxhash64 primes as SIGNED 64-bit values; the DuckDB
# oracle uses the same constants mod 2^64).
_RFP_C = (-7046029254386353131, -4417276706812531889, 1609587929392839161)


def rolling_fingerprint_portable(col: Column | str) -> Column:
    """Engine-agnostic rolling document fingerprint: per-token 60-bit
    hash (first 15 hex chars of md5, via ``conv`` -- exact in any
    engine), combined over 3-token windows with wrapping 64-bit
    multiply-add (Spark non-ANSI long arithmetic IS mod-2^64 two's
    complement; a DuckDB oracle emulates it with HUGEINT products
    ``% 2^64`` and a signed conversion).  fingerprint = signed min over
    window hashes; NULL for empty/whitespace-only docs.  Windows past
    the end (docs shorter than 3 tokens) zero-pad, so every
    non-empty doc gets exactly max(1, n_tokens-2) windows."""
    toks = F.coalesce(
        F.filter(tokens(col), lambda t: t != ""), F.array().cast("array<string>")
    )
    th = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    )
    # Windows via SHIFTED-ARRAY zips, never element_at(th, i) inside a
    # position lambda: a subexpression referenced from a HOF lambda is
    # re-evaluated per element, so the element_at formulation recomputes
    # the full md5 hash array for every window position -- O(tokens^2)
    # md5 calls per document (measured 115 s at sf0.1 vs ~2 s linear).
    # Here ``th`` appears exactly three times (itself + two shifted
    # copies, zero-padded back to equal length), so the hash array is
    # built a constant number of times per row.
    c1, c2, c3 = (F.lit(c).cast("long") for c in _RFP_C)
    zero = F.array(F.lit(0).cast("long"))
    sz = F.size(toks)
    th2 = F.concat(F.slice(th, 2, F.greatest(sz - 1, F.lit(0))), zero)
    th3 = F.concat(F.slice(th, 3, F.greatest(sz - 2, F.lit(0))), zero, zero)
    wins = F.zip_with(
        F.zip_with(th, th2, lambda a, b: a * c1 + b * c2),
        th3,
        lambda ab, c: ab + F.coalesce(c, F.lit(0).cast("long")) * c3,
    )
    wins = F.slice(wins, 1, F.greatest(sz - 2, F.lit(1)))
    return F.when(sz == 0, F.lit(None).cast("long")).otherwise(F.array_min(wins))
