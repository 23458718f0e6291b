"""Extension inventory: LLM-training-data-pipeline operators
(BASELINE.json north star): JSON props extraction, text analysis,
dedup families (exact / MinHash-LSH / SimHash / n-gram Jaccard),
similarity search (brute-force + IVF), multimodal plumbing.

Oracle-checked where expressible in DuckDB.  The canonical near-dup
queries (minhash_near_dup / simhash_near_dup / near_dup_clusters) use
the *portable* md5-string LSH family so the ENTIRE algorithm --
signature, banding, bucket join, verify -- is recomputed by the DuckDB
oracle; the xxhash64 fast family (the 100 TB path, JVM-side hashing)
is benchmarked under the ``*_fast`` names with rows-only checks."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions.multimodal import (
    decode_features,
    frame_sample,
    synthesize_media,
)
from ..functions.similarity import (
    PORTABLE_ADAPTIVE_CAP,
    PORTABLE_K_THRESHOLDS,
    _int_plane,
    adaptive_lsh_pairs_portable,
    cosine,
    cosine_topk,
    embedding_near_dupes_lsh_portable,
    ivf_topk,
    jaccard_tokens,
    kmeans_lite,
    minhash_near_dupes,
    minhash_near_dupes_portable,
    norm,
    simhash64,
    simhash_near_dupes_portable,
)
from ..sources.tables import load_tables
from . import QuerySpec


# --- JSON props extraction (events.props is JSON-in-string) -----------------


def q_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON extraction over the props column (from_json with an
    explicit schema -- SURVEY §7 extension; get_json_object is the
    untyped twin): weighted aggregates by event_type."""
    t = load_tables(spark, sf_dir, ["events"])
    k = F.from_json(F.col("props"), "k int").getField("k")
    return (
        t["events"]
        .withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.round(F.sum(F.col("value") * F.col("k")), 2).alias("weighted_value"),
            F.count(F.when(F.col("k") > 50, 1)).alias("high_k_count"),
        )
    )


ORACLE_PROPS_JSON = """
SELECT event_type,
       CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       round(sum(value * TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)), 2) AS weighted_value,
       count(CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) > 50 THEN 1 END) AS high_k_count
FROM events
GROUP BY event_type
"""


# --- text analysis -----------------------------------------------------------


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per document (whitespace tokenizer)."""
    t = load_tables(spark, sf_dir, ["documents"])
    return t["documents"].select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        F.size(TX.regex_tokens("text")).alias("n_regex_tokens"),
        F.length("text").alias("n_chars_computed"),
        F.size(F.array_distinct(TX.tokens("text"))).alias("n_unique_tokens"),
    )


ORACLE_TOKEN_STATS = r"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INTEGER) AS n_regex_tokens,
       CAST(length(text) AS INTEGER) AS n_chars_computed,
       CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_unique_tokens
FROM documents
"""


def q_tokenizer_fertility_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility / compression audit per language -- the
    multilingual tokenizer-efficiency measurement (subword tokens per
    whitespace word, bytes per subword token) that decides how far a
    fixed token budget stretches in each language: high-fertility
    languages pay a token premium per word, high bytes-per-token
    languages compress worse at rest (the metric family behind
    XLM-R/NLLB-style tokenizer analyses and 'byte premium' studies).
    The subword proxy is the repo's BPE-ish regex tokenizer
    (functions/text.regex_tokens -- already oracle-proven cross-engine
    in doc_token_stats).

    Per language (NULL normalized to 'und', NULL text counting zero
    everywhere -- same convention as unimax_mix_allocation): exact
    BIGINT sums of whitespace words, regex subword tokens, and UTF-8
    bytes; fertility = subwords/words and bytes_per_token =
    bytes/subwords each as ONE IEEE division of two BIGINTs rounded 4,
    NULL-guarded for empty denominators.

    Scale shape: one projection + one map-side-combinable groupBy on
    lang (tens of groups at any corpus size) -- the 100 TB text
    crosses the wire once, as three longs per row."""
    t = load_tables(spark, sf_dir, ["documents"])
    d = t["documents"].select(
        F.coalesce(F.col("lang"), F.lit("und")).alias("lang"),
        F.when(F.col("text").isNull(), F.lit(0))
        .otherwise(TX.token_count("text"))
        .cast("long")
        .alias("__w"),
        F.when(F.col("text").isNull(), F.lit(0))
        .otherwise(F.size(TX.regex_tokens("text")))
        .cast("long")
        .alias("__r"),
        F.coalesce(F.octet_length("text"), F.lit(0)).cast("long").alias("__b"),
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__w").cast("long").alias("ws_tokens"),
            F.sum("__r").cast("long").alias("subword_tokens"),
            F.sum("__b").cast("long").alias("utf8_bytes"),
            F.when(
                F.sum("__w") > 0, F.round(F.sum("__r") / F.sum("__w"), 4)
            ).alias("fertility"),
            F.when(
                F.sum("__r") > 0, F.round(F.sum("__b") / F.sum("__r"), 4)
            ).alias("bytes_per_token"),
        )
        .orderBy("lang")
    )


ORACLE_TOKENIZER_FERTILITY = r"""
WITH d AS (
  SELECT coalesce(lang, 'und') AS lang,
         CASE WHEN text IS NULL THEN 0
              ELSE len(string_split(text, ' ')) END AS w,
         CASE WHEN text IS NULL THEN 0
              ELSE len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
         END AS r,
         coalesce(strlen(text), 0) AS b
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(w) AS BIGINT) AS ws_tokens,
       CAST(sum(r) AS BIGINT) AS subword_tokens,
       CAST(sum(b) AS BIGINT) AS utf8_bytes,
       CASE WHEN sum(w) > 0
            THEN round(CAST(sum(r) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 4)
       END AS fertility,
       CASE WHEN sum(r) > 0
            THEN round(CAST(sum(b) AS DOUBLE) / CAST(sum(r) AS DOUBLE), 4)
       END AS bytes_per_token
FROM d
GROUP BY lang
ORDER BY lang
"""


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio + punctuation + length features,
    rolled up by source."""
    t = load_tables(spark, sf_dir, ["documents"])
    feats = TX.quality_features(t["documents"])
    return feats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_tokens"), 2).alias("avg_tokens"),
        F.round(F.avg("stop_ratio"), 4).alias("avg_stop_ratio"),
        F.sum("punct_chars").cast("bigint").alias("total_punct"),
        F.count(F.when(F.col("stop_ratio") > 0.05, 1)).alias("stopword_rich_docs"),
    )


_EN_STOP_SQL = "('the','a','of','and','to','in','is','that','it','for')"

ORACLE_DOC_QUALITY = f"""
WITH feats AS (
  SELECT source,
         len(string_split(text, ' ')) AS n_tokens,
         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct_chars,
         round(CAST(len(list_filter(string_split(text, ' '), x -> x IN {_EN_STOP_SQL})) AS DOUBLE)
               / len(string_split(text, ' ')), 4) AS stop_ratio
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       round(avg(n_tokens), 2) AS avg_tokens,
       round(avg(stop_ratio), 4) AS avg_stop_ratio,
       CAST(sum(punct_chars) AS BIGINT) AS total_punct,
       count(CASE WHEN stop_ratio > 0.05 THEN 1 END) AS stopword_rich_docs
FROM feats
GROUP BY source
"""


def q_doc_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword-hit argmax) rolled up by guess
    and the corpus's labelled lang."""
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        t["documents"]
        .withColumn("lang_guess", TX.language_guess("text"))
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _lang_score_sql(words: list[str]) -> str:
    quoted = ",".join(f"'{w}'" for w in words)
    return f"len(list_filter(string_split(text, ' '), x -> x IN ({quoted})))"


def _oracle_language() -> str:
    s = {lang: _lang_score_sql(words) for lang, words in TX.STOPWORDS.items()}
    greatest = f"greatest({s['en']}, {s['de']}, {s['es']}, {s['fr']})"
    case = f"""CASE
      WHEN {greatest} < 2 THEN 'unknown'
      WHEN {s['en']} = {greatest} THEN 'en'
      WHEN {s['de']} = {greatest} THEN 'de'
      WHEN {s['es']} = {greatest} THEN 'es'
      WHEN {s['fr']} = {greatest} THEN 'fr'
      ELSE 'unknown' END"""
    return f"""
SELECT lang, {case} AS lang_guess, count(*) AS n_docs
FROM documents
GROUP BY 1, 2
"""


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup detection via md5 fingerprint of normalized text."""
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        t["documents"]
        .withColumn("fp", TX.fingerprint_md5("text"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("distinct_fingerprints"),
        )
    )


ORACLE_FINGERPRINTS = r"""
SELECT source,
       count(*) AS n_docs,
       count(DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS distinct_fingerprints
FROM documents
GROUP BY source
"""


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: distinct
    token ratio, top-token fraction, top-bigram fraction -- the filters
    LLM-pipeline dedup/quality stages run before training.  Pure
    Column-level HOFs, per-row computation, no shuffle."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"]
    # explode + two-phase agg, NOT nested HOFs: transform(distinct,
    # x -> size(filter(toks, y = x))) is O(distinct * n) interpreted
    # per row and measured 25x slower at sf0.1 (124 s vs 5 s).  Both
    # groupBys partial-aggregate map-side, keyed on doc_id.
    tok_stats = (
        docs.select("doc_id", F.explode(TX.tokens("text")).alias("__t"))
        .groupBy("doc_id", "__t")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("doc_id")
        .agg(
            F.sum("__c").alias("__n"),
            F.count(F.lit(1)).alias("__d"),
            F.max("__c").alias("__top"),
        )
    )
    bi_stats = (
        docs.select("doc_id", F.explode(TX.shingles("text", 2)).alias("__b"))
        .groupBy("doc_id", "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("doc_id")
        .agg(F.sum("__c").alias("__bn"), F.max("__c").alias("__btop"))
    )
    return (
        tok_stats.join(bi_stats, "doc_id")
        .select(
            "doc_id",
            F.col("__n").cast("int").alias("n_tokens"),
            F.round(F.col("__d").cast("double") / F.col("__n"), 4).alias(
                "distinct_ratio"
            ),
            F.round(F.col("__top").cast("double") / F.col("__n"), 4).alias(
                "top_token_frac"
            ),
            F.round(F.col("__btop").cast("double") / F.col("__bn"), 4).alias(
                "top_bigram_frac"
            ),
        )
    )


ORACLE_DOC_REPETITION = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
), tc AS (
  SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t
), ts AS (
  SELECT doc_id, sum(c) AS n, count(*) AS d, max(c) AS top
  FROM tc GROUP BY doc_id
), fd AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ftk
  FROM documents
), big AS (
  SELECT doc_id,
         unnest(CASE WHEN len(ftk) = 0 THEN CAST([] AS VARCHAR[])
                     WHEN len(ftk) < 2 THEN [array_to_string(ftk, ' ')]
                     ELSE list_transform(range(1, len(ftk)),
                                         i -> array_to_string(ftk[i:i+1], ' '))
                END) AS b
  FROM fd
), bc AS (
  SELECT doc_id, b, count(*) AS c FROM big GROUP BY doc_id, b
), bs AS (
  SELECT doc_id, sum(c) AS bn, max(c) AS btop FROM bc GROUP BY doc_id
)
SELECT ts.doc_id,
       CAST(ts.n AS INTEGER) AS n_tokens,
       round(CAST(ts.d AS DOUBLE) / ts.n, 4) AS distinct_ratio,
       round(CAST(ts.top AS DOUBLE) / ts.n, 4) AS top_token_frac,
       round(CAST(bs.btop AS DOUBLE) / bs.bn, 4) AS top_bigram_frac
FROM ts JOIN bs ON bs.doc_id = ts.doc_id
"""


def q_doc_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-cleaning transform (URL/email scrub + whitespace collapse +
    trim) -- the normalization pass before fingerprinting/dedup.  The
    fixture text is clean, so deterministic noise is appended keyed on
    doc_id (same expression in the oracle) and the scrub must remove
    exactly it."""
    t = load_tables(spark, sf_dir, ["documents"])
    noisy = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" visit https://example.com/p"),
                F.col("doc_id").cast("string"),
                F.lit(" now"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("  contact bob"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.org  "),
            ),
        )
        .otherwise(F.lit("")),
    )
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                noisy, r"(https?://\S+)|([A-Za-z0-9.]+@[A-Za-z0-9.]+)", ""
            ),
            r"\s+",
            " ",
        )
    )
    return t["documents"].select(
        "doc_id",
        F.length(noisy).cast("long").alias("n_chars_noisy"),
        F.length(cleaned).cast("long").alias("n_chars_clean"),
        (F.length(noisy) - F.length(cleaned)).cast("long").alias("n_chars_removed"),
    )


ORACLE_DOC_CLEAN = r"""
WITH noisy AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 3 = 0
                      THEN ' visit https://example.com/p' || CAST(doc_id AS VARCHAR) || ' now'
                      WHEN doc_id % 3 = 1
                      THEN '  contact bob' || CAST(doc_id AS VARCHAR) || '@mail.example.org  '
                      ELSE '' END AS t
  FROM documents
), cleaned AS (
  SELECT doc_id, t,
         trim(regexp_replace(
           regexp_replace(t, '(https?://\S+)|([A-Za-z0-9.]+@[A-Za-z0-9.]+)', '', 'g'),
           '\s+', ' ', 'g')) AS c
  FROM noisy
)
SELECT doc_id,
       CAST(length(t) AS BIGINT) AS n_chars_noisy,
       CAST(length(c) AS BIGINT) AS n_chars_clean,
       CAST(length(t) - length(c) AS BIGINT) AS n_chars_removed
FROM cleaned
"""


# Shingle CTEs shared by the fingerprint-blocking and minhash oracles:
# tokens -> distinct word 3-grams (empty/whitespace docs yield an empty
# list, like text.shingles after the empty-doc fix)
def sql_shingles(src: str = "documents") -> str:
    """The ``__tk``/``__shd`` shingle CTEs over any (doc_id, text)
    relation -- parametrized (r6) so cross-corpus operators
    (incremental_dedup's history-union-new corpus) compose the SAME
    shingle definition instead of copying it."""
    return f"""
__tk AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM {src}
),
__shd AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(tk) = 0 THEN CAST([] AS VARCHAR[])
                WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                ELSE list_transform(range(1, len(tk) - 1),
                                    i -> array_to_string(tk[i:i+2], ' '))
           END) AS sh
  FROM __tk
)
"""


_SQL_SHINGLES = sql_shingles()


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard near-dup with min-shingle-hash fingerprint
    blocking: candidates = docs sharing the minimum md5 over a sampled
    subset of their word 3-gram shingles (a 1-hash MinHash bucket --
    collision probability for a pair tracks its shingle Jaccard, so
    near-dups collide and unrelated docs don't).  One equi-join on the
    fingerprint, bucket sizes bounded by true dup-cluster sizes -- a
    real linear blocking strategy, unlike id-adjacency.  md5 keeps the
    bucket key recomputable by the DuckDB oracle.

    VERDICT r3 item 2: building the FULL shingle array was the measured
    bottleneck (interpreted HOF, ~size(toks) strings/row; xxhash64 only
    bought ~12%), so blocking now samples every 4th shingle position
    (text.shingles_sampled) -- 4x fewer strings built/hashed per doc;
    the verify stage (token Jaccard) is unchanged."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = (
        t["documents"]
        .select(
            "doc_id",
            TX.tokens("text").alias("__toks"),
            F.array_min(
                F.transform(TX.shingles_sampled("text", 3, 4), lambda s: F.md5(s))
            ).alias("__fp"),
        )
        .filter(F.col("__fp").isNotNull())
        .localCheckpoint(eager=False)
    )
    # candidate generation on the SLIM (doc_id, fp) projection -- the
    # bucket self-join shuffles 2 columns, not the token arrays; token
    # payloads join back only for surviving candidate pairs
    slim = docs.select("doc_id", "__fp")
    cand = (
        slim.alias("a")
        .join(slim.alias("b"), "__fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id_1"), F.col("b.doc_id").alias("doc_id_2")
        )
    )
    t1 = docs.select(F.col("doc_id").alias("doc_id_1"), F.col("__toks").alias("__toks_1"))
    t2 = docs.select(F.col("doc_id").alias("doc_id_2"), F.col("__toks").alias("__toks_2"))
    return (
        cand.join(t1, "doc_id_1")
        .join(t2, "doc_id_2")
        .withColumn(
            "jaccard", F.round(jaccard_tokens(F.col("__toks_1"), F.col("__toks_2")), 4)
        )
        .filter(F.col("jaccard") >= 0.2)
        .select("doc_id_1", "doc_id_2", "jaccard")
    )


# Sampled-position shingles (text.shingles_sampled mirror): positions
# 1, 1+step, ... (1-based) -- DuckDB range() stop is exclusive, Spark
# sequence() stop is inclusive, so range(1, len-1, 4) == sequence(0,
# len-3, 4) shifted to 1-based.  No list_distinct: only the MIN is used.
_SQL_SHINGLES_SAMPLED = """
__tks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM documents
),
__shs AS (
  SELECT doc_id,
         CASE WHEN len(tk) = 0 THEN CAST([] AS VARCHAR[])
              WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
              ELSE list_transform(range(1, len(tk) - 1, 4),
                                  i -> array_to_string(tk[i:i+2], ' '))
         END AS sh
  FROM __tks
)
"""

ORACLE_NGRAM_JACCARD = (
    "WITH "
    + _SQL_SHINGLES_SAMPLED
    + """,
__fp AS (
  SELECT s.doc_id, string_split(d.text, ' ') AS toks,
         list_min(list_transform(s.sh, x -> md5(x))) AS fp
  FROM __shs s JOIN documents d ON d.doc_id = s.doc_id
  WHERE len(s.sh) > 0
)
SELECT d1.doc_id AS doc_id_1,
       d2.doc_id AS doc_id_2,
       round(CAST(len(list_intersect(list_distinct(d1.toks), list_distinct(d2.toks))) AS DOUBLE)
             / len(list_distinct(list_concat(list_distinct(d1.toks), list_distinct(d2.toks)))), 4) AS jaccard
FROM __fp d1
JOIN __fp d2 ON d1.fp = d2.fp AND d1.doc_id < d2.doc_id
WHERE round(CAST(len(list_intersect(list_distinct(d1.toks), list_distinct(d2.toks))) AS DOUBLE)
            / len(list_distinct(list_concat(list_distinct(d1.toks), list_distinct(d2.toks)))), 4) >= 0.2
"""
)


def q_doc_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint: per-token md5-prefix hashes
    combined over 3-token windows with wrapping 64-bit multiply-add,
    min over windows (VERDICT r3 item 3 -- the oracle emulates Spark's
    non-ANSI wrapping long multiply with DuckDB HUGEINT % 2^64)."""
    from ..sources.tables import spread_input

    t = load_tables(spark, sf_dir, ["documents"])
    # spread_input (r15, guide §2.5): the per-token md5 + rolling
    # multiply-add HOF fold is the whole query and otherwise runs
    # single-task on the one-split fixture scan.
    return (
        spread_input(t["documents"])
        .select("doc_id", TX.rolling_fingerprint_portable("text").alias("fingerprint"))
        .orderBy("doc_id")
    )


# Wrap emulation: Spark computes th[i]*C with wrapping SIGNED 64-bit
# arithmetic (ansi off), i.e. the result is the true integer product
# mod 2^64, two's complement.  DuckDB has no wrapping BIGINT, so the
# oracle lifts to HUGEINT (th < 2^60, |C| < 2^64 => products < 2^124,
# sum of three < 2^126 -- fits int128), reduces % 2^64, and converts
# the unsigned residue back to two's complement.  Constants are
# text._RFP_C mod 2^64.
_RFP_WIN = (
    "(CAST(th[i] AS HUGEINT) * 11400714819323198485"
    " + CAST(COALESCE(th[i+1], 0) AS HUGEINT) * 14029467366897019727"
    " + CAST(COALESCE(th[i+2], 0) AS HUGEINT) * 1609587929392839161)"
    " % 18446744073709551616"
)

ORACLE_ROLLING_FINGERPRINT = f"""
WITH __tk AS (
  SELECT doc_id,
         COALESCE(list_filter(string_split(text, ' '), t -> t <> ''),
                  CAST([] AS VARCHAR[])) AS tk
  FROM documents
),
__th AS (
  SELECT doc_id, len(tk) AS n,
         list_transform(tk, t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS th
  FROM __tk
)
SELECT doc_id,
       CASE WHEN n = 0 THEN NULL ELSE
         list_min(list_transform(range(1, greatest(n - 2, 1) + 1), i ->
           CAST(CASE WHEN {_RFP_WIN} >= 9223372036854775808
                     THEN {_RFP_WIN} - 18446744073709551616
                     ELSE {_RFP_WIN} END AS BIGINT)))
       END AS fingerprint
FROM __th
"""


# DuckDB mirror of the portable md5 LSH family (functions/similarity
# portable section).  Built by helpers because the signature/vote SQL
# is loop-generated; every step (affine-permutation mins, band keys, bucket
# join, exact verify) matches the Spark plan expression-for-expression.


def sql_hs_sigs(num_hashes: int = 12) -> str:
    """The `__hs`/`__sigs` CTE fragment (expects a `__shd(doc_id, sh)`
    CTE upstream): one md5-prefix int per shingle mod P, MinHash
    signature via the affine permutations of similarity._mh_ab --
    the SINGLE source both the near-dup and the decontamination
    oracles compose, so a hash-family change cannot diverge them."""
    from ..functions.similarity import _mh_ab

    mins = ", ".join(
        "list_min(list_transform(h.hs, x -> ({a} * x + {b}) % 2147483647))".format(
            a=_mh_ab(i)[0], b=_mh_ab(i)[1]
        )
        for i in range(num_hashes)
    )
    return f"""__hs AS (
  SELECT doc_id,
         list_transform(sh, s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483647) AS hs
  FROM __shd WHERE len(sh) > 0
),
__sigs AS (
  SELECT h.doc_id, [{mins}] AS sig
  FROM __hs h
)"""


def _sql_minhash_pairs(threshold: float, num_hashes: int = 12, num_bands: int = 4) -> str:
    """CTE chain (after _SQL_SHINGLES) producing verified near-dup
    pairs (doc_id_1, doc_id_2, jaccard) -- the DuckDB recomputation of
    minhash_near_dupes_portable: one md5-prefix int per shingle mod
    P=2^31-1, then min over k exact affine permutations a_i*h + b_i
    mod P with the SAME MINSTD-power coefficients as similarity._mh_ab
    (emitted as literals below) -- all BIGINT arithmetic below 2^63,
    so both engines agree bit-for-bit."""
    rows = num_hashes // num_bands
    band_key = " || '|' || ".join(
        f"CAST(sig[CAST(b.v * {rows} + {r + 1} AS INTEGER)] AS VARCHAR)"
        for r in range(rows)
    )
    return f"""
{sql_hs_sigs(num_hashes)},
__bands AS (
  SELECT doc_id, b.v AS band, md5({band_key}) AS band_key
  FROM __sigs, range(0, {num_bands}) b(v)
),
__cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_1, b2.doc_id AS doc_id_2
  FROM __bands a JOIN __bands b2
    ON a.band = b2.band AND a.band_key = b2.band_key AND a.doc_id < b2.doc_id
),
__verified AS (
  SELECT c.doc_id_1, c.doc_id_2,
         round(CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(s1.sh, s2.sh))), 4) AS jaccard
  FROM __cand c
  JOIN __shd s1 ON s1.doc_id = c.doc_id_1
  JOIN __shd s2 ON s2.doc_id = c.doc_id_2
  WHERE round(CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(s1.sh, s2.sh))), 4) >= {threshold}
)
"""


ORACLE_MINHASH = (
    "WITH "
    + _SQL_SHINGLES
    + ","
    + _sql_minhash_pairs(0.4)
    + "SELECT doc_id_1, doc_id_2, jaccard FROM __verified"
)

ORACLE_CLUSTERS = (
    "WITH RECURSIVE "
    + _SQL_SHINGLES
    + ","
    + _sql_minhash_pairs(0.5)
    + """,
__edges AS (
  SELECT doc_id_1 AS a, doc_id_2 AS b FROM __verified
  UNION ALL
  SELECT doc_id_2, doc_id_1 FROM __verified
),
__reach AS (
  SELECT doc_id AS src, doc_id AS node FROM documents
  UNION
  SELECT r.src, e.b FROM __reach r JOIN __edges e ON e.a = r.node
),
__comp AS (SELECT src AS doc_id, min(node) AS cluster_id FROM __reach GROUP BY src),
__sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM __comp GROUP BY cluster_id)
SELECT cluster_size, count(*) AS n_clusters FROM __sizes GROUP BY cluster_size
"""
)


def _sql_simhash_pairs(max_hamming: int = 4) -> str:
    """Full DuckDB recomputation of simhash_near_dupes_portable: md5
    nibble bits, 64 majority votes, two 32-bit halves, 16-bit banding,
    bit_count(xor) Hamming verify."""
    votes = ",\n         ".join(
        f"sum(CAST(floor((strpos('0123456789abcdef', substr(m, {j // 4 + 1}, 1)) - 1)"
        f" / {2 ** (j % 4)}) AS BIGINT) % 2) AS v{j}"
        for j in range(64)
    )
    lo = " + ".join(
        f"(CASE WHEN 2 * v{j} > n_tok THEN CAST({2 ** j} AS BIGINT) ELSE 0 END)"
        for j in range(32)
    )
    hi = " + ".join(
        f"(CASE WHEN 2 * v{j} > n_tok THEN CAST({2 ** (j - 32)} AS BIGINT) ELSE 0 END)"
        for j in range(32, 64)
    )
    return f"""
WITH __toks AS (
  SELECT doc_id,
         unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS tok
  FROM documents
),
__tv AS (
  SELECT doc_id,
         {votes},
         count(*) AS n_tok
  FROM (SELECT doc_id, md5(tok) AS m FROM __toks)
  GROUP BY doc_id
),
__fp AS (
  SELECT doc_id, {lo} AS sim_lo, {hi} AS sim_hi FROM __tv
),
__banded AS (
  SELECT doc_id, b.v AS band,
         CASE b.v WHEN 0 THEN sim_lo % 65536
                  WHEN 1 THEN sim_lo // 65536
                  WHEN 2 THEN sim_hi % 65536
                  ELSE sim_hi // 65536 END AS band_val
  FROM __fp, range(0, 4) b(v)
),
__cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_1, b2.doc_id AS doc_id_2
  FROM __banded a JOIN __banded b2
    ON a.band = b2.band AND a.band_val = b2.band_val AND a.doc_id < b2.doc_id
)
SELECT c.doc_id_1, c.doc_id_2,
       CAST(bit_count(xor(f1.sim_lo, f2.sim_lo))
            + bit_count(xor(f1.sim_hi, f2.sim_hi)) AS INTEGER) AS hamming
FROM __cand c
JOIN __fp f1 ON f1.doc_id = c.doc_id_1
JOIN __fp f2 ON f2.doc_id = c.doc_id_2
WHERE bit_count(xor(f1.sim_lo, f2.sim_lo)) + bit_count(xor(f1.sim_hi, f2.sim_hi))
      <= {max_hamming}
"""


ORACLE_SIMHASH_PAIRS = _sql_simhash_pairs(4)


def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, portable md5 hash family: the DuckDB
    oracle recomputes signature -> banding -> bucket join -> exact
    Jaccard, so candidate GENERATION is verified, not just the verify
    stage."""
    t = load_tables(spark, sf_dir, ["documents"])
    return minhash_near_dupes_portable(t["documents"], threshold=0.4)


def q_minhash_near_dup_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64 MinHash-LSH (the 100 TB fast path: one JVM hash pass +
    affine re-hashes).  Rows-only: engine-seeded hashing; the algorithm
    itself is oracle-verified via the portable twin minhash_near_dup.

    max_bucket_size=500: on a mass-duplicated corpus every copy of a
    doc shares every band bucket, so the uncapped self-join is
    quadratic in copy count (measured 306 s at sf10 = 100 copies of
    each doc, vs 42 s capped -- SCALING.md).  The cap never bites on
    the driver fixtures (buckets are far smaller)."""
    t = load_tables(spark, sf_dir, ["documents"])
    return minhash_near_dupes(
        t["documents"], threshold=0.3, max_bucket_size=500
    ).orderBy("doc_id_1", "doc_id_2")


def _cluster_size_histogram(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Connected components over near-dup ``pairs`` -> (cluster_size,
    n_clusters) histogram, ordered by size."""
    from ..functions.similarity import dedup_clusters

    clustered = dedup_clusters(docs, pairs)
    return (
        clustered.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full corpus-dedup pipeline on the portable pair family:
    MinHash-LSH pairs -> connected components -> cluster-size
    histogram.  Oracle: recursive-CTE transitive closure over the same
    recomputed pairs."""
    t = load_tables(spark, sf_dir, ["documents"])
    pairs = minhash_near_dupes_portable(t["documents"], threshold=0.5)
    return _cluster_size_histogram(t["documents"], pairs)


def q_near_dup_clusters_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clusters over the xxhash64 fast pairs (rows-only; scale/bench
    flavor of near_dup_clusters).  Bucket cap is lossless here: the
    spanning-chain degradation keeps every duplicate cluster connected,
    which is all connected components needs."""
    t = load_tables(spark, sf_dir, ["documents"])
    pairs = minhash_near_dupes(t["documents"], threshold=0.5, max_bucket_size=500)
    return _cluster_size_histogram(t["documents"], pairs)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprint per document (rows-only check)."""
    t = load_tables(spark, sf_dir, ["documents"])
    return simhash64(t["documents"]).orderBy("doc_id")


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-banded near-dup pairs, portable md5-nibble fingerprint:
    the DuckDB oracle recomputes the 64 bit-votes, 16-bit banding, and
    bit_count(xor) Hamming verify, so the whole algorithm is checked."""
    t = load_tables(spark, sf_dir, ["documents"])
    return simhash_near_dupes_portable(t["documents"], max_hamming=4)


def q_simhash_near_dup_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64 SimHash near-dup (the scale/bench flavor; rows-only --
    the algorithm itself is oracle-verified via simhash_near_dup).
    hamming <= 4: just past the pigeonhole-guaranteed recall bound
    (num_bands=4 finds every pair under 4 bit errors); the fixture
    corpus is a small-vocabulary word soup, so looser thresholds
    degenerate into quadratic pair counts."""
    from ..functions.similarity import simhash_near_dupes

    t = load_tables(spark, sf_dir, ["documents"])
    return simhash_near_dupes(t["documents"], max_hamming=4).orderBy(
        "doc_id_1", "doc_id_2"
    )


def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct (the streaming-scale mapping
    of COUNT(DISTINCT)) side-by-side with the exact count.  Rows-only:
    sketch estimates are engine-specific; the <5% relative error is
    asserted in tests."""
    t = load_tables(spark, sf_dir, ["events"])
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .orderBy("event_type")
    )


def q_approx_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible quality gate for the HLL++ sketch (same pattern
    as ann_recall_audit): per event type, emit the EXACT distinct
    count (oracle-recomputable) plus within_15pct = 1 iff the
    approx_count_distinct estimate lands within 15% relative error.
    Default rsd is 0.05, so 15% is a >=3-sigma bound (max observed
    error across the fixtures: 6.7% at sf0.1) -- a sketch regression
    flips the flag and fails the driver hash."""
    t = load_tables(spark, sf_dir, ["events"])
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("exact_users"),
            F.approx_count_distinct("user_id").alias("__approx"),
        )
        .select(
            "event_type",
            "exact_users",
            F.when(
                F.abs(F.col("__approx") - F.col("exact_users"))
                <= 0.15 * F.col("exact_users"),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("int")
            .alias("within_15pct"),
        )
        .orderBy("event_type")
    )


ORACLE_APPROX_DISTINCT_AUDIT = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(1 AS INTEGER) AS within_15pct
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_approx_quantiles_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible quality gate for the quantile sketch -- the
    third sketch family after HLL++ (approx_distinct_audit) and
    Bernoulli sampling (stratified_sample_audit).  Per event type,
    emit the EXACT interpolated p50/p95 of ``value`` (Spark's exact
    ``percentile`` matches DuckDB ``quantile_cont`` bit-for-bit, so
    the oracle recomputes them) plus within-5%-relative flags for
    ``percentile_approx`` (default accuracy 10000 -> 0.01% rank
    error; max observed value error across fixtures: ~0.6%).  A
    sketch regression flips a flag and fails the driver hash.  At
    100 TB the sketch is the only viable path -- exact percentile
    needs a full sort per group while the KLL-style summary merges
    map-side."""
    t = load_tables(spark, sf_dir, ["events"])
    within = lambda a, e: (  # noqa: E731
        F.when(F.abs(a - e) <= 0.05 * F.abs(e), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
    )
    agg = (
        t["events"]
        .filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5D)").alias("__e50"),
            F.expr("percentile(value, 0.95D)").alias("__e95"),
            F.expr("percentile_approx(value, 0.5D)").alias("__a50"),
            F.expr("percentile_approx(value, 0.95D)").alias("__a95"),
        )
    )
    return agg.select(
        "event_type",
        F.round("__e50", 4).alias("p50_exact"),
        F.round("__e95", 4).alias("p95_exact"),
        within(F.col("__a50"), F.col("__e50")).alias("p50_within_5pct"),
        within(F.col("__a95"), F.col("__e95")).alias("p95_within_5pct"),
    ).orderBy("event_type")


ORACLE_APPROX_QUANTILES_AUDIT = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 4) AS p50_exact,
       ROUND(quantile_cont(value, 0.95), 4) AS p95_exact,
       CAST(1 AS INTEGER) AS p50_within_5pct,
       CAST(1 AS INTEGER) AS p95_within_5pct
FROM events
WHERE value IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


# --- table profiling ----------------------------------------------------------


def q_table_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling operator: one row of quality stats per column of
    the events table (the "what is in this dataset" primitive every
    ingestion pipeline runs first): null count, exact distinct count,
    integer min/max (BIGINT columns and ts as epoch_us), lexicographic
    min/max plus mode (most frequent value, ties to the smallest) for
    string columns.

    Exactness by construction: doubles deliberately get NO min/max/mode
    (Spark and DuckDB format floats differently -- 1.0E7 vs 10000000.0
    -- so stringified float stats can never hash-match); their null and
    distinct counts are still exact (bit-identical parquet doubles
    compare equal on both engines).

    Scale shape: every scalar stat comes from ONE full-scan aggregate
    (all columns in the same partial agg); the two string modes add two
    slim value-frequency groupBys.  Output is 6 rows regardless of
    data volume."""
    from ..sources.tables import spread_input

    t = load_tables(spark, sf_dir, ["events"])
    # spread_input (r15, guide §2.5): the 6 count_distincts in one agg
    # plan as an Expand (row count x6) feeding the partial aggregate,
    # all inside the ONE scan task of the single-split fixture file.
    ev = spread_input(t["events"])
    n = F.count(F.lit(1)).cast("bigint")

    def mode_of(col):
        # r15 (guide §2.4): the former freq -> max -> join-back shape
        # planned freq's groupBy (a full scan + shuffle) TWICE -- once
        # under the max subtree, once under the join -- plus a
        # broadcast exchange.  struct-min is one reduce over one freq
        # pass with identical semantics: smallest (-count, value) =
        # highest count, ties to the lexicographically smallest value.
        freq = ev.filter(F.col(col).isNotNull()).groupBy(col).agg(
            F.count(F.lit(1)).cast("bigint").alias("__c")
        )
        return freq.agg(
            F.min(
                F.struct(
                    (-F.col("__c")).alias("__nc"), F.col(col).alias("__v")
                )
            ).alias("__m")
        ).select(
            F.col("__m.__v").alias("__mode"),
            (-F.col("__m.__nc")).cast("bigint").alias("__mode_n"),
        )

    scalars = ev.agg(
        n.alias("__rows"),
        # event_id
        F.sum(F.col("event_id").isNull().cast("int")).cast("bigint").alias("id_nulls"),
        F.count_distinct("event_id").cast("bigint").alias("id_distinct"),
        F.min("event_id").alias("id_min"),
        F.max("event_id").alias("id_max"),
        # user_id
        F.sum(F.col("user_id").isNull().cast("int")).cast("bigint").alias("uid_nulls"),
        F.count_distinct("user_id").cast("bigint").alias("uid_distinct"),
        F.min("user_id").alias("uid_min"),
        F.max("user_id").alias("uid_max"),
        # ts (as epoch_us)
        F.sum(F.col("ts").isNull().cast("int")).cast("bigint").alias("ts_nulls"),
        # distinct on MICROS both engines: DuckDB sees nano precision,
        # Spark micro -- raw-ts distinct counts would diverge
        F.count_distinct(F.unix_micros("ts")).cast("bigint").alias("ts_distinct"),
        F.min(F.unix_micros("ts")).alias("ts_min"),
        F.max(F.unix_micros("ts")).alias("ts_max"),
        # event_type
        F.sum(F.col("event_type").isNull().cast("int")).cast("bigint").alias("et_nulls"),
        F.count_distinct("event_type").cast("bigint").alias("et_distinct"),
        F.min("event_type").alias("et_min"),
        F.max("event_type").alias("et_max"),
        # value (double: counts only)
        F.sum(F.col("value").isNull().cast("int")).cast("bigint").alias("v_nulls"),
        F.count_distinct("value").cast("bigint").alias("v_distinct"),
        # props
        F.sum(F.col("props").isNull().cast("int")).cast("bigint").alias("p_nulls"),
        F.count_distinct("props").cast("bigint").alias("p_distinct"),
        F.min("props").alias("p_min"),
        F.max("props").alias("p_max"),
    )
    et_mode = mode_of("event_type").select(
        F.col("__mode").alias("et_mode"), F.col("__mode_n").alias("et_mode_n")
    )
    p_mode = mode_of("props").select(
        F.col("__mode").alias("p_mode"), F.col("__mode_n").alias("p_mode_n")
    )
    wide = scalars.crossJoin(F.broadcast(et_mode)).crossJoin(F.broadcast(p_mode))
    # ONE stack over the single wide row -- a 6-branch union would
    # re-execute the wide aggregate (and its scans) once per branch
    # (measured: 28 jobs / 38 scan nodes before this formulation)
    nl, ns = "CAST(NULL AS BIGINT)", "CAST(NULL AS STRING)"
    rows = [
        ("event_id", "id_nulls", "id_distinct", "id_min", "id_max",
         ns, ns, ns, nl),
        ("user_id", "uid_nulls", "uid_distinct", "uid_min", "uid_max",
         ns, ns, ns, nl),
        ("ts", "ts_nulls", "ts_distinct", "ts_min", "ts_max",
         ns, ns, ns, nl),
        ("event_type", "et_nulls", "et_distinct", nl, nl,
         "et_min", "et_max", "et_mode", "et_mode_n"),
        ("value", "v_nulls", "v_distinct", nl, nl, ns, ns, ns, nl),
        ("props", "p_nulls", "p_distinct", nl, nl,
         "p_min", "p_max", "p_mode", "p_mode_n"),
    ]
    args = ", ".join(
        f"'{name}', {nulls}, {dist}, CAST({mn} AS BIGINT), CAST({mx} AS BIGINT), "
        f"{smn}, {smx}, {mode}, {mode_n}"
        for name, nulls, dist, mn, mx, smn, smx, mode, mode_n in rows
    )
    return (
        wide.selectExpr(
            "__rows AS n_rows",
            f"stack({len(rows)}, {args}) AS (col_name, n_nulls, n_distinct, "
            "min_num, max_num, min_str, max_str, mode_value, mode_count)",
        )
        .select(
            "col_name", "n_rows", "n_nulls", "n_distinct", "min_num",
            "max_num", "min_str", "max_str", "mode_value", "mode_count",
        )
        .orderBy("col_name")
    )


ORACLE_TABLE_PROFILE = """
WITH s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS id_nulls,
         CAST(count(DISTINCT event_id) AS BIGINT) AS id_distinct,
         min(event_id) AS id_min, max(event_id) AS id_max,
         CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS uid_nulls,
         CAST(count(DISTINCT user_id) AS BIGINT) AS uid_distinct,
         min(user_id) AS uid_min, max(user_id) AS uid_max,
         CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ts_nulls,
         CAST(count(DISTINCT epoch_us(ts)) AS BIGINT) AS ts_distinct,
         min(epoch_us(ts)) AS ts_min, max(epoch_us(ts)) AS ts_max,
         CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS et_nulls,
         CAST(count(DISTINCT event_type) AS BIGINT) AS et_distinct,
         min(event_type) AS et_min, max(event_type) AS et_max,
         CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_nulls,
         CAST(count(DISTINCT value) AS BIGINT) AS v_distinct,
         CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS p_nulls,
         CAST(count(DISTINCT props) AS BIGINT) AS p_distinct,
         min(props) AS p_min, max(props) AS p_max
  FROM events
),
etf AS (SELECT event_type AS v, CAST(count(*) AS BIGINT) AS c FROM events
        WHERE event_type IS NOT NULL GROUP BY event_type),
etm AS (SELECT min(v) AS et_mode, CAST(min(c) AS BIGINT) AS et_mode_n
        FROM etf WHERE c = (SELECT max(c) FROM etf)),
pf AS (SELECT props AS v, CAST(count(*) AS BIGINT) AS c FROM events
       WHERE props IS NOT NULL GROUP BY props),
pm AS (SELECT min(v) AS p_mode, CAST(min(c) AS BIGINT) AS p_mode_n
       FROM pf WHERE c = (SELECT max(c) FROM pf))
SELECT col_name, n_rows, n_nulls, n_distinct, min_num, max_num,
       min_str, max_str, mode_value, mode_count
FROM (
  SELECT 'event_id' AS col_name, n_rows, id_nulls AS n_nulls,
         id_distinct AS n_distinct, id_min AS min_num, id_max AS max_num,
         CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
         CAST(NULL AS VARCHAR) AS mode_value, CAST(NULL AS BIGINT) AS mode_count
  FROM s
  UNION ALL
  SELECT 'user_id', n_rows, uid_nulls, uid_distinct, uid_min, uid_max,
         NULL, NULL, NULL, NULL FROM s
  UNION ALL
  SELECT 'ts', n_rows, ts_nulls, ts_distinct, ts_min, ts_max,
         NULL, NULL, NULL, NULL FROM s
  UNION ALL
  SELECT 'event_type', n_rows, et_nulls, et_distinct, NULL, NULL,
         et_min, et_max, et_mode, et_mode_n FROM s, etm
  UNION ALL
  SELECT 'value', n_rows, v_nulls, v_distinct, NULL, NULL,
         NULL, NULL, NULL, NULL FROM s
  UNION ALL
  SELECT 'props', n_rows, p_nulls, p_distinct, NULL, NULL,
         p_min, p_max, p_mode, p_mode_n FROM s, pm
)
ORDER BY col_name
"""


# --- fuzzy record linkage (edit distance) ------------------------------------

_LINK_SAMPLE_MOD = 20   # every 20th customer spawns a dirty record
_LINK_BLOCK = 1000      # custkey-range blocking (synthetic "zip code")
_LINK_MAX_DIST = 2      # candidate threshold in edit distance
# one char dropped at 1-indexed position (custkey % 8) + _LINK_DROP_BASE
# -- inside the digit suffix of the 18-char Customer#DDDDDDDDD names
_LINK_DROP_BASE = 10


def q_fuzzy_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by EDIT DISTANCE -- the levenshtein matching
    family, complementing token-set (SNM, ngram Jaccard) and hash
    (MinHash/SimHash) similarity: link a deterministically corrupted
    "dirty" record back to its clean source.

    Dirty side: every ``_LINK_SAMPLE_MOD``-th customer's name with one
    character dropped at a key-dependent position (the classic
    typo/OCR model).  Blocking: (c_nationkey, custkey div
    ``_LINK_BLOCK``) -- a reliable attribute pair, so block sizes are
    CONSTANT (~block/nations) and the candidate join is linear in
    corpus size, never quadratic.  Candidates within edit distance
    ``_LINK_MAX_DIST``; best match by struct-MIN argmin on (distance,
    custkey) -- every value BIGINT/exact, levenshtein agrees
    bit-for-bit across engines.  ``match_correct`` reports linkage
    accuracy (1 = linked back to the true source) so the driver hash
    pins match QUALITY, not just mechanics."""
    t = load_tables(spark, sf_dir, ["customer"])
    clean = t["customer"].select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        # integer DIV, same as the oracle's // -- float-divide-then-cast
        # truncates toward zero instead of flooring (repo convention
        # since the cohort_retention fix)
        F.expr(f"c_custkey div {_LINK_BLOCK}").alias("__blk"),
    )
    b = _LINK_DROP_BASE
    dirty = (
        clean.filter(F.col("c_custkey") % _LINK_SAMPLE_MOD == 0)
        .select(
            F.col("c_custkey").alias("dirty_key"),
            F.concat(
                F.expr(f"substring(c_name, 1, CAST(c_custkey % 8 + {b - 1} AS INT))"),
                F.expr(f"substring(c_name, CAST(c_custkey % 8 + {b + 1} AS INT), 18)"),
            ).alias("dirty_name"),
            F.col("c_nationkey").alias("d_nationkey"),
            F.col("__blk").alias("d_blk"),
        )
    )
    cand = (
        dirty.join(
            clean,
            (F.col("d_nationkey") == F.col("c_nationkey"))
            & (F.col("d_blk") == F.col("__blk")),
        )
        .select(
            "dirty_key",
            "c_custkey",
            F.levenshtein("dirty_name", "c_name").alias("dist"),
        )
        .filter(F.col("dist") <= _LINK_MAX_DIST)
    )
    best = cand.groupBy("dirty_key").agg(
        F.min(F.struct("dist", "c_custkey")).alias("__best"),
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
    )
    return (
        best.select(
            "dirty_key",
            F.col("__best.c_custkey").alias("matched_key"),
            F.col("__best.dist").cast("int").alias("best_distance"),
            "n_candidates",
            F.when(F.col("__best.c_custkey") == F.col("dirty_key"), 1)
            .otherwise(0)
            .cast("int")
            .alias("match_correct"),
        )
        .orderBy("dirty_key")
    )


ORACLE_FUZZY_LINKAGE = f"""
WITH clean AS (
  SELECT c_custkey, c_name, c_nationkey,
         c_custkey // {_LINK_BLOCK} AS blk
  FROM customer
),
dirty AS (
  SELECT c_custkey AS dirty_key,
         substr(c_name, 1, CAST(c_custkey % 8 + {_LINK_DROP_BASE - 1} AS INT))
           || substr(c_name, CAST(c_custkey % 8 + {_LINK_DROP_BASE + 1} AS INT), 18)
           AS dirty_name,
         c_nationkey AS d_nationkey, blk AS d_blk
  FROM clean
  WHERE c_custkey % {_LINK_SAMPLE_MOD} = 0
),
cand AS (
  SELECT d.dirty_key, c.c_custkey,
         levenshtein(d.dirty_name, c.c_name) AS dist
  FROM dirty d
  JOIN clean c
    ON c.c_nationkey = d.d_nationkey AND c.blk = d.d_blk
  WHERE levenshtein(d.dirty_name, c.c_name) <= {_LINK_MAX_DIST}
),
best AS (
  SELECT dirty_key,
         min(dist) AS best_dist,
         CAST(count(*) AS BIGINT) AS n_candidates
  FROM cand GROUP BY dirty_key
),
pick AS (
  SELECT b.dirty_key,
         min(c.c_custkey) AS matched_key,
         b.best_dist, b.n_candidates
  FROM best b JOIN cand c
    ON c.dirty_key = b.dirty_key AND c.dist = b.best_dist
  GROUP BY b.dirty_key, b.best_dist, b.n_candidates
)
SELECT dirty_key, matched_key,
       CAST(best_dist AS INTEGER) AS best_distance,
       n_candidates,
       CAST(CASE WHEN matched_key = dirty_key THEN 1 ELSE 0 END AS INTEGER)
         AS match_correct
FROM pick
ORDER BY dirty_key
"""


# --- sorted-neighborhood dedup (SNM) -----------------------------------------

_SNM_WINDOW = 3        # compare each record to the next w-1 in sort order
_SNM_KEY_LEN = 16      # blocking sort key: first 16 chars of the text
# Jaccard threshold 4/5 as an exact integer cross-multiply -- no float
# boundary compare anywhere
_SNM_NUM, _SNM_DEN = 4, 5


def q_sorted_neighborhood_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass sorted-neighborhood near-dup detection (Hernandez &
    Stolfo's merge/purge) -- the SORT-based blocking family,
    complementing the hash (MinHash/SimHash/embedding-LSH) and
    fingerprint (ngram_jaccard) families: sort by a cheap key,
    compare each record only to its w-1 successors.

    Scale shape: the sort window is PARTITIONED by the key's leading
    character, never a global single-partition ordering -- the price
    is missed neighbors across partition boundaries, and the standard
    literature fix is applied: a SECOND pass with an independent sort
    key (the reversed text), pair sets unioned.  The window carries
    only (doc_id, key); token sets join back onto the slim candidate
    pairs afterwards.  The duplicate test is token-set Jaccard >= 4/5
    via exact integer cross-multiply (5*|A&B| >= 4*|A|B|), so no
    float threshold compare exists; the reported jac is rounded for
    display only."""
    t = load_tables(spark, sf_dir, ["documents"])
    # the corpus-wide tokenizer (functions/text.tokens), same as every
    # other dedup family -- a private split here would silently fork
    # SNM's Jaccard sets if the tokenization rule ever changes
    toks = F.array_distinct(
        F.filter(TX.tokens(F.col("text")), lambda x: x != "")
    )
    d = t["documents"].select("doc_id", F.col("text"), toks.alias("__toks"))
    tok_sets = d.select("doc_id", "__toks")

    def pass_pairs(key_col):
        keyed = d.select("doc_id", key_col.alias("__key"))
        w = Window.partitionBy(F.substring("__key", 1, 1)).orderBy(
            "__key", "doc_id"
        )
        cands = None
        for k in range(1, _SNM_WINDOW):
            p = keyed.select(
                F.col("doc_id").alias("__a"),
                F.lead("doc_id", k).over(w).alias("__b"),
            ).filter(F.col("__b").isNotNull())
            cands = p if cands is None else cands.unionByName(p)
        return cands

    key1 = F.substring("text", 1, _SNM_KEY_LEN)
    key2 = F.substring(F.reverse(F.col("text")), 1, _SNM_KEY_LEN)
    cands = (
        pass_pairs(key1)
        .unionByName(pass_pairs(key2))
        .select(
            F.least("__a", "__b").alias("__a"),
            F.greatest("__a", "__b").alias("__b"),
        )
        .distinct()
    )
    ta, tb = tok_sets.alias("ta"), tok_sets.alias("tb")
    joined = (
        cands.join(ta, F.col("__a") == F.col("ta.doc_id"))
        .join(tb, F.col("__b") == F.col("tb.doc_id"))
        .select(
            F.col("__a").alias("doc_id_1"),
            F.col("__b").alias("doc_id_2"),
            F.size(F.array_intersect("ta.__toks", "tb.__toks"))
            .cast("bigint")
            .alias("__i"),
            F.size(F.array_union("ta.__toks", "tb.__toks"))
            .cast("bigint")
            .alias("__u"),
        )
    )
    return (
        joined.filter(_SNM_DEN * F.col("__i") >= _SNM_NUM * F.col("__u"))
        .select(
            "doc_id_1",
            "doc_id_2",
            F.round(F.col("__i").cast("double") / F.col("__u"), 4).alias("jac"),
        )
        .orderBy("doc_id_1", "doc_id_2")
    )


ORACLE_SNM_DEDUP = f"""
WITH d AS (
  SELECT doc_id, text,
         list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))
           AS toks
  FROM documents
),
k1 AS (SELECT doc_id, substr(text, 1, {_SNM_KEY_LEN}) AS key FROM d),
k2 AS (SELECT doc_id, substr(reverse(text), 1, {_SNM_KEY_LEN}) AS key FROM d),
p1 AS (
  SELECT doc_id AS a,
         lead(doc_id, 1) OVER (PARTITION BY substr(key, 1, 1)
                               ORDER BY key, doc_id) AS b
  FROM k1
  UNION ALL
  SELECT doc_id,
         lead(doc_id, 2) OVER (PARTITION BY substr(key, 1, 1)
                               ORDER BY key, doc_id)
  FROM k1
),
p2 AS (
  SELECT doc_id AS a,
         lead(doc_id, 1) OVER (PARTITION BY substr(key, 1, 1)
                               ORDER BY key, doc_id) AS b
  FROM k2
  UNION ALL
  SELECT doc_id,
         lead(doc_id, 2) OVER (PARTITION BY substr(key, 1, 1)
                               ORDER BY key, doc_id)
  FROM k2
),
cands AS (
  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
  FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
  WHERE b IS NOT NULL
),
scored AS (
  SELECT c.a AS doc_id_1, c.b AS doc_id_2,
         CAST(len(list_intersect(da.toks, db.toks)) AS BIGINT) AS i,
         CAST(len(list_distinct(list_concat(da.toks, db.toks))) AS BIGINT) AS u
  FROM cands c
  JOIN d da ON da.doc_id = c.a
  JOIN d db ON db.doc_id = c.b
)
SELECT doc_id_1, doc_id_2,
       round(CAST(i AS DOUBLE) / u, 4) AS jac
FROM scored
WHERE {_SNM_DEN} * i >= {_SNM_NUM} * u
ORDER BY doc_id_1, doc_id_2
"""


_STRATA_FRACTIONS = {
    "view": 0.1,
    "click": 0.2,
    "purchase": 0.5,
    "signup": 0.5,
    "error": 0.05,
}


def q_stratified_sample_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible quality gate for seeded stratified sampling: per
    stratum, emit the total row count (oracle-recomputable) plus
    frac_ok = 1 iff the realized sample fraction is within 5 binomial
    standard deviations of the target (sd = sqrt(f(1-f)/n), computed
    from the same n the oracle recomputes -- max observed deviation
    across fixtures: 2.9 sd at sf0.001).  A sampler bug that drops a
    stratum, ignores its fraction, or duplicates rows flips the flag
    and fails the driver hash; the exact sampled counts stay
    engine-specific (rows-only q_stratified_sample)."""
    t = load_tables(spark, sf_dir, ["events"])
    ev = t["events"]
    totals = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("total_rows")
    )
    sampled = (
        ev.sampleBy("event_type", _STRATA_FRACTIONS, seed=42)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("__sampled"))
    )
    # an event type absent from the fraction map samples at 0.0 (the
    # sampleBy default) -- coalesce so such a stratum audits as
    # trivially ok instead of null-propagating to frac_ok = 0
    frac = F.coalesce(
        F.create_map(*[F.lit(x) for kv in _STRATA_FRACTIONS.items() for x in kv])[
            F.col("event_type")
        ],
        F.lit(0.0),
    )
    sd = F.sqrt(frac * (1 - frac) / F.col("total_rows"))
    return (
        totals.join(F.broadcast(sampled), "event_type", "left")
        .select(
            "event_type",
            "total_rows",
            F.when(
                F.abs(
                    F.coalesce(F.col("__sampled"), F.lit(0)) / F.col("total_rows")
                    - frac
                )
                <= 5 * sd,
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("int")
            .alias("frac_ok"),
        )
        .orderBy("event_type")
    )


ORACLE_STRATIFIED_AUDIT = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS total_rows,
       CAST(1 AS INTEGER) AS frac_ok
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling via sampleBy (per-stratum Bernoulli, seeded
    and deterministic for a given Spark build; rows-only).  Returns
    per-stratum sampled counts; expected-fraction tolerance is
    asserted in tests."""
    t = load_tables(spark, sf_dir, ["events"])
    sample = t["events"].sampleBy("event_type", _STRATA_FRACTIONS, seed=42)
    return (
        sample.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("sampled_rows"),
            F.round(F.sum("value"), 2).alias("sampled_value"),
        )
        .orderBy("event_type")
    )


# --- similarity search -------------------------------------------------------


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-math sanity surface: per-label vector counts + avg L2 norm."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    return (
        t["embeddings"]
        .withColumn("__norm", norm(F.col("embedding")))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("__norm"), 4).alias("avg_norm"),
        )
    )


ORACLE_EMBEDDING_NORMS = """
SELECT label,
       count(*) AS n_vectors,
       round(avg(sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * x), 'sum'))), 4) AS avg_norm
FROM embeddings
GROUP BY label
"""


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for query vectors vec_id < 5 (broadcast
    query set, one corpus pass, per-query window top-k)."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"]
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


ORACLE_SIMILARITY_TOPK = """
WITH scored AS (
  SELECT q.vec_id AS query_id,
         c.vec_id AS vec_id,
         list_aggregate(list_transform(list_zip(c.embedding, q.embedding),
                                       x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
         / (sqrt(list_aggregate(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * x), 'sum'))
            * sqrt(list_aggregate(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * x), 'sum'))) AS cos_exact
  FROM embeddings c
  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
  WHERE c.vec_id != q.vec_id
)
SELECT query_id, vec_id,
       round(cos_exact, 4) AS cosine_sim,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_exact DESC, vec_id) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 10
"""


_NEAR_DUP_WINDOW = 25  # candidate offsets 1.._NEAR_DUP_WINDOW


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup over a bounded candidate window
    (vec_id offsets 1..25; the LSH variant below is the unbounded
    scale path).

    r16 restructure (guide §8): the old shape exploded 25 offset
    copies of every FULL 64-float embedding through the equi-join
    exchange -- 25x payload replication to decide pairs the vec_id
    alone determines.  Now each vector rides into exactly TWO id-range
    buckets (its own vec_id DIV W bucket plus the previous one, so
    every (v1, v2 <= v1+W) pair is complete in v1's bucket), and the
    C(bucket) candidate pairs are formed in numpy inside a grouped
    applyInPandas -- the embedding-LSH family's proven per-bucket
    grouped-scoring pattern.  Per-pair math is the ``_fold_dot``
    kernel of functions/similarity.py with norms folded once per
    vector, HALF-AWAY-FROM-ZERO round to 4, threshold on the rounded
    value.  Engine edges preserved: zero-denominator pairs score NULL
    in the expr form and are dropped by the threshold (numpy: den == 0
    dropped); a NaN element propagates NaN, which Spark's >= ranks
    ABOVE the threshold (numpy: NaN with nonzero den kept, as NaN); NULL /
    dim-mismatched vectors, and vectors with a NULL element, pair to
    NULL and drop (numpy: the ok mask and per-length grouping)."""
    import numpy as np
    import pandas as pd

    from ..functions.similarity import _fold_dot, _fold_norm2, _round4_half_away

    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"]
    w = _NEAR_DUP_WINDOW
    # Arrow hands a NULL element to pandas as NaN, the same as a NaN
    # element, so a vector with one is made NULL here, before the cut
    vec = (
        F.when(F.exists("embedding", lambda x: x.isNull()), F.lit(None))
        .otherwise(F.col("embedding"))
        .alias("embedding")
    )
    core = emb.select("vec_id", vec, F.expr(f"vec_id DIV {w}").alias("g"))
    look = emb.select("vec_id", vec, (F.expr(f"vec_id DIV {w}") - 1).alias("g"))
    both = core.unionByName(look)

    empty = pd.DataFrame(
        {
            "vec_id_1": pd.Series(dtype="int64"),
            "vec_id_2": pd.Series(dtype="int64"),
            "cosine_sim": pd.Series(dtype="float64"),
        }
    )

    def score_bucket(key, pdf: pd.DataFrame) -> pd.DataFrame:
        g = int(key[0])
        n = len(pdf)
        if n < 2:
            return empty
        vecs = pdf["embedding"].to_numpy()
        vids = pdf["vec_id"].to_numpy()
        ok = np.array([v is not None for v in vecs], dtype=bool)
        if ok.sum() < 2:
            return empty
        vecs, vids = vecs[ok], vids[ok]
        lens = np.fromiter((len(v) for v in vecs), dtype=np.int64, count=len(vecs))
        frames = []
        for d_eff in np.unique(lens):
            sel = np.nonzero(lens == d_eff)[0]
            if len(sel) < 2 or d_eff == 0:
                continue
            svid = vids[sel]
            order = np.argsort(svid)
            svid = svid[order]
            vmat = np.stack(vecs[sel][order].tolist()).astype("float64")
            # candidate index pairs: v1 a CORE row of this bucket
            # (vid DIV w == g -- lookahead rows anchor in their own
            # bucket), 1 <= v2 - v1 <= w
            diff = svid[None, :] - svid[:, None]
            i1, i2 = np.nonzero(
                (diff >= 1) & (diff <= w) & ((svid // w) == g)[:, None]
            )
            if len(i1) == 0:
                continue
            nrm = np.sqrt(_fold_norm2(vmat))
            den = nrm[i1] * nrm[i2]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = _fold_dot(vmat, vmat, i1, i2) / den
            rounded = _round4_half_away(cos)
            # den == 0 -> NULL in the expr form, dropped; NaN with
            # nonzero den -> Spark >= treats NaN as greater, kept
            keep = (den != 0.0) & (np.isnan(cos) | (rounded >= 0.25))
            # nullable Float64 with an all-False mask: a plain float64
            # column reaches Spark with its NaN turned into NULL
            kept = rounded[keep]
            frames.append(
                pd.DataFrame(
                    {
                        "vec_id_1": svid[i1[keep]],
                        "vec_id_2": svid[i2[keep]],
                        "cosine_sim": pd.arrays.FloatingArray(
                            kept, mask=np.zeros(len(kept), dtype=bool)
                        ),
                    }
                )
            )
        return pd.concat(frames) if frames else empty

    return both.groupBy("g").applyInPandas(
        score_bucket, "vec_id_1 long, vec_id_2 long, cosine_sim double"
    )


ORACLE_EMBEDDING_NEAR_DUP = """
WITH pairs AS (
  SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
         list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
                                       x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
         / (sqrt(list_aggregate(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * x), 'sum'))
            * sqrt(list_aggregate(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * x), 'sum'))) AS cos_exact
  FROM embeddings a
  JOIN embeddings b ON b.vec_id BETWEEN a.vec_id + 1 AND a.vec_id + 25
)
SELECT vec_id_1, vec_id_2, round(cos_exact, 4) AS cosine_sim
FROM pairs
WHERE round(cos_exact, 4) >= 0.25
"""


def q_embedding_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH embedding near-dup (the unbounded scale
    path: bucket shuffle instead of pairwise compare; rows-only).
    OR-amplified multi-table LSH (one 8-plane table caught ~0 of the
    58 true pairs at sf0.01 -- VERDICT r2 weak-evidence item).  Recall
    vs the exact pairwise truth is pinned in
    tests/test_text_similarity.py.

    Parameters adapt to corpus size (similarity.adaptive_portable_kl)
    -- the fixed-(k,L) version went quadratic on /tmp/sf1 (313 s: 20k
    vectors over 16 buckets/table, x10 exact copies of every embedding
    concentrating the buckets) -- and the bucket cap degrades
    mass-duplication blobs to spanning chains (connectivity preserved,
    quadratic self-join avoided -- the same policy as the capped
    MinHash family, SCALING.md r2 incident).  The count() probe is
    metadata-only on parquet."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    return adaptive_lsh_pairs_portable(t["embeddings"], threshold=0.4).orderBy(
        "vec_id_1", "vec_id_2"
    )


def q_embedding_lsh_near_dup_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-quantized hyperplane LSH near-dup -- the oracle-checkable
    twin of embedding_lsh_near_dup (VERDICT r3 item 1).  Bucketing is
    exact int64 arithmetic (floor(v*2^14) vectors x round(g*2^10)
    planes), so DuckDB recomputes candidate generation bit-identically;
    the exact-cosine verify reuses the round-4 double pattern already
    oracle-proven by embedding_near_dup.  Fixed (k=4, L=16) -- the same
    operating point the adaptive path picks at this corpus size."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    return embedding_near_dupes_lsh_portable(
        t["embeddings"], threshold=0.4, n_planes=4, n_tables=16, dim=64
    ).orderBy("vec_id_1", "vec_id_2")


def sql_emb_lsh_pair_ctes(
    threshold: float = 0.4, n_planes: int = 4, n_tables: int = 16, dim: int = 64
) -> str:
    """DuckDB recomputation of embedding_near_dupes_lsh_portable as a
    composable CTE chain ending in ``__vpairs`` (vec_id_1, vec_id_2,
    cosine_sim) -- the embedding analog of _sql_minhash_pairs, composed
    by both ORACLE_EMB_LSH_PORTABLE and corpus.semantic_dedup's oracle.
    The same integer plane literals are emitted into SQL, so bucket
    keys match Spark's bit-for-bit (int math has no engine-dependent
    rounding); candidate join + exact cosine verify mirror the Spark
    plan expression-for-expression."""
    bucket_exprs = []
    for t in range(n_tables):
        bits = []
        for j in range(n_planes):
            arr = "[" + ",".join(str(p) for p in _int_plane(t * n_planes + j, dim)) + "]"
            bits.append(
                "(CASE WHEN list_aggregate(list_transform(list_zip(qv, "
                + arr
                + "), x -> x[1] * x[2]), 'sum') >= 0 THEN "
                + str(1 << j)
                + " ELSE 0 END)"
            )
        bucket_exprs.append("(" + " + ".join(bits) + f" + {t * (1 << n_planes)})")
    dot = (
        "list_aggregate(list_transform(list_zip(e1.embedding, e2.embedding), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')"
    )
    nrm = (
        "sqrt(list_aggregate(list_transform({e}.embedding, "
        "x -> CAST(x AS DOUBLE) * x), 'sum'))"
    )
    return f"""
__q AS (
  SELECT vec_id,
         list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 16384) AS BIGINT)) AS qv
  FROM embeddings
),
__b AS (
  SELECT vec_id, unnest([{", ".join(bucket_exprs)}]) AS bucket FROM __q
),
__ecand AS (
  SELECT DISTINCT a.vec_id AS vec_id_1, c.vec_id AS vec_id_2
  FROM __b a JOIN __b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
),
__scored AS (
  SELECT __ecand.vec_id_1, __ecand.vec_id_2,
         round({dot} / ({nrm.format(e="e1")} * {nrm.format(e="e2")}), 4) AS cosine_sim
  FROM __ecand
  JOIN embeddings e1 ON e1.vec_id = __ecand.vec_id_1
  JOIN embeddings e2 ON e2.vec_id = __ecand.vec_id_2
),
__vpairs AS (
  SELECT vec_id_1, vec_id_2, cosine_sim FROM __scored WHERE cosine_sim >= {threshold}
)
"""


ORACLE_EMB_LSH_PORTABLE = (
    "WITH "
    + sql_emb_lsh_pair_ctes()
    + "SELECT vec_id_1, vec_id_2, cosine_sim FROM __vpairs"
)


def sql_emb_adaptive_bucket_ctes(dim: int = 64) -> str:
    """The cap-free adaptive bucketing PREFIX (``__planes`` .. ``__b``)
    shared by ``sql_emb_lsh_adaptive_pair_ctes`` (which appends the
    cap + self-join-pair suffix) and ``corpus._sem_decon_oracle``
    (which appends the asymmetric train x eval suffix -- a cap there
    would silently drop contamination hits).  One builder means a
    bucket-math retune cannot silently fork the two embedding oracles
    (r14 review finding -- the same drift class the
    ``PORTABLE_K_THRESHOLDS`` comment guards against)."""
    planes = ", ".join(
        f"({i}, ["
        + ",".join(str(p) for p in _int_plane(i, dim))
        + "])"
        for i in range(96)
    )
    return f"""
__planes AS (SELECT * FROM (VALUES {planes}) pl(pid, pvec)),
__kl AS (
  SELECT (4 {' '.join(f'+ CASE WHEN count(*) >= {t} THEN 1 ELSE 0 END' for t in PORTABLE_K_THRESHOLDS)}) AS k,
         16 AS L
  FROM embeddings
),
__q AS (
  SELECT vec_id,
         list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 16384) AS BIGINT)) AS qv
  FROM embeddings
),
__bits AS (
  SELECT q.vec_id, p.pid // kl.k AS tbl, p.pid % kl.k AS j, kl.k AS k,
         CASE WHEN list_aggregate(list_transform(list_zip(q.qv, p.pvec), x -> x[1] * x[2]), 'sum') >= 0
              THEN 1 ELSE 0 END AS bit
  FROM __q q, __planes p, __kl kl
  WHERE p.pid < kl.k * kl.L
),
__b AS (
  SELECT vec_id, CAST(tbl * (1 << k) + sum(bit * (1 << j)) AS BIGINT) AS bucket
  FROM __bits GROUP BY vec_id, tbl, k
)"""


def sql_emb_lsh_adaptive_pair_ctes(
    threshold: float = 0.4, dim: int = 64, cap: int = PORTABLE_ADAPTIVE_CAP
) -> str:
    """DuckDB recomputation of ``adaptive_lsh_pairs_portable`` as a CTE
    chain ending in ``__vpairs`` -- the ADAPTIVE sibling of
    ``sql_emb_lsh_pair_ctes`` (VERDICT r5 item 2).  Two things the fixed
    builder could not express are relational here:

    - **k from count(*)**: the integer-threshold rule of
      ``similarity.adaptive_portable_kl`` (4 + [n>=2897] + [n>=5793])
      runs as a scalar CTE, and the bucket construction is a
      *relational* join against a 96-row integer-plane table filtered
      to ``pid < k*L`` -- so one static SQL string adapts to any corpus
      size exactly like the Spark side's driver-side ``count()``.
    - **the deterministic bucket cap**: ``_cap_buckets``' vid-ordered
      spanning chains are a window (count + lead per bucket), replayed
      verbatim, so oversized buckets degrade identically on both
      engines.

    All bucket arithmetic stays exact int64 (quantized vectors x
    integer planes); the cosine verify is the same double pattern as
    the fixed flavor."""
    dot = (
        "list_aggregate(list_transform(list_zip(e1.embedding, e2.embedding), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')"
    )
    nrm = (
        "sqrt(list_aggregate(list_transform({e}.embedding, "
        "x -> CAST(x AS DOUBLE) * x), 'sum'))"
    )
    return f"""{sql_emb_adaptive_bucket_ctes(dim)},
__bann AS (
  SELECT vec_id, bucket,
         count(*) OVER (PARTITION BY bucket) AS n_in_bucket,
         lead(vec_id) OVER (PARTITION BY bucket ORDER BY vec_id) AS next_id
  FROM __b
),
__ecand AS (
  SELECT DISTINCT vec_id_1, vec_id_2 FROM (
    SELECT a.vec_id AS vec_id_1, c.vec_id AS vec_id_2
    FROM __bann a JOIN __bann c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE a.n_in_bucket <= {cap}
    UNION ALL
    SELECT vec_id AS vec_id_1, next_id AS vec_id_2
    FROM __bann WHERE n_in_bucket > {cap} AND next_id IS NOT NULL
  )
),
__scored AS (
  SELECT __ecand.vec_id_1, __ecand.vec_id_2,
         round({dot} / ({nrm.format(e="e1")} * {nrm.format(e="e2")}), 4) AS cosine_sim
  FROM __ecand
  JOIN embeddings e1 ON e1.vec_id = __ecand.vec_id_1
  JOIN embeddings e2 ON e2.vec_id = __ecand.vec_id_2
),
__vpairs AS (
  SELECT vec_id_1, vec_id_2, cosine_sim FROM __scored WHERE cosine_sim >= {threshold}
)
"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k: k-means-lite coarse clusters,
    probe the 2 nearest centroids, exact-score only those partitions.
    The scale path: equi-join on cluster id instead of a cross join.
    Rows-only check; recall vs brute force is asserted in tests."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"]
    clustered = kmeans_lite(emb, k=8, iters=2)
    return ivf_topk(
        clustered,
        emb.filter(F.col("vec_id") < 5),
        k=10,
        nprobe=2,
        cluster_col="cluster",
    )


def q_ann_ivf_lossless_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF exactness audit (VERDICT r4 item 2): run the FULL IVF
    machinery -- k-means-lite clustering, centroid routing, cluster-
    scoped scoring, per-query ranking -- with nprobe = n_cells, where
    IVF is algebraically identical to brute force (every vector lives
    in exactly one cell, so probing all cells scores every vector
    exactly once).  The oracle is the brute-force SQL itself
    (ORACLE_SIMILARITY_TOPK), so the driver hash-verifies the whole
    composition end-to-end: a cluster assignment that drops or
    duplicates a vector, a routing bug, or a scoring divergence all
    break the hash.  The quality-under-pruning evidence is
    ann_recall_audit + tests/test_ann_recall.py."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"]
    clustered = kmeans_lite(emb, k=8, iters=2)
    return ivf_topk(
        clustered,
        emb.filter(F.col("vec_id") < 5),
        k=10,
        nprobe=8,
        cluster_col="cluster",
    )


def _planted_embeddings(emb: DataFrame) -> DataFrame:
    """Derived corpus with DETERMINISTIC planted cluster structure: add
    a 5.0 spike at position (label % 64) to every vector.  The fixture's
    raw embeddings are near-random (exact top-10 cosines ~0.24-0.49,
    ~1/10 neighbors share a label), so no IVF can reach high recall on
    them at low nprobe -- pruned-recall evidence needs real cluster
    structure.  The spike is pure SQL arithmetic on (embedding, label),
    so DuckDB recomputes the planted corpus bit-for-bit (double
    addition of 5.0 is exact)."""
    spike = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: F.when(i == F.col("label") % 64, F.lit(5.0)).otherwise(F.lit(0.0)),
    )
    return emb.select(
        "vec_id",
        "label",
        F.zip_with(
            F.col("embedding"), spike, lambda a, b: a.cast("double") + b
        ).alias("embedding"),
    )


def q_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible ANN recall gate (VERDICT r4 item 2): plant
    cluster structure (see _planted_embeddings), run REAL pruned IVF
    (k-means k=10, nprobe=2 -- only ~20% of cells scanned), and emit
    per-probe rows (query_id, n_exact, exact_kth_cosine, recall_ok)
    where recall_ok = 1 iff >= 9 of the exact top-10 survive pruning.
    The oracle recomputes the ENTIRE exact side in SQL -- planted
    vectors, brute-force cosine top-10, kth cosine -- and pins
    recall_ok = 1, so a recall regression below 0.9 on any probe
    flips a row and fails the driver hash."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    # planted feeds three consumers (exact scan, k-means, IVF) and
    # exact feeds two (hits semi-join, per_q aggregate): checkpoint
    # both so the expensive corpus-x-probes cosine scan runs once per
    # action, not once per branch (r5 review finding)
    planted = _planted_embeddings(t["embeddings"]).localCheckpoint(eager=False)
    probes = planted.filter(F.col("vec_id") < 10)
    exact = cosine_topk(planted, probes, k=10).localCheckpoint(eager=False)
    clustered = kmeans_lite(planted, k=10, iters=2)
    approx = ivf_topk(clustered, probes, k=10, nprobe=2, cluster_col="cluster")
    # both top-k outputs are (n_probes x k) rows -- bounded by the
    # probe set (a benchmark suite), never by corpus size -- so the
    # audit joins broadcast instead of sort-merging
    hits = (
        exact.join(
            F.broadcast(approx.select("query_id", "vec_id")),
            ["query_id", "vec_id"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    per_q = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact"),
        F.min("cosine_sim").alias("exact_kth_cosine"),
    )
    return (
        per_q.join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            "exact_kth_cosine",
            F.when(F.coalesce(F.col("__hits"), F.lit(0)) >= 9, F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("recall_ok"),
        )
        .orderBy("query_id")
    )


_SQL_PLANTED = """
  SELECT vec_id,
         list_transform(list_zip(embedding, range(0, 64)),
             x -> CAST(x[1] AS DOUBLE)
                  + CASE WHEN x[2] = label % 64 THEN 5.0 ELSE 0.0 END) AS pv
  FROM embeddings
"""

ORACLE_ANN_RECALL_AUDIT = f"""
WITH p AS ({_SQL_PLANTED}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cid,
         list_aggregate(list_transform(list_zip(c.pv, q.pv),
                                       x -> x[1] * x[2]), 'sum')
         / (sqrt(list_aggregate(list_transform(c.pv, x -> x * x), 'sum'))
            * sqrt(list_aggregate(list_transform(q.pv, x -> x * x), 'sum'))) AS cos
  FROM p c
  CROSS JOIN (SELECT * FROM p WHERE vec_id < 10) q
  WHERE c.vec_id != q.vec_id
),
topk AS (
  SELECT query_id, cid, round(cos, 4) AS cs,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cid) AS rk
  FROM scored
  QUALIFY rk <= 10
)
SELECT query_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       min(cs) AS exact_kth_cosine,
       CAST(1 AS INTEGER) AS recall_ok
FROM topk
GROUP BY query_id
ORDER BY query_id
"""


# --- multimodal --------------------------------------------------------------


def q_ann_ivf_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k over an int8-quantized corpus (VERDICT r3 item 6) --
    a QUALITY-COST demonstrator: the corpus is round-tripped through
    the array<tinyint> + scale format a 100 TB deployment would
    persist (4x smaller at rest and on scan), and ranking runs on the
    reconstructed vectors; queries stay float (asymmetric search).
    Honest plan note: ivf_topk broadcasts the probe set, so the
    corpus never exchanges in-query either way -- the 4x saving is a
    STORAGE property of the format, not a shuffle property of this
    plan.  Rows-only; the 8-bit quality cost is pinned in
    tests/test_ann_recall.py (recall@10 >= 0.9 on planted
    clusters)."""
    from ..functions.similarity import dequantize_vectors, quantize_vectors

    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"]
    clustered = kmeans_lite(emb, k=8, iters=2)
    q8 = (
        dequantize_vectors(quantize_vectors(clustered))
        .drop("embedding", "qvec", "qscale")
        .withColumnRenamed("embedding_dq", "embedding")
    )
    return ivf_topk(
        q8,
        emb.filter(F.col("vec_id") < 5),
        k=10,
        nprobe=2,
        cluster_col="cluster",
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary media table (synthesized from documents) metadata
    rollup: type x byte stats."""
    t = load_tables(spark, sf_dir, ["documents"])
    media = synthesize_media(t["documents"])
    return media.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum(F.col("meta.n_bytes")).alias("total_bytes"),
        F.max(F.octet_length("content")).cast("long").alias("max_payload_bytes"),
    )


ORACLE_MULTIMODAL_META = """
SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS media_type,
       count(*) AS n_media,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       CAST(max(octet_length(encode(text))) AS BIGINT) AS max_payload_bytes
FROM documents
GROUP BY 1
"""


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec end-to-end: synthesize genuine 24-bit BMP files keyed
    on doc_id (mapInPandas encoder), parse them back with the pure-Python
    BMP decoder (mapInPandas), emit width/height/bpp/mean-pixel.  The
    pixel formula is arithmetic on doc_id, so the oracle recomputes the
    expected values in SQL without a decoder -- if either the encoder or
    the parser mishandles headers/stride/padding, the means diverge."""
    from ..functions.multimodal import decode_real, synthesize_bmp_media

    t = load_tables(spark, sf_dir, ["documents"])
    media = synthesize_bmp_media(t["documents"].select("doc_id"))
    return decode_real(media, codec="bmp")


ORACLE_MULTIMODAL_DECODE = """
WITH d AS (
  SELECT doc_id,
         CAST(4 + doc_id % 5 AS INTEGER) AS width,
         CAST(3 + doc_id % 4 AS INTEGER) AS height
  FROM documents
), px AS (
  SELECT d.doc_id, d.width, d.height,
         (d.doc_id * 31 + y.v * 17 + x.v * 7 + c.v) % 256 AS pv
  FROM d, range(0, 7) y(v), range(0, 9) x(v), range(0, 3) c(v)
  WHERE y.v < d.height AND x.v < d.width
)
SELECT doc_id AS media_id,
       'bmp24' AS format,
       width,
       height,
       CAST(24 AS INTEGER) AS bpp,
       round(avg(pv), 4) AS mean_pixel
FROM px
GROUP BY doc_id, width, height
"""


def q_multimodal_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize end-to-end: synthesize genuine BMPs -> nearest-
    neighbor 2x downsample (decode -> numpy stride slice -> re-encode,
    functions/multimodal.py:resize_real) -> re-decode for stats.  The
    resized pixel (x, y, c) is the source pixel (2x, 2y, c), so the
    oracle recomputes the downsampled dimensions (ceil-division from
    numpy's [::2]) and mean arithmetically; any header/stride/padding
    or orientation bug in decode OR re-encode diverges the means."""
    from ..functions.multimodal import (
        decode_real,
        resize_real,
        synthesize_bmp_media,
    )

    t = load_tables(spark, sf_dir, ["documents"])
    media = synthesize_bmp_media(t["documents"].select("doc_id"))
    return decode_real(resize_real(media, factor=2), codec="bmp")


ORACLE_MULTIMODAL_RESIZE = """
WITH d AS (
  SELECT doc_id,
         CAST((4 + doc_id % 5 + 1) // 2 AS INTEGER) AS width,
         CAST((3 + doc_id % 4 + 1) // 2 AS INTEGER) AS height
  FROM documents
), px AS (
  SELECT d.doc_id, d.width, d.height,
         (d.doc_id * 31 + (2 * y.v) * 17 + (2 * x.v) * 7 + c.v) % 256 AS pv
  FROM d, range(0, 4) y(v), range(0, 5) x(v), range(0, 3) c(v)
  WHERE y.v < d.height AND x.v < d.width
)
SELECT doc_id AS media_id,
       'bmp24' AS format,
       width,
       height,
       CAST(24 AS INTEGER) AS bpp,
       round(avg(pv), 4) AS mean_pixel
FROM px
GROUP BY doc_id, width, height
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched byte-feature extraction over GENUINE BMP payloads
    (VERDICT r3 item 4 -- upgraded from the UTF-8 pseudo tier): the
    generic decode_features body (length / checksum / mean byte) runs
    over real encoded images, and because every byte of a synthesized
    BMP is arithmetic on doc_id (header fields included -- file sizes
    stay under 256 so each u32 contributes one nonzero byte), the
    oracle recomputes checksum and mean from the format spec.  A
    header/stride/padding bug in the encoder now diverges this query
    too, not just multimodal_decode."""
    from ..functions.multimodal import synthesize_bmp_media

    t = load_tables(spark, sf_dir, ["documents"])
    media = synthesize_bmp_media(t["documents"].select("doc_id")).withColumn(
        "media_type", F.lit("image")
    )
    return decode_features(media).select(
        "media_id", "media_type", "n_bytes", "checksum", "feature_mean"
    )


# Byte-sum of a synthesized BMP, from the format spec: 'B'+'M' = 143,
# filesize u32 (= 54+img < 256: one nonzero byte), pixel-data offset 54,
# header size 40, width w, height h, planes 1, bpp 24, img_size u32
# (img < 256), ppm 2835 = 0x0B13 twice (19+11 each), zeros elsewhere:
# header_sum = 143 + (54+img) + 54 + 40 + w + h + 1 + 24 + img + 60
#            = 376 + 2*img + w + h.  Padding bytes are zero, so
# total = header_sum + sum of pixel values.
ORACLE_MULTIMODAL_FEATURES = """
WITH d AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
  FROM documents
), g AS (
  SELECT doc_id, w, h, ((w * 3 + 3) // 4) * 4 * h AS img FROM d
), ps AS (
  SELECT d.doc_id,
         CAST(sum((d.doc_id * 31 + y.v * 17 + x.v * 7 + c.v) % 256) AS BIGINT) AS pixel_sum
  FROM d, range(0, 6) y(v), range(0, 8) x(v), range(0, 3) c(v)
  WHERE y.v < d.h AND x.v < d.w
  GROUP BY d.doc_id
)
SELECT g.doc_id AS media_id,
       'image' AS media_type,
       CAST(54 + g.img AS BIGINT) AS n_bytes,
       CAST(376 + 2 * g.img + g.w + g.h + ps.pixel_sum AS BIGINT) AS checksum,
       round(CAST(376 + 2 * g.img + g.w + g.h + ps.pixel_sum AS DOUBLE)
             / (54 + g.img), 4) AS feature_mean
FROM g JOIN ps ON ps.doc_id = g.doc_id
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (every-64th-byte stride) over GENUINE BMP payloads
    (VERDICT r3 item 4): per media row, sampled-frame count + byte sum.
    Sampled positions {0, 64, 128, 192} land on byte 0 of the header
    ('B' = 66) and otherwise inside the pixel array, where the stored
    byte is the doc_id pixel formula at the bottom-up row -- all
    recomputable in SQL, so the byte-stride sampler is now
    oracle-checked against the real format layout."""
    from ..functions.multimodal import synthesize_bmp_media

    t = load_tables(spark, sf_dir, ["documents"])
    media = synthesize_bmp_media(t["documents"].select("doc_id"))
    frames = frame_sample(media, every_n_bytes=64)
    return frames.select(
        "media_id",
        F.size("frames").alias("n_frames"),
        F.aggregate("frames", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "frame_byte_sum"
        ),
    ).orderBy("media_id")


# Sampled byte at position p of a synthesized BMP: p=0 is 'B' (66);
# p >= 64 is inside the pixel array (header is 54 bytes, file length
# <= 198): stored row r = (p-54)//stride holds logical row y = h-1-r
# (bottom-up), offset o = (p-54)%stride is pixel x = o//3 channel
# c = o%3 when o < w*3, else row padding (0).
ORACLE_MULTIMODAL_FRAMES = """
WITH d AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
  FROM documents
), g AS (
  SELECT doc_id, w, h, ((w * 3 + 3) // 4) * 4 AS stride,
         54 + ((w * 3 + 3) // 4) * 4 * h AS n
  FROM d
), f AS (
  SELECT g.doc_id,
         CASE WHEN p.v = 0 THEN 66
              WHEN (p.v - 54) % g.stride < g.w * 3
              THEN (g.doc_id * 31 + (g.h - 1 - (p.v - 54) // g.stride) * 17
                    + (((p.v - 54) % g.stride) // 3) * 7
                    + ((p.v - 54) % g.stride) % 3) % 256
              ELSE 0
         END AS fb
  FROM g, (SELECT unnest([0, 64, 128, 192]) AS v) p
  WHERE p.v < g.n
)
SELECT doc_id AS media_id,
       CAST(count(*) AS INTEGER) AS n_frames,
       CAST(sum(fb) AS BIGINT) AS frame_byte_sum
FROM f GROUP BY doc_id
"""


# Benford expected first-digit shares, rounded to 4: computed ONCE in
# Python and embedded as literals in BOTH engines' plans -- log10 is
# libm-dependent, so recomputing it per engine could differ in the
# last ulp and flip the rounded display value.
_BENFORD_EXPECTED = {d: round(math.log10(1 + 1 / d), 4) for d in range(1, 10)}


def q_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals -- the
    fraud/data-quality screen: natural multi-scale amounts follow
    P(d) = log10(1 + 1/d); synthetic or tampered columns usually
    don't, and the deviation column makes the drift visible.

    Exactness: the first significant digit is extracted from the
    INTEGER 1e-4 fixed-point value (money floor recipe), stringified
    as a BIGINT -- integer-to-string is engine-stable, unlike double
    formatting (the table_profile lesson) and unlike floor(log10(x))
    digit math, which goes wrong within an ulp of powers of ten.
    Counts and totals are BIGINT under the hash; shares are
    display-rounded ratios of pinned integers; the Benford expecteds
    are shared Python-computed literals (see _BENFORD_EXPECTED).

    Scale shape: one map-side-combinable 9-group aggregate + a 1-row
    broadcast total.  9 rows out at any volume."""
    t = load_tables(spark, sf_dir, ["orders"])
    fp = F.floor(F.col("o_totalprice") * 10000 + F.lit(0.5)).cast("long")
    digits = (
        t["orders"]
        .filter(F.col("o_totalprice") > 0)
        .select(F.substring(fp.cast("string"), 1, 1).cast("int").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    total = digits.agg(F.sum("n").alias("__total"))
    expected = F.create_map(
        *[F.lit(x) for kv in _BENFORD_EXPECTED.items() for x in kv]
    )
    exp_col = expected[F.col("digit")]
    return (
        digits.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.round(F.col("n").cast("double") / F.col("__total"), 4).alias("share"),
            exp_col.alias("benford_expected"),
            F.round(
                F.abs(F.col("n").cast("double") / F.col("__total") - exp_col), 4
            ).alias("abs_deviation"),
        )
        .orderBy("digit")
    )


ORACLE_BENFORD = f"""
WITH d AS (
  SELECT CAST(substring(CAST(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)
                             AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM orders WHERE o_totalprice > 0
),
g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit),
t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g)
SELECT digit, n,
       round(CAST(n AS DOUBLE) / total, 4) AS share,
       -- CAST to DOUBLE: DuckDB types a bare 0.058 literal as DECIMAL
       -- and would print '0.0580' against Spark's double '0.058'
       CAST(CASE digit {' '.join(f'WHEN {d} THEN {p}' for d, p in _BENFORD_EXPECTED.items())} END AS DOUBLE)
         AS benford_expected,
       round(abs(CAST(n AS DOUBLE) / total -
                 CAST(CASE digit {' '.join(f'WHEN {d} THEN {p}' for d, p in _BENFORD_EXPECTED.items())} END AS DOUBLE)), 4)
         AS abs_deviation
FROM g, t
ORDER BY digit
"""


_SNAP_ADD_OFFSET = 1_000_000_000


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot change detection -- the data-engineering primitive
    behind incremental loads and reconciliation audits ('what changed
    between yesterday's and today's extract'): full-outer join two
    snapshots on the business key and classify every key as added /
    deleted / changed / unchanged, with per-column change counts.

    The 'new' snapshot is DERIVED deterministically (the aligned
    self-augmentation pattern): keys % 97 == 0 are deleted, % 7 == 0
    get a changed priority and a +1.50 total, % 101 == 0 spawn an
    added row in a disjoint key space -- so every class is non-vacuous
    and both engines replay the mutation exactly.  Comparison is
    NULL-SAFE equality (Spark <=>, DuckDB IS NOT DISTINCT FROM); the
    +1.50 is exact double arithmetic on both engines.

    Scale shape: one full-outer equi-join on the key -- the minimal
    possible shuffle for this question -- then a single
    conditional-count aggregate to one row.  No window, no sort."""
    t = load_tables(spark, sf_dir, ["orders"])
    old = t["orders"].select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "o_orderstatus"
    )
    mutated = (
        old.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 7 == 0, F.lit("9-CHANGED"))
            .otherwise(F.col("o_orderpriority"))
            .alias("o_orderpriority"),
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1.5
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
            "o_orderstatus",
        )
    )
    added = old.filter(F.col("o_orderkey") % 101 == 0).select(
        (F.col("o_orderkey") + _SNAP_ADD_OFFSET).alias("o_orderkey"),
        "o_orderpriority",
        "o_totalprice",
        "o_orderstatus",
    )
    new = mutated.unionByName(added)
    o, n = old.alias("o"), new.alias("n")
    joined = o.join(n, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer")
    pr_same = F.col("o.o_orderpriority").eqNullSafe(F.col("n.o_orderpriority"))
    tp_same = F.col("o.o_totalprice").eqNullSafe(F.col("n.o_totalprice"))
    st_same = F.col("o.o_orderstatus").eqNullSafe(F.col("n.o_orderstatus"))
    is_add = F.col("o.o_orderkey").isNull()
    is_del = F.col("n.o_orderkey").isNull()
    is_chg = ~is_add & ~is_del & ~(pr_same & tp_same & st_same)
    return joined.agg(
        F.count(F.col("o.o_orderkey")).cast("long").alias("n_old"),
        F.count(F.col("n.o_orderkey")).cast("long").alias("n_new"),
        F.count(F.when(is_add, 1)).cast("long").alias("n_added"),
        F.count(F.when(is_del, 1)).cast("long").alias("n_deleted"),
        F.count(F.when(is_chg, 1)).cast("long").alias("n_changed"),
        F.count(F.when(~is_add & ~is_del & pr_same & tp_same & st_same, 1))
        .cast("long")
        .alias("n_unchanged"),
        F.count(F.when(~is_add & ~is_del & ~pr_same, 1))
        .cast("long")
        .alias("n_changed_priority"),
        F.count(F.when(~is_add & ~is_del & ~tp_same, 1))
        .cast("long")
        .alias("n_changed_totalprice"),
    )


ORACLE_SNAPSHOT_DIFF = f"""
WITH old AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice, o_orderstatus FROM orders
),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN '9-CHANGED' ELSE o_orderpriority END AS o_orderpriority,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.5 ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + {_SNAP_ADD_OFFSET}, o_orderpriority, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 101 = 0
),
j AS (
  SELECT o.o_orderkey AS ok, n.o_orderkey AS nk,
         (o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority) AS pr_same,
         (o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice) AS tp_same,
         (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus) AS st_same
  FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
)
SELECT CAST(count(ok) AS BIGINT) AS n_old,
       CAST(count(nk) AS BIGINT) AS n_new,
       CAST(count(CASE WHEN ok IS NULL THEN 1 END) AS BIGINT) AS n_added,
       CAST(count(CASE WHEN nk IS NULL THEN 1 END) AS BIGINT) AS n_deleted,
       CAST(count(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL
                        AND NOT (pr_same AND tp_same AND st_same) THEN 1 END) AS BIGINT) AS n_changed,
       CAST(count(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL
                        AND pr_same AND tp_same AND st_same THEN 1 END) AS BIGINT) AS n_unchanged,
       CAST(count(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL AND NOT pr_same THEN 1 END) AS BIGINT) AS n_changed_priority,
       CAST(count(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL AND NOT tp_same THEN 1 END) AS BIGINT) AS n_changed_totalprice
FROM j
"""


def q_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec end-to-end -- the WAV/PCM16 sibling of the BMP
    tier (q_multimodal_decode): synthesize genuine RIFF/WAVE mono
    16-bit clips keyed on doc_id (mapInPandas encoder), parse them
    back with the pure-Python WAV parser (mapInPandas), emit rate /
    sample count / integer-exact duration / mean |sample|.  Every
    sample is arithmetic on doc_id, so the oracle recomputes the
    decoded statistics in SQL with no decoder -- a header, chunk, or
    endianness bug on either side diverges the hash."""
    from ..functions.multimodal import decode_audio_real, synthesize_wav_media

    t = load_tables(spark, sf_dir, ["documents"])
    media = synthesize_wav_media(t["documents"].select("doc_id"))
    return decode_audio_real(media).withColumn(
        "mean_abs_sample", F.round("mean_abs_sample", 4)
    )


ORACLE_AUDIO_DECODE = """
WITH d AS (
  SELECT doc_id,
         CAST(8000 + 100 * (doc_id % 5) AS INTEGER) AS sample_rate,
         CAST(8 + doc_id % 9 AS INTEGER) AS n_samples
  FROM documents
), s AS (
  SELECT d.doc_id, d.sample_rate, d.n_samples,
         abs((d.doc_id * 131 + i.v * 37) % 2048 - 1024) AS a
  FROM d, range(0, 17) i(v) WHERE i.v < d.n_samples
)
SELECT doc_id AS media_id,
       'wav_pcm16' AS format,
       sample_rate,
       n_samples,
       CAST(n_samples * 1000000 // sample_rate AS BIGINT) AS duration_us,
       round(CAST(sum(a) AS DOUBLE) / n_samples, 4) AS mean_abs_sample
FROM s
GROUP BY doc_id, sample_rate, n_samples
"""


def q_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio feature extraction (the frame-sample analog for
    audio): 4-sample windows every 2 samples per clip, emitting the
    frame count and total energy sum(s^2) over all windows.  Energy is
    an exact integer (samples are integers), so the whole feature sits
    under the hash; the oracle replays the windowing with range()
    joins."""
    from ..functions.multimodal import audio_frame_energy, synthesize_wav_media

    t = load_tables(spark, sf_dir, ["documents"])
    media = synthesize_wav_media(t["documents"].select("doc_id"))
    return audio_frame_energy(media, frame=4, hop=2)


ORACLE_AUDIO_FRAMES = """
WITH d AS (
  SELECT doc_id, CAST(8 + doc_id % 9 AS INTEGER) AS n_samples
  FROM documents
), w AS (
  SELECT d.doc_id, st.v AS s0, st.v + j.v AS idx,
         (d.doc_id * 131 + (st.v + j.v) * 37) % 2048 - 1024 AS smp
  FROM d, range(0, 17) st(v), range(0, 4) j(v)
  WHERE st.v < d.n_samples AND st.v % 2 = 0 AND st.v + j.v < d.n_samples
)
SELECT doc_id AS media_id,
       CAST(count(DISTINCT s0) AS INTEGER) AS n_frames,
       CAST(sum(smp * smp) AS BIGINT) AS total_energy
FROM w
GROUP BY doc_id
"""


def q_skew_key_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-planning skew audit: the top-20 heaviest user_id keys
    in the event stream with their share of all rows and their ratio
    to the mean key load -- the number that tells you whether a
    groupBy/join on this key needs salting (operators/skew.py) before
    it hits a 1000-executor cluster.  The audit IS the planning input
    the engine's own salted operators assume.

    Exactness: counts, totals, and distinct-key counts are BIGINT
    under the hash; share and skew_ratio are display-rounded ratios of
    those pinned integers.  Ordering is (cnt DESC, user_id) --
    discrete and unique, so the top-20 cut is deterministic.

    Scale shape: one map-side-combinable key-count aggregate; the
    top-k lowers to TakeOrderedAndProject over the (distinct keys)-
    sized count table (the zipf_top_terms precedent), and the 1-row
    totals frame joins broadcast.  Never a corpus-wide sort."""
    t = load_tables(spark, sf_dir, ["events"])
    counts = (
        t["events"]
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    totals = counts.agg(
        F.sum("cnt").alias("__total"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "user_id",
            "cnt",
            "n_keys",
            F.round(F.col("cnt").cast("double") / F.col("__total"), 6).alias("share"),
            F.round(
                F.col("cnt").cast("double") * F.col("n_keys") / F.col("__total"), 4
            ).alias("skew_ratio"),
        )
        .orderBy(F.desc("cnt"), "user_id")
        .limit(20)
    )


ORACLE_SKEW_KEYS = """
WITH c AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
),
t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_keys FROM c)
SELECT user_id, cnt, n_keys,
       round(CAST(cnt AS DOUBLE) / total, 6) AS share,
       round(CAST(cnt AS DOUBLE) * n_keys / total, 4) AS skew_ratio
FROM c, t
ORDER BY cnt DESC, user_id
LIMIT 20
"""


def q_asof_quotes(spark: SparkSession, sf_dir: str, n_seg: int = 50) -> DataFrame:
    """General TWO-TABLE as-of join (trades x quotes, the kdb+
    canonical): every event is enriched with the most recent quote
    tick at-or-before its timestamp in the same segment -- through the
    production ``operators/asof.asof_join_pandas`` cogroup +
    ``pandas.merge_asof`` path, so the Arrow two-sided co-partition
    operator itself sits under the driver hash (the window flavor is
    already driver-checked via purchase_attribution; this was the last
    asof tier with pytest-only evidence).  The oracle replays it with
    DuckDB's native ``ASOF LEFT JOIN``.

    The fixtures carry no second timestamped table in the events epoch
    (orders are 1995-2001, events 2024 -- an orders/events as-of is
    vacuous), so the quote table is SYNTHESIZED deterministically from
    the clock: one tick per (segment, hour) at a segment-dependent
    second offset, plus an opening tick per segment at the spine
    start so every event has a matchable quote (all-integer value
    formula; both engines regenerate the identical table).

    Exactness: timestamps compare as epoch-microsecond BIGINTs (never
    raw timestamps -- the nanos-vs-micros rule); quote values and lag
    seconds are pure integer arithmetic.  Tick timestamps are unique
    per segment (the only collision, segment 0's opening-vs-hourly
    tick, carries an identical value and is deduplicated), so the
    as-of pick is deterministic on both engines.

    Scale shape: both sides shuffle ONCE on the segment key into the
    cogroup; per-key state is one segment's ticks (clock-sized) plus
    its events -- the merge is a linear two-pointer scan per group.
    At 100 TB the key would be the instrument/entity id (thousands of
    groups); the oracle fixture uses ``n_seg=50`` to keep 50
    non-trivial groups at every SF, but cogroup parallelism equals the
    key cardinality, so production callers should pass (or pre-derive)
    an entity-grained key: ``n_seg`` is a parameter precisely so the
    operator's parallelism scales with it (tests prove n_seg=512 >>
    cores stays correct; the oracle pins n_seg=50 unchanged)."""
    t = load_tables(spark, sf_dir, ["events"])
    ev = t["events"].filter(F.col("user_id").isNotNull()).select(
        "event_id",
        (F.col("user_id") % n_seg).cast("long").alias("segment"),
        F.expr("unix_micros(ts)").alias("event_us"),
    )
    # the clock bounds are TWO scalars, but as a 1-row frame they fed
    # two independent tick subtrees -- the whole events scan + agg ran
    # three times per action (once per tick arm + the join side).
    # Collect them once (bounded driver collect, the _tuned_grain_us
    # class) and build the clock spine from literals (r16, guide §2.4).
    brow = ev.agg(
        F.expr("min(event_us div 3600000000)").alias("__mn"),
        F.expr("max(event_us div 3600000000)").alias("__mx"),
    ).first()
    mn, mx = brow["__mn"], brow["__mx"]
    segs = spark.range(n_seg).select(F.col("id").alias("segment"))
    if mn is None:
        # no events: no ticks either (the old 1-row agg produced NULL
        # bounds and sequence(NULL, NULL) yielded no hours)
        ticks = (
            segs.select(
                "segment",
                F.lit(None).cast("bigint").alias("tick_us"),
                F.lit(None).cast("bigint").alias("quote_fp"),
            )
            .filter(F.lit(False))
            .withColumn("quote_us", F.col("tick_us"))
        )
    else:
        hours = spark.range(int(mn), int(mx) + 1).select(F.col("id").alias("__h"))
        hourly_ticks = hours.crossJoin(segs).select(
            "segment",
            F.expr(f"__h * 3600000000 + ((segment * 97) % 3600) * 1000000")
            .alias("tick_us"),
            F.expr("(__h * 31 + segment * 7) % 1000 + 100").alias("quote_fp"),
        )
        opening_ticks = segs.select(
            "segment",
            F.lit(int(mn) * 3600000000).cast("bigint").alias("tick_us"),
            F.expr(f"({int(mn)} * 31 + segment * 7) % 1000 + 100").alias(
                "quote_fp"
            ),
        )
        ticks = (
            hourly_ticks.unionByName(opening_ticks)
            .distinct()
            .withColumn("quote_us", F.col("tick_us"))
        )
    from ..operators.asof import asof_join_pandas

    joined = asof_join_pandas(
        ev,
        ticks.select("segment", "tick_us", "quote_us", "quote_fp"),
        key="segment",
        left_ts="event_us",
        right_ts="tick_us",
        right_values=["quote_us", "quote_fp"],
    )
    return joined.select(
        "event_id",
        "segment",
        "event_us",
        "quote_fp",
        F.expr("(event_us - quote_us) div 1000000").alias("lag_sec"),
    ).orderBy("event_id")


def q_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-container codec end-to-end: synthesize genuine
    8-bit grayscale PNGs keyed on doc_id (signature, CRC-verified
    chunks, deflate-compressed scanlines, rotating None/Sub/Up row
    filters), parse them back with the pure-Python PNG decoder, emit
    dimensions + the exact pixel sum.  This is the tier the BMP/WAV
    codecs don't cover -- the payload bytes are COMPRESSED, so the
    zlib round trip, chunk framing, CRCs, and defiltering all sit on
    the hash path.  The pixel formula is arithmetic on doc_id, so the
    oracle recomputes the expected stats in SQL without a decoder."""
    from ..functions.multimodal import decode_png_real, synthesize_png_media

    t = load_tables(spark, sf_dir, ["documents"])
    media = synthesize_png_media(t["documents"].select("doc_id"))
    decoded = decode_png_real(media)
    return decoded.select(
        "media_id", "format", "width", "height", "sum_pixel",
        F.round("mean_pixel", 4).alias("mean_pixel"),
    ).orderBy("media_id")


ORACLE_PNG_DECODE = """
WITH d AS (
  SELECT doc_id,
         CAST(4 + doc_id % 5 AS INTEGER) AS width,
         CAST(3 + doc_id % 4 AS INTEGER) AS height
  FROM documents
), px AS (
  SELECT d.doc_id, d.width, d.height,
         (d.doc_id * 53 + y.v * 19 + x.v * 11) % 256 AS pv
  FROM d, range(0, 6) y(v), range(0, 9) x(v)
  WHERE y.v < d.height AND x.v < d.width
)
SELECT doc_id AS media_id,
       'png_gray8' AS format,
       width,
       height,
       CAST(sum(pv) AS BIGINT) AS sum_pixel,
       round(CAST(sum(pv) AS DOUBLE) / (width * height), 4) AS mean_pixel
FROM px
GROUP BY doc_id, width, height
ORDER BY media_id
"""


def q_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling: synthesize a genuine frame-indexed
    container (VID0 magic + u32 size index + concatenated real BMP
    frames) per doc_id, split it, decode every 2nd frame, emit the
    exact BIGINT pixel sum over the sampled frames -- the
    decode-subset pattern of production video pipelines (nobody
    decodes every frame).  Container framing, the per-frame BMP
    parse, and the sampling stride are all on the hash path; frame
    pixels are arithmetic on (doc_id, frame), so the oracle replays
    the sampled sum with range joins."""
    from ..functions.multimodal import synthesize_video_media, video_frame_stats

    t = load_tables(spark, sf_dir, ["documents"])
    media = synthesize_video_media(t["documents"].select("doc_id"))
    return video_frame_stats(media, every=2).orderBy("media_id")


ORACLE_VIDEO_FRAME_STATS = """
WITH d AS (
  SELECT doc_id,
         CAST(3 + doc_id % 4 AS INTEGER) AS n_frames,
         CAST(4 + doc_id % 3 AS INTEGER) AS w,
         CAST(3 + doc_id % 3 AS INTEGER) AS h
  FROM documents
), px AS (
  SELECT d.doc_id,
         (d.doc_id * 31 + f.v * 101 + y.v * 17 + x.v * 7 + c.v) % 256 AS pv
  FROM d, range(0, 7, 2) f(v), range(0, 5) y(v), range(0, 6) x(v),
       range(0, 3) c(v)
  WHERE f.v < d.n_frames AND y.v < d.h AND x.v < d.w
)
SELECT d.doc_id AS media_id,
       d.n_frames,
       CAST((d.n_frames + 1) // 2 AS INTEGER) AS n_sampled,
       d.w AS frame_width,
       d.h AS frame_height,
       CAST(s.sum_pv AS BIGINT) AS sampled_pixel_sum
FROM d JOIN (
  SELECT doc_id, sum(pv) AS sum_pv FROM px GROUP BY doc_id
) s ON s.doc_id = d.doc_id
ORDER BY media_id
"""


_KM_K = 4          # clusters
_KM_ROUNDS = 3     # assignment rounds (2 centroid updates + final assign)
_KM_DIM = 64       # embedding dim (static, like the LSH plane truncation)
_KM_QSCALE = 16384  # 2^14 quantization -- exact double multiply


def _quantized_vectors(emb: DataFrame) -> DataFrame:
    """(vec_id, qv) under THE integer-exactness recipe every
    hash-checked vector audit shares: floor(double(x) * 2^14) BIGINT
    per position (exact power-of-two multiply).  kmeans / PQ / IVF-PQ
    must all quantize through this one helper -- a drift in the scale
    or the slice bound at one site would break the cross-engine
    bit-equality these audits exist to certify."""
    return emb.select(
        "vec_id",
        F.expr(
            f"transform(slice(embedding, 1, {_KM_DIM}),"
            f" x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_QSCALE}) AS BIGINT))"
        ).alias("qv"),
    )


def q_kmeans_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT k-means replay (Lloyd's algorithm) over integer-quantized
    embeddings: 3 assignment rounds from deterministic seeds (the K
    lowest vec_ids), centroid updates as element-wise integer means.
    The IVF tier's float k-means (``similarity.kmeans_lite``) can
    never be hash-compared across engines -- float centroid sums
    depend on accumulation order -- so this is the clustering analog
    of ann_ivf_lossless_audit: the full algorithm (distances,
    assignment, update, empty-cluster carry, inertia) recomputed
    bit-for-bit by DuckDB.  Fixture vectors are near-random, so the
    evidence is ALGORITHM correctness, not cluster quality (the ANN
    recall audits own that).

    Exactness: vectors quantize as ``floor(double(v) * 2^14)`` (exact
    power-of-two multiply, the emb-LSH-portable recipe); distances are
    BIGINT sums of squared integer differences (<= 2^36 per pair);
    assignment tie-breaks on (d2, cluster_id) struct-min; centroid
    update is ``sum div count`` per position; a cluster that loses all
    members KEEPS its previous centroid (explicit carry, both
    engines).  Inertia and all checksums are BIGINT under the hash.

    Scale shape: the quantized corpus lives in long format (vec_id,
    pos, q) -- each round is one join on pos against the K*64-row
    centroid table (broadcast), one (vec_id, cluster) partial-agg
    distance sum, one struct-min argmin, one (cluster, pos) update
    agg; lineage cut per round.  Nothing is ever all-pairs; the
    centroid side is constant-sized at any corpus scale."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    qv = _quantized_vectors(t["embeddings"])
    ql = qv.select(
        "vec_id", F.posexplode("qv").alias("pos", "q")
    ).localCheckpoint(eager=False)

    seeds = (
        qv.orderBy("vec_id")
        .limit(_KM_K)
        .select(
            "vec_id",
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("cluster_id"),
        )
    )
    cent = (
        seeds.join(ql, "vec_id")
        .select("cluster_id", "pos", F.col("q").alias("c"))
        .localCheckpoint(eager=False)
    )

    assign = None
    for r in range(_KM_ROUNDS):
        d2 = (
            ql.join(F.broadcast(cent), "pos")
            .groupBy("vec_id", "cluster_id")
            .agg(F.sum(F.expr("(q - c) * (q - c)")).alias("d2"))
        )
        assign = (
            d2.groupBy("vec_id")
            .agg(F.min(F.struct("d2", "cluster_id")).alias("__m"))
            .select(
                "vec_id",
                F.col("__m.cluster_id").alias("cluster_id"),
                F.col("__m.d2").alias("d2"),
            )
            .localCheckpoint(eager=False)
        )
        if r < _KM_ROUNDS - 1:
            upd = (
                assign.join(ql, "vec_id")
                .groupBy("cluster_id", "pos")
                .agg(F.expr("sum(q) div count(*)").alias("__c_new"))
            )
            # r15 (guide §3.1): both sides are K*64 rows by
            # construction -- without the hint the stats-free lineage
            # planned SortMergeJoin (two exchanges + sorts on 512-row
            # frames) inside every round's checkpoint materialization
            cent = (
                cent.join(F.broadcast(upd), ["cluster_id", "pos"], "left")
                .select(
                    "cluster_id",
                    "pos",
                    F.coalesce("__c_new", "c").alias("c"),
                )
                .localCheckpoint(eager=False)
            )

    cent_sums = cent.groupBy("cluster_id").agg(
        F.sum("c").cast("long").alias("centroid_sum")
    )
    profile = assign.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("vec_id").cast("long").alias("member_id_sum"),
        F.sum("d2").cast("long").alias("inertia"),
    )
    # r15 (guide §3.1): K-row join; broadcast instead of sort-merge
    return (
        cent_sums.join(F.broadcast(profile), "cluster_id", "left")
        .select(
            "cluster_id",
            F.coalesce("n_members", F.lit(0)).cast("long").alias("n_members"),
            F.coalesce("member_id_sum", F.lit(0)).cast("long").alias("member_id_sum"),
            F.coalesce("inertia", F.lit(0)).cast("long").alias("inertia"),
            "centroid_sum",
        )
        .orderBy("cluster_id")
    )


def _kmeans_oracle() -> str:
    ctes = [
        f"""qv AS (
  SELECT vec_id,
         list_transform(embedding[1:{_KM_DIM}],
                        x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_QSCALE}) AS BIGINT)) AS qv
  FROM embeddings
)""",
        f"p AS (SELECT unnest(range(1, {_KM_DIM + 1})) AS pos)",
        "ql AS (SELECT vec_id, pos, qv[pos] AS q FROM qv, p)",
        f"""seeds AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cluster_id
  FROM (SELECT vec_id FROM qv ORDER BY vec_id LIMIT {_KM_K})
)""",
        "c0 AS (SELECT s.cluster_id, q.pos, q.q AS c FROM seeds s"
        " JOIN ql q ON q.vec_id = s.vec_id)",
    ]
    for r in range(_KM_ROUNDS):
        ctes.append(
            f"""d{r} AS (
  SELECT q.vec_id, c.cluster_id,
         CAST(sum((q.q - c.c) * (q.q - c.c)) AS BIGINT) AS d2
  FROM ql q JOIN c{r} c ON c.pos = q.pos
  GROUP BY q.vec_id, c.cluster_id
)"""
        )
        ctes.append(
            f"""a{r} AS (
  SELECT vec_id, cluster_id, d2 FROM (
    SELECT vec_id, cluster_id, d2,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster_id) AS rn
    FROM d{r}
  ) WHERE rn = 1
)"""
        )
        if r < _KM_ROUNDS - 1:
            ctes.append(
                f"""c{r + 1} AS (
  SELECT prev.cluster_id, prev.pos,
         coalesce(upd.c_new, prev.c) AS c
  FROM c{r} prev LEFT JOIN (
    SELECT a.cluster_id, q.pos,
           CAST(CAST(sum(q.q) AS BIGINT) // count(*) AS BIGINT) AS c_new
    FROM a{r} a JOIN ql q ON q.vec_id = a.vec_id
    GROUP BY a.cluster_id, q.pos
  ) upd ON upd.cluster_id = prev.cluster_id AND upd.pos = prev.pos
)"""
            )
    last = _KM_ROUNDS - 1
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT cs.cluster_id,
       CAST(coalesce(pr.n_members, 0) AS BIGINT) AS n_members,
       CAST(coalesce(pr.member_id_sum, 0) AS BIGINT) AS member_id_sum,
       CAST(coalesce(pr.inertia, 0) AS BIGINT) AS inertia,
       cs.centroid_sum
FROM (
  SELECT cluster_id, CAST(sum(c) AS BIGINT) AS centroid_sum
  FROM c{last} GROUP BY cluster_id
) cs
LEFT JOIN (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
         CAST(sum(vec_id) AS BIGINT) AS member_id_sum,
         CAST(sum(d2) AS BIGINT) AS inertia
  FROM a{last} GROUP BY cluster_id
) pr ON pr.cluster_id = cs.cluster_id
ORDER BY cs.cluster_id
"""
    )


ORACLE_KMEANS_PROFILE = _kmeans_oracle()


def sql_asof_quotes(n_seg: int = 50) -> str:
    """Oracle for ``q_asof_quotes`` at an arbitrary segment count (the
    driver pins n_seg=50; tests replay n_seg >> cores)."""
    return f"""
WITH ev AS (
  SELECT event_id, CAST(user_id % {n_seg} AS BIGINT) AS segment,
         epoch_us(ts) AS event_us
  FROM events WHERE user_id IS NOT NULL
),
bounds AS (SELECT min(event_us // 3600000000) AS mn,
                  max(event_us // 3600000000) AS mx FROM ev),
segs AS (SELECT unnest(range(0, {n_seg})) AS segment),
hours AS (SELECT unnest(generate_series(mn, mx)) AS h FROM bounds),
ticks AS (
  SELECT DISTINCT segment, tick_us, quote_fp FROM (
    SELECT s.segment,
           h.h * 3600000000 + ((s.segment * 97) % 3600) * 1000000 AS tick_us,
           (h.h * 31 + s.segment * 7) % 1000 + 100 AS quote_fp
    FROM hours h, segs s
    UNION ALL
    SELECT s.segment, b.mn * 3600000000,
           (b.mn * 31 + s.segment * 7) % 1000 + 100
    FROM bounds b, segs s
  )
)
SELECT e.event_id, e.segment, e.event_us, t.quote_fp,
       (e.event_us - t.tick_us) // 1000000 AS lag_sec
FROM ev e ASOF LEFT JOIN ticks t
  ON e.segment = t.segment AND e.event_us >= t.tick_us
ORDER BY event_id
"""


ORACLE_ASOF_QUOTES = sql_asof_quotes(50)


# target bytes per compacted output file at fixture scale; at 100 TB
# this is spark.sql.files.maxPartitionBytes-sized (128-512 MB)
_COMPACT_TARGET = 256 * 1024


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner -- the table-maintenance pass
    every 100 TB lake needs: given a file inventory (path, size),
    assign files to target-sized output bins and emit the per-bin
    manifest (file count, total bytes, id range).  Greedy
    order-preserving packing: a file's bin is
    ``cumulative_bytes_before div target``, the same rule Spark's own
    file-scan packing (maxPartitionBytes) applies, so bins are
    contiguous in (source, doc_id) order and the plan is a pure
    function of the inventory.

    The documents table stands in for the inventory (doc_id = file id,
    n_chars = file bytes, source = table/partition).

    Exactness: all-integer (BIGINT cumulative sums, integer div).

    Scale shape: the window runs over file METADATA (one row per
    file -- millions of rows at 100 TB, not the data itself),
    partitioned by source so each partition's running sum is
    independent; the output is one row per BIN.  No data movement is
    planned here -- executing the plan is an embarrassingly parallel
    per-bin concat."""
    t = load_tables(spark, sf_dir, ["documents"])
    inv = t["documents"].select("doc_id", "source", "n_chars")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # integer div, not double `/`: a lake-scale cumulative byte count
    # exceeds 2^53 and double division would misplace bin boundaries
    binned = inv.withColumn(
        "__before", F.coalesce(F.sum("n_chars").over(w), F.lit(0)).cast("long")
    ).withColumn("bin_id", F.expr(f"__before div {_COMPACT_TARGET}"))
    return (
        binned.groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("n_chars").cast("long").alias("total_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "bin_id")
    )


ORACLE_COMPACTION_PLAN = f"""
WITH binned AS (
  SELECT source, doc_id, n_chars,
         CAST(coalesce(sum(n_chars) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) // {_COMPACT_TARGET} AS BIGINT) AS bin_id
  FROM documents
)
SELECT source, bin_id,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(n_chars) AS BIGINT) AS total_bytes,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM binned
GROUP BY source, bin_id
ORDER BY source, bin_id
"""


def specs() -> list[QuerySpec]:
    return [
        QuerySpec("props_json", q_props_json, ORACLE_PROPS_JSON,
                  "JSON-in-string extraction + weighted agg"),
        QuerySpec("doc_token_stats", q_doc_token_stats, ORACLE_TOKEN_STATS,
                  "token counting per document"),
        QuerySpec("tokenizer_fertility_audit", q_tokenizer_fertility_audit,
                  ORACLE_TOKENIZER_FERTILITY,
                  "per-language tokenizer fertility + bytes-per-token "
                  "compression audit"),
        QuerySpec("doc_quality", q_doc_quality, ORACLE_DOC_QUALITY,
                  "quality scoring: stopword/punct/length features"),
        QuerySpec("doc_language", q_doc_language, _oracle_language(),
                  "heuristic stopword-argmax language ID"),
        QuerySpec("doc_fingerprints", q_doc_fingerprints, ORACLE_FINGERPRINTS,
                  "md5 fingerprint exact-dup detection"),
        QuerySpec("doc_rolling_fingerprint", q_doc_rolling_fingerprint,
                  ORACLE_ROLLING_FINGERPRINT,
                  "wrapping-64-bit rolling fingerprint, HUGEINT-emulated oracle"),
        QuerySpec("ngram_jaccard_pairs", q_ngram_jaccard_pairs, ORACLE_NGRAM_JACCARD,
                  "token-set Jaccard near-dup over bounded candidates"),
        QuerySpec("doc_repetition", q_doc_repetition, ORACLE_DOC_REPETITION,
                  "Gopher-style repetition quality signals per doc"),
        QuerySpec("doc_clean", q_doc_clean, ORACLE_DOC_CLEAN,
                  "URL/email scrub + whitespace collapse transform"),
        QuerySpec("minhash_near_dup", q_minhash_near_dup, ORACLE_MINHASH,
                  "MinHash-LSH near-dup, full algorithm oracle-recomputed"),
        QuerySpec("minhash_near_dup_fast", q_minhash_near_dup_fast, None,
                  "xxhash64 MinHash-LSH (scale/bench flavor, rows-only)"),
        QuerySpec("near_dup_clusters", q_near_dup_clusters, ORACLE_CLUSTERS,
                  "LSH pairs -> connected components (recursive-CTE oracle)"),
        QuerySpec("near_dup_clusters_fast", q_near_dup_clusters_fast, None,
                  "clusters over xxhash64 pairs (scale/bench flavor, rows-only)"),
        QuerySpec("simhash", q_simhash, None,
                  "64-bit SimHash fingerprints (rows-only)"),
        QuerySpec("simhash_near_dup", q_simhash_near_dup, ORACLE_SIMHASH_PAIRS,
                  "SimHash near-dup, full algorithm oracle-recomputed"),
        QuerySpec("simhash_near_dup_fast", q_simhash_near_dup_fast, None,
                  "xxhash64 SimHash near-dup (scale/bench flavor, rows-only)"),
        QuerySpec("approx_distinct_users", q_approx_distinct_users, None,
                  "HLL++ approx distinct vs exact (rows-only)"),
        QuerySpec("approx_distinct_audit", q_approx_distinct_audit,
                  ORACLE_APPROX_DISTINCT_AUDIT,
                  "HLL++ relative error <= 15% pinned under the oracle"),
        QuerySpec("approx_quantiles_audit", q_approx_quantiles_audit,
                  ORACLE_APPROX_QUANTILES_AUDIT,
                  "quantile sketch within 5% of exact p50/p95 under the oracle"),
        QuerySpec("sorted_neighborhood_dedup", q_sorted_neighborhood_dedup,
                  ORACLE_SNM_DEDUP,
                  "multi-pass sorted-neighborhood near-dup (sort-based blocking)"),
        QuerySpec("fuzzy_record_linkage", q_fuzzy_record_linkage,
                  ORACLE_FUZZY_LINKAGE,
                  "edit-distance entity resolution with attribute blocking"),
        QuerySpec("table_profile_events", q_table_profile_events,
                  ORACLE_TABLE_PROFILE,
                  "per-column data profile (nulls/distinct/min/max/mode)"),
        QuerySpec("benford_digit_audit", q_benford_digit_audit,
                  ORACLE_BENFORD,
                  "Benford first-digit distribution audit over order totals"),
        QuerySpec("skew_key_report", q_skew_key_report,
                  ORACLE_SKEW_KEYS,
                  "top-20 heaviest keys with share and skew ratio "
                  "(salting planning input)"),
        QuerySpec("asof_quotes", q_asof_quotes,
                  ORACLE_ASOF_QUOTES,
                  "two-table as-of join (cogroup merge_asof) vs DuckDB "
                  "native ASOF JOIN"),
        QuerySpec("compaction_plan", q_compaction_plan,
                  ORACLE_COMPACTION_PLAN,
                  "small-file compaction planner: greedy cumulative-"
                  "bytes bin packing over the file inventory"),
        QuerySpec("kmeans_cluster_profile", q_kmeans_cluster_profile,
                  ORACLE_KMEANS_PROFILE,
                  "exact integer-quantized Lloyd's k-means replay "
                  "(3 rounds, empty-cluster carry, BIGINT inertia)"),
        QuerySpec("embedding_pq_audit", q_embedding_pq_audit,
                  ORACLE_EMBEDDING_PQ,
                  "product-quantization assignment + exact BIGINT "
                  "reconstruction error per subspace"),
        QuerySpec("ann_ivfpq_adc_audit", q_ann_ivfpq_adc_audit,
                  ORACLE_ANN_IVFPQ_ADC,
                  "IVF-PQ asymmetric-distance search, integer-exact "
                  "end-to-end (route, residual-encode, LUT, ADC rank)"),
        QuerySpec("png_decode", q_png_decode,
                  ORACLE_PNG_DECODE,
                  "real PNG codec round trip (zlib chunks, CRCs, "
                  "defiltering) vs format-spec oracle"),
        QuerySpec("video_frame_stats", q_video_frame_stats,
                  ORACLE_VIDEO_FRAME_STATS,
                  "frame-indexed video container + every-2nd-frame BMP "
                  "decode vs format-spec oracle"),
        QuerySpec("snapshot_diff", q_snapshot_diff,
                  ORACLE_SNAPSHOT_DIFF,
                  "full-outer snapshot change detection with per-column "
                  "change counts"),
        QuerySpec("audio_decode", q_audio_decode,
                  ORACLE_AUDIO_DECODE,
                  "real WAV/PCM16 encode+decode with format-spec oracle"),
        QuerySpec("audio_frame_energy", q_audio_frame_energy,
                  ORACLE_AUDIO_FRAMES,
                  "windowed audio frame energy (exact integer) over "
                  "real WAV payloads"),
        QuerySpec("stratified_sample", q_stratified_sample, None,
                  "seeded stratified sampleBy rollup (rows-only)"),
        QuerySpec("stratified_sample_audit", q_stratified_sample_audit,
                  ORACLE_STRATIFIED_AUDIT,
                  "sampleBy realized fraction within 5 binomial sd, "
                  "pinned under the oracle"),
        QuerySpec("embedding_norms", q_embedding_norms, ORACLE_EMBEDDING_NORMS,
                  "array math: per-label norms"),
        QuerySpec("similarity_topk", q_similarity_topk, ORACLE_SIMILARITY_TOPK,
                  "brute-force cosine top-k"),
        QuerySpec("embedding_near_dup", q_embedding_near_dup, ORACLE_EMBEDDING_NEAR_DUP,
                  "embedding-cosine near-dup, bounded candidates"),
        QuerySpec("embedding_lsh_near_dup", q_embedding_lsh_near_dup, None,
                  "int-quantized hyperplane LSH near-dup at the adaptive "
                  "operating point (rows-only; the family is oracle-checked "
                  "via embedding_lsh_near_dup_portable and semantic_dedup)"),
        QuerySpec("embedding_lsh_near_dup_portable", q_embedding_lsh_near_dup_portable,
                  ORACLE_EMB_LSH_PORTABLE,
                  "int-quantized hyperplane LSH, full algorithm oracle-recomputed"),
        QuerySpec("ann_ivf_topk", q_ann_ivf_topk, None,
                  "IVF-bucketed approximate top-k (rows-only)"),
        QuerySpec("ann_ivf_lossless_audit", q_ann_ivf_lossless_audit,
                  ORACLE_SIMILARITY_TOPK,
                  "full IVF machinery at nprobe=n_cells hash-verified "
                  "against the brute-force oracle"),
        QuerySpec("ann_recall_audit", q_ann_recall_audit,
                  ORACLE_ANN_RECALL_AUDIT,
                  "pruned IVF (nprobe=2/10) recall >= 0.9 per probe, "
                  "exact side recomputed by the oracle"),
        QuerySpec("ann_ivf_topk_quantized", q_ann_ivf_topk_quantized, None,
                  "IVF top-k over int8 corpus, dequantize-at-scoring "
                  "(rows-only; recall gate in tests)"),
        QuerySpec("multimodal_decode", q_multimodal_decode, ORACLE_MULTIMODAL_DECODE,
                  "real BMP codec: mapInPandas encode -> parse -> stats, "
                  "oracle recomputes arithmetically"),
        QuerySpec("multimodal_meta", q_multimodal_meta, ORACLE_MULTIMODAL_META,
                  "binary media metadata rollup"),
        QuerySpec("multimodal_features", q_multimodal_features,
                  ORACLE_MULTIMODAL_FEATURES,
                  "byte features over real BMP payloads, format-spec oracle"),
        QuerySpec("multimodal_frames", q_multimodal_frames,
                  ORACLE_MULTIMODAL_FRAMES,
                  "byte-stride frame sampling over real BMPs, layout oracle"),
        QuerySpec("multimodal_resize_real", q_multimodal_resize_real,
                  ORACLE_MULTIMODAL_RESIZE,
                  "real NN-downsample over the BMP codec, "
                  "oracle recomputes resized stats arithmetically"),
    ]


# --- product quantization audit ------------------------------------------------

# PQ geometry: 64-dim vectors split into 8 subspaces of 8 dims, 16
# codes per subspace -> a vector compresses to 8 half-byte-addressable
# codes (4 bytes vs 256 float bytes = 64x; vs the int8 tier's 4x).
_PQ_M = 8      # subspaces
_PQ_SUB = 8    # dims per subspace (= _KM_DIM / _PQ_M)
_PQ_K = 16     # codes per subspace


def q_embedding_pq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization audit: assign every vector's 8-dim
    subvectors to the nearest of 16 per-subspace codes and emit, per
    subspace, the vector count, distinct codes used, and the exact
    BIGINT total squared reconstruction error -- the PQ counterpart of
    ``embedding_quantize`` (int8, 4x) for the 100 TB ANN store where
    codes are what ships through shuffles and sits in the index
    (64x smaller than float32).

    Exactness recipe shared with ``kmeans_cluster_profile``: vectors
    quantize as floor(double(v) * 2^14) BIGINT; the codebook is the
    subvectors of the _PQ_K lowest vec_ids (deterministic seeding --
    codebook TRAINING quality is the k-means family's concern; this
    audit certifies the assignment/reconstruction machinery);
    distances are BIGINT sums of squared differences; argmin
    tie-breaks on (d2, code) struct-MIN.

    Scale shape: the codebook is M*K*SUB = 1024 rows at ANY corpus
    size and is BROADCAST; the corpus-side work is one long-form
    explode, one broadcast-join + (vec_id, m, code) partial-agg
    distance sum, one struct-MIN argmin, one M-row rollup.  No
    corpus-side self-join, nothing all-pairs."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    qv = _quantized_vectors(t["embeddings"])
    # ql feeds both the codebook build and the distance aggregate:
    # checkpoint so the scan+quantize+explode chain runs once (the
    # kmeans/recall-audit multi-consumer pattern)
    ql = (
        qv.select("vec_id", F.posexplode("qv").alias("p0", "q"))
        .select(
            "vec_id",
            (F.col("p0") / F.lit(_PQ_SUB)).cast("int").alias("m"),
            (F.col("p0") % F.lit(_PQ_SUB)).alias("j"),
            "q",
        )
        .localCheckpoint(eager=False)
    )
    seeds = (
        qv.orderBy("vec_id")
        .limit(_PQ_K)
        .select(
            "vec_id",
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("code"),
        )
    )
    book = seeds.join(ql, "vec_id").select(
        "m", "code", "j", F.col("q").alias("c")
    )
    d2 = (
        ql.join(F.broadcast(book), ["m", "j"])
        .groupBy("vec_id", "m", "code")
        .agg(F.sum(F.expr("(q - c) * (q - c)")).alias("d2"))
    )
    assign = (
        d2.groupBy("vec_id", "m")
        .agg(F.min(F.struct("d2", "code")).alias("__a"))
        .select(
            "vec_id",
            "m",
            F.col("__a.code").alias("code"),
            F.col("__a.d2").alias("d2"),
        )
    )
    return (
        assign.groupBy("m")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.countDistinct("code").cast("bigint").alias("codes_used"),
            F.sum("d2").cast("bigint").alias("total_sq_err"),
        )
        .withColumnRenamed("m", "subspace")
        .orderBy("subspace")
    )


ORACLE_EMBEDDING_PQ = f"""
WITH qv AS (
  SELECT vec_id,
         list_transform(embedding[1:{_KM_DIM}],
                        x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_QSCALE}) AS BIGINT)) AS qv
  FROM embeddings
),
p AS (SELECT unnest(range(0, {_KM_DIM})) AS p0),
ql AS (
  SELECT vec_id, CAST(p0 // {_PQ_SUB} AS INTEGER) AS m, p0 % {_PQ_SUB} AS j,
         qv[p0 + 1] AS q
  FROM qv, p
),
seeds AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM (SELECT vec_id FROM qv ORDER BY vec_id LIMIT {_PQ_K})
),
book AS (
  SELECT q.m, s.code, q.j, q.q AS c FROM seeds s JOIN ql q ON q.vec_id = s.vec_id
),
d2 AS (
  SELECT q.vec_id, q.m, b.code,
         CAST(sum((q.q - b.c) * (q.q - b.c)) AS BIGINT) AS d2
  FROM ql q JOIN book b ON b.m = q.m AND b.j = q.j
  GROUP BY q.vec_id, q.m, b.code
),
a AS (
  SELECT vec_id, m, code, d2 FROM (
    SELECT vec_id, m, code, d2,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rn
    FROM d2
  ) WHERE rn = 1
)
SELECT m AS subspace,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(count(DISTINCT code) AS BIGINT) AS codes_used,
       CAST(sum(d2) AS BIGINT) AS total_sq_err
FROM a
GROUP BY m
ORDER BY m
"""


# --- IVF-PQ asymmetric-distance search ------------------------------------------

# IVF-PQ geometry: _IVFPQ_C coarse cells, nprobe 2, PQ on RESIDUALS
# with the _PQ_M x _PQ_K codebook; 5 probe queries, top-10.
_IVFPQ_C = 8
_IVFPQ_NPROBE = 2
_IVFPQ_NQ = 5
_IVFPQ_TOPK = 10


def q_ann_ivfpq_adc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with asymmetric distance computation, hash-checked end
    to end -- the composition the 100 TB ANN store actually runs:
    coarse-quantize every vector to one of 8 cells, PQ-encode its
    RESIDUAL (8 subspaces x 16 codes), then answer queries by probing
    the 2 nearest cells and ranking candidates by the ADC lookup-table
    distance (sum over subspaces of the query-residual-to-code
    distance) -- candidates are never decoded.  Emits each query's
    top-10 (rank, vec_id, adc_d2).

    Exactness: the planted corpus (_planted_embeddings) quantizes as
    floor(x * 2^14) BIGINT; coarse centroids are the 8 lowest vec_ids'
    vectors, PQ codes the 16 lowest vec_ids' residuals (deterministic
    seeding -- codebook TRAINING is the k-means family's concern; this
    audit certifies routing, residual encoding, LUT construction, and
    ADC ranking).  Every distance is a BIGINT sum of squared integer
    differences; all argmins tie-break on (d2, id) struct-MIN; the
    final rank orders (adc_d2, vec_id).  DuckDB replays the whole
    pipeline bit-for-bit.  Quality under this untrained codebook is
    pinned in tests/test_ann_recall.py (mean recall@10 >= 0.4 vs the
    exact integer top-10; codebook-member queries reconstruct
    losslessly and rank themselves first at distance 0).

    Scale shape (r16 restructure, guide §2.4/§4.2 -- the kmeans
    collect-literal + Arrow pattern applied to the 5-stage replay):
    everything that is constant-sized at ANY corpus scale -- the
    _PQ_K seed vectors (whose _IVFPQ_C-prefix seeds the coarse
    centroids), the nq query vectors, and therefore the centroids,
    the PQ codebook, the probe lists and the full ADC LUT
    (nq x nprobe x M x K BIGINTs) -- is computed ONCE on the driver
    from two bounded collects (the kmeans-lite seeding class) in
    exact int64 arithmetic.  The corpus then crosses the Arrow
    boundary exactly once as slim (vec_id, qv) rows: one pass
    coarse-assigns, PQ-encodes the residual, and emits
    (query_id, vec_id, adc_d2) for the queries probing that vector's
    cell.  The old relational replay checkpointed the corpus-x-64
    exploded stream twice and shuffled five corpus-sized partial
    aggregates (cd2/assign/pd2/codes/scored); now the ONLY
    corpus-sized exchange left is the final per-query top-k window
    over the candidate rows, which are bounded by the probed cells
    (the IVF point).  Every distance is the same order-free BIGINT
    sum; all argmins keep the struct-min (d2, id) tie order (numpy
    argmin/stable argsort take the first minimum over ascending
    cell/code ids), so the result is bit-identical -- re-proven
    against the DuckDB oracle at sf0.001/0.01/0.1."""
    import numpy as np
    import pandas as pd

    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = _planted_embeddings(t["embeddings"])
    qv = _quantized_vectors(emb)

    assert _PQ_K >= _IVFPQ_C  # the seed collect's prefix is the cell seed set
    seed_rows = qv.orderBy("vec_id").limit(_PQ_K).collect()
    qry_rows = qv.filter(F.col("vec_id") < _IVFPQ_NQ).orderBy("vec_id").collect()

    out_schema = "query_id long, vec_id long, adc_d2 long"
    n_sub = _KM_DIM // _PQ_SUB  # M subspaces
    if not seed_rows or not qry_rows:
        # no seeds or no queries: the relational replay's scored set is
        # empty too (every row needs a centroid and a probing query)
        scored = spark.createDataFrame([], out_schema)
    else:
        seed_mat = np.stack(
            [np.asarray(r["qv"], dtype=np.int64) for r in seed_rows]
        )  # rows already ordered by vec_id => row index IS the code id
        cent = seed_mat[:_IVFPQ_C]  # prefix rows, row index IS the cell id

        def _cells_of(mat: "np.ndarray") -> "np.ndarray":
            # BIGINT d2 to every centroid; np.argmin returns the FIRST
            # minimum over ascending cell ids == struct-min (d2, cell)
            d2 = ((mat[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            return d2, np.argmin(d2, axis=1)

        _, seed_cells = _cells_of(seed_mat)
        seed_res = seed_mat - cent[seed_cells]
        # book[m, code, j]: code-th seed's residual in subspace m
        book = seed_res.reshape(-1, n_sub, _PQ_SUB).transpose(1, 0, 2)

        qmat = np.stack([np.asarray(r["qv"], dtype=np.int64) for r in qry_rows])
        qids = np.array([int(r["vec_id"]) for r in qry_rows], dtype=np.int64)
        qd2, _ = _cells_of(qmat)
        # row_number over (d2, cell) ascending, keep nprobe: a stable
        # argsort of d2 leaves equal distances in ascending-cell order
        probe_cells = np.argsort(qd2, axis=1, kind="stable")[:, :_IVFPQ_NPROBE]
        # ADC lookup tables, one (M, K) BIGINT grid per (query, probed
        # cell); and the probed-cell -> querying-queries index the
        # corpus pass emits against
        lut: dict = {}
        probed_by_cell: dict = {}
        for qi in range(qmat.shape[0]):
            for cell in probe_cells[qi]:
                qr = (qmat[qi] - cent[cell]).reshape(n_sub, 1, _PQ_SUB)
                lut[(qi, int(cell))] = ((qr - book) ** 2).sum(axis=2)
                probed_by_cell.setdefault(int(cell), []).append(qi)

        def _score(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.stack(
                    [np.asarray(v, dtype=np.int64) for v in pdf["qv"].to_numpy()]
                )
                vids = pdf["vec_id"].to_numpy()
                _, cells = _cells_of(mat)
                res = (mat - cent[cells]).reshape(len(pdf), n_sub, 1, _PQ_SUB)
                cd = ((res - book[None]) ** 2).sum(axis=3)  # (n, M, K)
                codes = np.argmin(cd, axis=2)  # first min == smallest code
                out = []
                for cell, qlist in probed_by_cell.items():
                    mask = cells == cell
                    if not mask.any():
                        continue
                    sel_codes = codes[mask]
                    sel_ids = vids[mask]
                    rng = np.arange(n_sub)[None, :]
                    for qi in qlist:
                        out.append(
                            pd.DataFrame(
                                {
                                    "query_id": np.full(
                                        len(sel_ids), qids[qi], dtype=np.int64
                                    ),
                                    "vec_id": sel_ids,
                                    "adc_d2": lut[(qi, cell)][
                                        rng, sel_codes
                                    ].sum(axis=1),
                                }
                            )
                        )
                if out:
                    yield pd.concat(out, ignore_index=True)

        scored = qv.mapInPandas(_score, out_schema)
    wr = Window.partitionBy("query_id").orderBy("adc_d2", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _IVFPQ_TOPK)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "vec_id",
            F.col("adc_d2").cast("bigint").alias("adc_d2"),
        )
        .orderBy("query_id", "rank")
    )


ORACLE_ANN_IVFPQ_ADC = f"""
WITH planted AS ({_SQL_PLANTED}),
qv AS (
  SELECT vec_id, list_transform(pv, x -> CAST(floor(x * {_KM_QSCALE}) AS BIGINT)) AS qv
  FROM planted
),
p AS (SELECT unnest(range(0, {_KM_DIM})) AS p0),
ql AS (SELECT vec_id, p0, qv[p0 + 1] AS q FROM qv, p),
cseeds AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
  FROM (SELECT vec_id FROM qv ORDER BY vec_id LIMIT {_IVFPQ_C})
),
cent AS (SELECT s.cell, q.p0, q.q AS c FROM cseeds s JOIN ql q ON q.vec_id = s.vec_id),
cd2 AS (
  SELECT q.vec_id, c.cell, CAST(sum((q.q - c.c) * (q.q - c.c)) AS BIGINT) AS d2
  FROM ql q JOIN cent c ON c.p0 = q.p0
  GROUP BY q.vec_id, c.cell
),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
    FROM cd2) WHERE rn = 1
),
res AS (
  SELECT q.vec_id, a.cell,
         CAST(q.p0 // {_PQ_SUB} AS INTEGER) AS m, q.p0 % {_PQ_SUB} AS j,
         q.q - c.c AS r
  FROM ql q JOIN assign a ON a.vec_id = q.vec_id
  JOIN cent c ON c.cell = a.cell AND c.p0 = q.p0
),
pseeds AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM (SELECT vec_id FROM qv ORDER BY vec_id LIMIT {_PQ_K})
),
book AS (SELECT r.m, s.code, r.j, r.r AS b FROM pseeds s JOIN res r ON r.vec_id = s.vec_id),
pd2 AS (
  SELECT r.vec_id, r.cell, r.m, b.code,
         CAST(sum((r.r - b.b) * (r.r - b.b)) AS BIGINT) AS d2
  FROM res r JOIN book b ON b.m = r.m AND b.j = r.j
  GROUP BY r.vec_id, r.cell, r.m, b.code
),
codes AS (
  SELECT vec_id, cell, m, code FROM (
    SELECT vec_id, cell, m, code,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rn
    FROM pd2) WHERE rn = 1
),
qry AS (SELECT vec_id AS query_id, p0, q AS xq FROM ql WHERE vec_id < {_IVFPQ_NQ}),
qcd2 AS (
  SELECT q.query_id, c.cell, CAST(sum((q.xq - c.c) * (q.xq - c.c)) AS BIGINT) AS d2
  FROM qry q JOIN cent c ON c.p0 = q.p0
  GROUP BY q.query_id, c.cell
),
probes AS (
  SELECT query_id, cell FROM (
    SELECT query_id, cell, row_number() OVER (PARTITION BY query_id ORDER BY d2, cell) AS rn
    FROM qcd2) WHERE rn <= {_IVFPQ_NPROBE}
),
qres AS (
  SELECT q.query_id, pr.cell,
         CAST(q.p0 // {_PQ_SUB} AS INTEGER) AS m, q.p0 % {_PQ_SUB} AS j,
         q.xq - c.c AS qr
  FROM qry q JOIN probes pr ON pr.query_id = q.query_id
  JOIN cent c ON c.cell = pr.cell AND c.p0 = q.p0
),
lut AS (
  SELECT r.query_id, r.cell, r.m, b.code,
         CAST(sum((r.qr - b.b) * (r.qr - b.b)) AS BIGINT) AS ld
  FROM qres r JOIN book b ON b.m = r.m AND b.j = r.j
  GROUP BY r.query_id, r.cell, r.m, b.code
),
scored AS (
  SELECT l.query_id, c.vec_id, CAST(sum(l.ld) AS BIGINT) AS adc_d2
  FROM codes c JOIN lut l ON l.cell = c.cell AND l.m = c.m AND l.code = c.code
  GROUP BY l.query_id, c.vec_id
)
SELECT query_id, rank, vec_id, adc_d2 FROM (
  SELECT query_id, vec_id, adc_d2,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_d2, vec_id) AS INTEGER) AS rank
  FROM scored) WHERE rank <= {_IVFPQ_TOPK}
ORDER BY query_id, rank
"""
