"""Corpus-preparation operators for a training-data pipeline: the
stages that come AFTER near-dup detection -- actually dropping rows.

- ``canonical_docs``: near-dup clusters -> keep exactly one canonical
  document per cluster (best quality, deterministic tie-break) ->
  per-source kept/dropped accounting.  The full pipeline an LLM corpus
  dedup actually runs, not just the pair list.
- ``training_mix_sample``: deterministic per-language sampling by md5
  prefix -- the "mix weights" stage of corpus assembly.  Hash-based
  sampling is reproducible across engines and resumable across runs
  (no RNG state), which is why production pipelines prefer it to
  rand(); lexicographic compare on the fixed-width lowercase hex
  prefix equals numeric compare, so DuckDB re-derives the exact rows.

Later additions (same oracle discipline): chunking/packing/quantize
(r3), decontamination + semantic/incremental dedup (r5-r6), and the
round-9 trio -- ``duplicate_ngrams`` (corpus-wide repeated-substring
census), ``source_overlap_matrix`` (cross-source contamination
matrix), ``shard_manifest`` (deterministic hash-shuffled byte-budget
training shards).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.similarity import connected_components, minhash_near_dupes_portable
from ..functions.text import clean_tokens, shingles
from ..sources.tables import load_tables
from . import QuerySpec
from .ext import _SQL_SHINGLES, _sql_minhash_pairs


def q_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-dedup with canonical selection: portable MinHash pairs
    -> connected components -> per-cluster arg-max on (n_chars,
    lowest doc_id) via struct MAX (one grouped aggregate with map-side
    combine -- no per-cluster sort, no window over the whole corpus)
    -> per-source kept/dropped counts."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"]
    pairs = minhash_near_dupes_portable(docs, threshold=0.5)
    # r15 restructure (guide §2.4/§3.1).  The old shape built member =
    # docs JOIN (docs LEFT JOIN components) -- the corpus joined twice,
    # both sort-merge against the statistics-free components table --
    # and then joined member AGAINST its own cluster-max a third time.
    # Everything the query emits decomposes into corpus-wide per-source
    # totals plus statistics over ONLY the docs that appear in a
    # near-dup pair (singletons are always kept):
    #   kept    = (n_docs - n_in_cc) + one-per-cluster argmax winners
    #   dropped = n_in_cc - winners
    # so the corpus is scanned twice with no corpus-wide shuffle (one
    # map-side per-source count; one broadcast inner join against the
    # bounded CC table), and the argmax + winner-per-source aggregates
    # run on the small in-cluster subset.  The winner's source rides
    # the SAME (n_chars, -doc_id) struct MAX as before as a trailing
    # field -- (n_chars, doc_id) is unique per cluster, so the trailing
    # field never participates in the comparison.  NULL doc_ids were
    # dropped by the old inner member-join; the filter keeps that.
    base = docs.select("doc_id", "source", "n_chars").filter(
        F.col("doc_id").isNotNull()
    )
    cc = connected_components(pairs)
    in_cc = base.join(cc, "doc_id").select("doc_id", "source", "n_chars", "component")
    winners = (
        in_cc.groupBy("component")
        .agg(
            F.max(
                F.struct(
                    F.col("n_chars"),
                    (-F.col("doc_id")).alias("__neg_id"),
                    F.col("source"),
                )
            ).alias("__best")
        )
        .groupBy(F.col("__best.source").alias("source"))
        .agg(F.count(F.lit(1)).alias("__kept_cc"))
    )
    cc_counts = in_cc.groupBy("source").agg(F.count(F.lit(1)).alias("__n_cc"))
    totals = base.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    n_cc = F.coalesce(F.col("__n_cc"), F.lit(0))
    kept_cc = F.coalesce(F.col("__kept_cc"), F.lit(0))
    # r15 (guide §3.1): cc_counts and winners are per-source aggregates
    # (rows bounded by the source count, ~20) but statistics-free, so
    # both left joins planned sort-merge; the hints make them broadcast.
    return (
        totals.join(F.broadcast(cc_counts), "source", "left")
        .join(F.broadcast(winners), "source", "left")
        .select(
            "source",
            "n_docs",
            (F.col("n_docs") - n_cc + kept_cc).alias("kept_docs"),
            (n_cc - kept_cc).alias("dropped_docs"),
        )
        .orderBy("source")
    )


# WITH-RECURSIVE prefix: portable-MinHash pairs -> undirected edges ->
# reachability closure -> min-id components.  Shared verbatim by
# ORACLE_CANONICAL_DOCS and ORACLE_DEDUP_CLUSTER_PROFILE so the two
# cluster consumers replay ONE candidate/CC recipe (byte-identical to
# the pre-r15 inline text -- the canonical_docs oracle hash, and
# therefore its content stamp, is unchanged by this extraction).
_SQL_MINHASH_COMPONENTS = (
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
__comp AS (SELECT src AS doc_id, min(node) AS cluster_id FROM __reach GROUP BY src)"""
)

ORACLE_CANONICAL_DOCS = (
    _SQL_MINHASH_COMPONENTS
    + """,
__member AS (
  SELECT d.doc_id, d.source, d.n_chars, c.cluster_id
  FROM documents d JOIN __comp c ON d.doc_id = c.doc_id
),
__flagged AS (
  SELECT source,
         row_number() OVER (
           PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id
         ) = 1 AS kept
  FROM __member
)
SELECT source,
       count(*) AS n_docs,
       count(CASE WHEN kept THEN 1 END) AS kept_docs,
       count(CASE WHEN NOT kept THEN 1 END) AS dropped_docs
FROM __flagged
GROUP BY source
ORDER BY source
"""
)


def q_dedup_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication profile -- the dedup REPORT a curation pipeline
    emits before committing to a cut: the near-dup cluster-size
    histogram with document and byte accounting (how much of the
    corpus sits in clusters of 2, of 3, ... -- the shape that decides
    whether dedup is worth a full pass and where the bucket caps must
    sit; singletons reported too, so the rows conserve the corpus).
    Same pair/CC machinery as canonical_docs (portable MinHash pairs
    at 0.5 -> connected components), then two tiny aggregates:
    per-cluster (size, chars), then per-SIZE (clusters, docs, chars).

    Scale shape: everything after the (already bucket-capped) pair
    stage aggregates on cluster_id then on cluster_size -- map-side
    combinable, output bounded by the largest clique size, never by
    corpus rows.  All BIGINT."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"]
    pairs = minhash_near_dupes_portable(docs, threshold=0.5)
    # r15 restructure (guide §2.4/§3.1): the old shape joined the
    # corpus against dedup_clusters' output -- itself corpus LEFT JOIN
    # components -- i.e. two corpus-wide sort-merge joins before the
    # first aggregate.  The cluster id is just coalesce(component,
    # doc_id), so ONE left join against the bounded (broadcast-hinted)
    # CC table replaces both.  NULL doc_ids were dropped by the old
    # inner join; the filter keeps that behavior.
    cc = connected_components(pairs)
    per_cluster = (
        docs.select("doc_id", "n_chars")
        .filter(F.col("doc_id").isNotNull())
        .join(cc, "doc_id", "left")
        .groupBy(F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("__size"),
            F.sum("n_chars").cast("long").alias("__chars"),
        )
    )
    return (
        per_cluster.groupBy(F.col("__size").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("__size").cast("long").alias("n_docs"),
            F.sum("__chars").cast("long").alias("total_chars"),
        )
        .orderBy("cluster_size")
    )


ORACLE_DEDUP_CLUSTER_PROFILE = (
    _SQL_MINHASH_COMPONENTS
    + """,
__per_cluster AS (
  SELECT c.cluster_id,
         CAST(count(*) AS BIGINT) AS sz,
         CAST(sum(d.n_chars) AS BIGINT) AS chars
  FROM documents d JOIN __comp c ON d.doc_id = c.doc_id
  GROUP BY c.cluster_id
)
SELECT sz AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(sz) AS BIGINT) AS n_docs,
       CAST(sum(chars) AS BIGINT) AS total_chars
FROM __per_cluster
GROUP BY sz
ORDER BY sz
"""
)


# per-language mix rates; 1.0 keeps everything (no hex compare -- a
# 9-hex-digit cutoff would break the fixed-width string comparison)
_MIX_RATES: dict[str, float] = {
    "en": 1.0,
    "de": 0.5,
    "fr": 0.5,
    "es": 0.25,
    "zh": 0.1,
}


def _cutoff_hex(rate: float) -> str:
    return format(int(rate * 16**8), "08x")


def q_training_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic language-weighted corpus sampling: keep a doc iff
    the first 8 hex chars of md5(doc_id) fall under the language's
    rate cutoff.  Pure JVM expressions (md5 + substring + string
    compare), one scan, no shuffle before the final rollup."""
    t = load_tables(spark, sf_dir, ["documents"])
    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    keep = F.lit(False)
    for lang, rate in _MIX_RATES.items():
        in_lang = F.col("lang") == lang
        keep = F.when(
            in_lang, F.lit(True) if rate >= 1.0 else prefix < _cutoff_hex(rate)
        ).otherwise(keep)
    return (
        t["documents"]
        .withColumn("__keep", keep)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(F.col("__keep"), 1)).alias("n_sampled"),
        )
        .orderBy("lang")
    )


_SQL_MIX_CASE = " ".join(
    f"WHEN lang = '{lang}' THEN "
    + ("TRUE" if rate >= 1.0 else f"substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{_cutoff_hex(rate)}'")
    for lang, rate in _MIX_RATES.items()
)

ORACLE_TRAINING_MIX = f"""
SELECT lang,
       count(*) AS n_total,
       count(CASE WHEN (CASE {_SQL_MIX_CASE} ELSE FALSE END) THEN 1 END) AS n_sampled
FROM documents
GROUP BY lang
ORDER BY lang
"""


# Per-language upsampling rates: the "epochs per dataset" half of
# corpus mixing (training_mix_sample covers rates <= 1).  rate = 2.5
# means every doc appears twice and md5-selected half of them a third
# time -- deterministic fractional replication, reproducible across
# engines and resumable across runs exactly like the downsampling
# flavor.
_UPSAMPLE_RATES: dict[str, float] = {
    "en": 1.0,
    "de": 2.5,
    "fr": 2.0,
    "es": 0.5,
    "zh": 3.25,
}


def q_training_mix_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic language-weighted UPsampling: each document gets
    floor(rate) copies plus one more iff the first 8 hex chars of
    md5(doc_id) fall under the fractional-part cutoff (for rate < 1
    this degenerates to the training_mix_sample rule).  Emits per-lang
    (n_docs, total_copies, realized_rate) -- the corpus-assembly
    manifest a mixing stage feeds the shuffler.

    Scale shape: one scan, one md5 + CASE projection, one map-side-
    combinable groupBy on lang; the replication itself (explode over
    sequence(1, n_copies)) is row-local when materialized -- no
    shuffle is ever keyed on the copy multiplicity."""
    t = load_tables(spark, sf_dir, ["documents"])
    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    # unknown languages default to exactly one copy (neutral weight)
    copies = F.lit(1)
    for lang, rate in _UPSAMPLE_RATES.items():
        whole, frac = int(rate), rate - int(rate)
        extra = (
            F.lit(0)
            if frac == 0.0
            else F.when(prefix < _cutoff_hex(frac), 1).otherwise(0)
        )
        copies = F.when(F.col("lang") == lang, F.lit(whole) + extra).otherwise(
            copies
        )
    return (
        t["documents"]
        .withColumn("__copies", copies)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("__copies").cast("bigint").alias("total_copies"),
            F.round(
                F.sum("__copies").cast("double") / F.count(F.lit(1)), 4
            ).alias("realized_rate"),
        )
        .orderBy("lang")
    )


def _upsample_case_sql() -> str:
    arms = []
    for lang, rate in _UPSAMPLE_RATES.items():
        whole, frac = int(rate), rate - int(rate)
        extra = (
            "0"
            if frac == 0.0
            else (
                "CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < "
                f"'{_cutoff_hex(frac)}' THEN 1 ELSE 0 END"
            )
        )
        arms.append(f"WHEN lang = '{lang}' THEN {whole} + {extra}")
    return " ".join(arms)


ORACLE_TRAINING_MIX_UPSAMPLE = f"""
WITH d AS (
  SELECT lang, (CASE {_upsample_case_sql()} ELSE 1 END) AS copies FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(copies) AS BIGINT) AS total_copies,
       round(CAST(sum(copies) AS DOUBLE) / count(*), 4) AS realized_rate
FROM d
GROUP BY lang
ORDER BY lang
"""


# --- UniMax budget allocation --------------------------------------------------

_UNIMAX_EPOCH_CAP = 4       # no language repeats more than 4 epochs
_UNIMAX_BUDGET_DEN = 2      # token budget = total corpus tokens DIV 2


def q_unimax_mix_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax language-budget allocation (Chung et al. 2023, "UniMax:
    Fairer and More Effective Language Sampling for Large-Scale
    Multilingual Pretraining") -- the budget-driven third member of
    the training-mix family: training_mix_sample downsamples at FIXED
    per-language rates, training_mix_upsample replicates at fixed
    rates, and UniMax derives the rates FROM THE DATA by
    water-filling a token budget under an epoch cap.  Languages are
    processed smallest-first; each gets an equal share of the
    remaining budget unless its whole corpus times the cap is smaller
    (it saturates, and the surplus flows to the larger languages) --
    temperature sampling's opaque exponent replaced by one
    interpretable knob (max epochs).

    Integer-exact so the whole allocation sits under the driver hash:
    whitespace token counts, budget = total DIV 2, ascending
    (n_tokens, lang) order, alloc = min(cap*n, R DIV k) with R the
    remaining budget and k the remaining language count, and the
    realized epoch rate reported in integer basis points
    (alloc*10000 DIV n).

    Scale shape: the corpus collapses to ONE map-side-combinable
    per-language token-count aggregate -- the only corpus-sized work;
    the water-filling fold then runs on the LANGUAGE table, which is
    tens of rows at ANY corpus scale (the vocabulary-sized-collect
    precedent of quality_classifier's freqItems), and the result
    returns as a literal frame.  The oracle replays the fold as a
    DuckDB recursive CTE over the same ascending order."""
    from ..functions import text as TX

    t = load_tables(spark, sf_dir, ["documents"])
    # NULL normalization, pinned IDENTICALLY in the oracle (r14 review
    # finding -- the driver fold raised TypeError on NULL lang /
    # all-NULL text instead of matching DuckDB): lang NULL -> 'und'
    # (BCP-47 undetermined), per-doc token count NULL -> 0, and a
    # zero-token language reports epochs_bp = 0 instead of dividing.
    counts = (
        t["documents"]
        .select(
            F.coalesce(F.col("lang"), F.lit("und")).alias("lang"),
            # NOT coalesce(token_count(...), 0): size(NULL) is -1
            # under Spark's legacy sizeOfNull default, so the NULL
            # guard must fire on the TEXT column itself
            F.when(F.col("text").isNull(), F.lit(0))
            .otherwise(TX.token_count("text"))
            .alias("__n"),
        )
        .groupBy("lang")
        .agg(F.sum("__n").cast("long").alias("n_tokens"))
        .collect()  # language-cardinality rows only (~tens at 100 TB)
    )
    ordered = sorted((r["n_tokens"], r["lang"]) for r in counts)
    total = sum(n for n, _l in ordered)
    remaining = total // _UNIMAX_BUDGET_DEN
    k = len(ordered)
    out = []
    for n, lang in ordered:
        fair = remaining // k
        alloc = min(_UNIMAX_EPOCH_CAP * n, fair)
        remaining -= alloc
        k -= 1
        out.append((
            lang, n, alloc,
            1 if alloc == _UNIMAX_EPOCH_CAP * n else 0,
            alloc * 10_000 // n if n else 0,
        ))
    return spark.createDataFrame(
        out,
        "lang string, n_tokens bigint, budget_alloc bigint, "
        "saturated int, epochs_bp bigint",
    ).orderBy("lang")


ORACLE_UNIMAX = f"""
WITH RECURSIVE counts AS (
  SELECT coalesce(lang, 'und') AS lang,
         CAST(sum(coalesce(len(string_split(text, ' ')), 0)) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
ordered AS (
  SELECT lang, n_tokens,
         row_number() OVER (ORDER BY n_tokens, lang) AS rn,
         count(*) OVER () AS n_langs,
         CAST(sum(n_tokens) OVER () AS BIGINT) AS total
  FROM counts
),
fold AS (
  SELECT CAST(0 AS BIGINT) AS rn,
         CAST(total // {_UNIMAX_BUDGET_DEN} AS BIGINT) AS remaining,
         n_langs AS k,
         CAST(NULL AS VARCHAR) AS lang,
         CAST(NULL AS BIGINT) AS n_tokens,
         CAST(NULL AS BIGINT) AS alloc
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.rn,
         f.remaining - least({_UNIMAX_EPOCH_CAP} * o.n_tokens, f.remaining // f.k),
         f.k - 1,
         o.lang, o.n_tokens,
         least({_UNIMAX_EPOCH_CAP} * o.n_tokens, f.remaining // f.k)
  FROM fold f JOIN ordered o ON o.rn = f.rn + 1
)
SELECT lang, n_tokens,
       alloc AS budget_alloc,
       CAST(CASE WHEN alloc = {_UNIMAX_EPOCH_CAP} * n_tokens THEN 1 ELSE 0 END
            AS INTEGER) AS saturated,
       CAST(CASE WHEN n_tokens = 0 THEN 0
                 ELSE alloc * 10000 // n_tokens END AS BIGINT) AS epochs_bp
FROM fold
WHERE rn > 0
ORDER BY lang
"""


def specs() -> list[QuerySpec]:
    return [
        QuerySpec("canonical_docs", q_canonical_docs, ORACLE_CANONICAL_DOCS,
                  "cluster dedup with canonical keep + kept/dropped accounting"),
        QuerySpec("dedup_cluster_profile", q_dedup_cluster_profile,
                  ORACLE_DEDUP_CLUSTER_PROFILE,
                  "near-dup cluster-size histogram with doc/byte "
                  "accounting (the dedup report)"),
        QuerySpec("training_mix_sample", q_training_mix_sample, ORACLE_TRAINING_MIX,
                  "deterministic md5-prefix language-weighted sampling"),
        QuerySpec("unimax_mix_allocation", q_unimax_mix_allocation,
                  ORACLE_UNIMAX,
                  "UniMax water-filling token-budget allocation across "
                  "languages under an epoch cap"),
        QuerySpec("embedding_quantize", q_embedding_quantize,
                  ORACLE_EMBEDDING_QUANTIZE,
                  "int8 symmetric quantization + reconstruction error"),
        QuerySpec("quality_percentile_filter", q_quality_percentile_filter,
                  ORACLE_QUALITY_PERCENTILE,
                  "corpus-relative percentile quality gate"),
        QuerySpec("doc_chunks", q_doc_chunks, ORACLE_DOC_CHUNKS,
                  "64-token/16-overlap context-window chunking"),
        QuerySpec("sequence_packing", q_sequence_packing,
                  ORACLE_SEQUENCE_PACKING,
                  "512-token greedy packing accounting per source"),
        QuerySpec("decontaminate", q_decontaminate, _decon_oracle(),
                  "train/eval cross-corpus near-dup, broadcast eval side"),
        QuerySpec("semantic_decontaminate", q_semantic_decontaminate,
                  _sem_decon_oracle(),
                  "embedding-cosine train/eval contamination: the "
                  "paraphrase tier the lexical decontaminators miss"),
        QuerySpec("semantic_dedup", q_semantic_dedup, _semantic_dedup_oracle(),
                  "SemDeDup-style embedding dedup: LSH pairs -> CC -> "
                  "keep-one, kept id-set hash pinned"),
        QuerySpec("incremental_dedup", q_incremental_dedup,
                  _incremental_dedup_oracle(),
                  "ingest-time exact+near dedup of a new batch against "
                  "history (broadcast new side)"),
        QuerySpec("training_mix_upsample", q_training_mix_upsample,
                  ORACLE_TRAINING_MIX_UPSAMPLE,
                  "deterministic fractional upsampling (epochs-per-dataset mix)"),
        QuerySpec("duplicate_ngrams", q_duplicate_ngrams,
                  ORACLE_DUPLICATE_NGRAMS,
                  "corpus-wide duplicated 8-gram census (top-K by doc reach)"),
        QuerySpec("source_overlap_matrix", q_source_overlap_matrix,
                  ORACLE_SOURCE_OVERLAP,
                  "per-source-pair shared-ngram contamination matrix"),
        QuerySpec("shard_manifest", q_shard_manifest,
                  ORACLE_SHARD_MANIFEST,
                  "deterministic hash-shuffle + byte-budget training shards"),
        QuerySpec("substring_dedup_cut", q_substring_dedup_cut,
                  ORACLE_SUBSTRING_DEDUP_CUT,
                  "exact-substring dedup cut: non-first duplicate 8-gram "
                  "windows removed, interval-union token accounting"),
        QuerySpec("substring_dedup_cut_fast", q_substring_dedup_cut_fast,
                  ORACLE_SUBSTRING_DEDUP_CUT_FAST,
                  "capped scale flavor of substring_dedup_cut: one "
                  "gram-window pass, per-gram occurrence cap; exact "
                  "under the cap (pinned), lower bound on blobs"),
        QuerySpec("train_eval_split", q_train_eval_split,
                  ORACLE_TRAIN_EVAL_SPLIT,
                  "deterministic 80/10/10 md5 holdout split manifest"),
    ]


# --- int8 embedding quantization --------------------------------------------


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per vector (scale = max|x| / 127)
    -- the storage/bandwidth lever for ANN at 100 TB: 4x smaller
    shuffles and bucket payloads, dequantize only at final scoring.
    Emits per-label reconstruction-error stats so the quality cost is
    measured, not assumed.  Pure array HOFs (transform/aggregate),
    no UDF; floor(x + 0.5) rounding keeps Spark and DuckDB
    bit-identical."""
    from ..functions.similarity import dequantize_vectors, quantize_vectors

    t = load_tables(spark, sf_dir, ["embeddings"])
    # the SAME helpers the ANN path uses (functions/similarity) -- this
    # oracle therefore certifies the shared quantization formula, not a
    # private copy of it
    emb = dequantize_vectors(
        quantize_vectors(
            t["embeddings"], vec_col="embedding", qvec_col="__qvec", scale_col="__scale"
        ),
        qvec_col="__qvec",
        scale_col="__scale",
        out_col="__deq",
    )
    err = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("__deq"),
            lambda x, d: F.pow(x.cast("double") - d, F.lit(2.0)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        emb.withColumn("__sqerr", err)
        .withColumn("__qmax", F.array_max(F.col("__qvec")))
        .withColumn("__qmin", F.array_min(F.col("__qvec")))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("__sqerr"), 6).alias("avg_sq_error"),
            F.max("__qmax").alias("q_max"),
            F.min("__qmin").alias("q_min"),
        )
        .orderBy("label")
    )


ORACLE_EMBEDDING_QUANTIZE = """
WITH q AS (
  SELECT label,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) / s + 0.5) AS INTEGER)) AS qvec,
         embedding, s
  FROM (
    SELECT label, embedding,
           CASE WHEN m > 0 THEN m / 127.0 ELSE 1.0 END AS s
    FROM (
      SELECT label, embedding,
             list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS m
      FROM embeddings
    )
  )
),
e AS (
  SELECT label, qvec,
         list_aggregate(
           list_transform(list_zip(embedding, qvec),
                          p -> pow(CAST(p[1] AS DOUBLE) - p[2] * s, 2)),
           'sum') AS sqerr
  FROM q
)
SELECT label,
       count(*) AS n_vectors,
       round(avg(sqerr), 6) AS avg_sq_error,
       max(list_aggregate(qvec, 'max')) AS q_max,
       min(list_aggregate(qvec, 'min')) AS q_min
FROM e
GROUP BY label
ORDER BY label
"""


# --- global-percentile quality gate ------------------------------------------


def q_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative quality gate: drop documents whose
    unique-token count sits below the corpus 25th percentile.  The
    cutoff is an exact percentile computed once and broadcast as a
    1-row frame (no per-row subquery, no second scan of the text
    payload); per-source kept/dropped accounting mirrors
    canonical_docs.  Integer-valued metric + .5-interpolation keeps
    Spark percentile() and DuckDB quantile_cont bit-identical."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].withColumn(
        "__uniq", F.array_size(F.array_distinct(F.split(F.col("text"), " ")))
    )
    cut = docs.agg(
        F.expr("percentile(__uniq, 0.25)").alias("__cut")
    )
    return (
        docs.crossJoin(F.broadcast(cut))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("__uniq") >= F.col("__cut"), 1)).alias("kept_docs"),
            F.count(F.when(F.col("__uniq") < F.col("__cut"), 1)).alias("dropped_docs"),
        )
        .orderBy("source")
    )


ORACLE_QUALITY_PERCENTILE = """
WITH u AS (
  SELECT source,
         len(list_distinct(string_split(text, ' '))) AS uniq
  FROM documents
),
c AS (SELECT quantile_cont(uniq, 0.25) AS cut FROM u)
SELECT source,
       count(*) AS n_docs,
       count(CASE WHEN uniq >= cut THEN 1 END) AS kept_docs,
       count(CASE WHEN uniq < cut THEN 1 END) AS dropped_docs
FROM u, c
GROUP BY source
ORDER BY source
"""


# --- context-window document chunking ----------------------------------------

_CHUNK, _OVERLAP = 64, 16
_STRIDE = _CHUNK - _OVERLAP


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-window chunking: split each document's token stream
    into 64-token chunks with 16-token overlap (stride 48).  One
    explode over a computed chunk-index sequence + array slice -- no
    UDF, no per-doc Python, the chunk count derives from n_tokens so
    the explode is exactly sized (no over-generate-and-filter).
    Chunk payloads stay as md5 fingerprints in the output so the
    parity check pins exact token content without shipping text."""
    t = load_tables(spark, sf_dir, ["documents"])
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n_tok - F.lit(_OVERLAP)) / F.lit(float(_STRIDE))).cast("int")
    )
    docs = t["documents"].select(
        "doc_id",
        toks.alias("__toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    chunk = F.slice(F.col("__toks"), F.col("chunk_id") * _STRIDE + 1, _CHUNK)
    return docs.select(
        "doc_id",
        "chunk_id",
        F.size(chunk).alias("chunk_n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
    ).orderBy("doc_id", "chunk_id")


ORACLE_DOC_CHUNKS = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n_tok
  FROM documents
),
e AS (
  SELECT doc_id, toks,
         unnest(range(0, greatest(1, CAST(ceil((n_tok - {_OVERLAP}) / {_STRIDE}.0) AS INTEGER)))) AS chunk_id
  FROM d
),
c AS (
  SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
         list_slice(toks, chunk_id * {_STRIDE} + 1, chunk_id * {_STRIDE} + {_CHUNK}) AS chunk
  FROM e
)
SELECT doc_id, chunk_id,
       CAST(len(chunk) AS INTEGER) AS chunk_n_tokens,
       md5(array_to_string(chunk, ' ')) AS chunk_hash
FROM c
ORDER BY doc_id, chunk_id
"""


# --- sequence packing --------------------------------------------------------

_CTX = 512


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length packing accounting: documents are packed
    greedily in stable doc_id order into 512-token bins per source
    (the concat-and-split strategy training pipelines use -- pack_id =
    floor(cumulative-tokens-before / ctx)).  One window shuffle keyed
    on source; sources pack independently, so the operator
    parallelizes across the corpus at any scale.  Output: per-source
    pack count and fill ratio (the padding-waste metric)."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select(
        "source", "doc_id", F.size(F.split(F.col("text"), " ")).alias("__n_tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = docs.withColumn(
        "__pack_id",
        F.floor(F.coalesce(F.sum("__n_tok").over(w), F.lit(0)) / F.lit(_CTX)),
    )
    return (
        packed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n_tok").cast("bigint").alias("total_tokens"),
            (F.max("__pack_id") + 1).cast("bigint").alias("n_packs"),
            F.round(
                F.sum("__n_tok") / ((F.max("__pack_id") + 1) * _CTX), 4
            ).alias("fill_ratio"),
        )
        .orderBy("source")
    )


ORACLE_SEQUENCE_PACKING = f"""
WITH d AS (
  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok
  FROM documents
),
p AS (
  SELECT source, n_tok,
         CAST(floor(coalesce(sum(n_tok) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / {_CTX}) AS BIGINT) AS pack_id
  FROM d
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(max(pack_id) + 1 AS BIGINT) AS n_packs,
       round(CAST(sum(n_tok) AS DOUBLE) / ((max(pack_id) + 1) * {_CTX}), 4) AS fill_ratio
FROM p
GROUP BY source
ORDER BY source
"""


# --- training/eval decontamination -------------------------------------------

_EVAL_SOURCES = ("src18", "src19")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: find TRAIN documents (sources other
    than src18/src19) that near-duplicate an EVAL document (src18/19).
    The asymmetric scale shape is the point: eval's banded signatures
    and shingle sets broadcast, the train corpus streams through one
    bucket probe + verify -- no train-train self-join, no shuffle of
    train at all (functions/similarity.py:minhash_decontaminate)."""
    from ..functions.similarity import minhash_decontaminate

    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"]
    is_eval = F.col("source").isin(*_EVAL_SOURCES)
    return minhash_decontaminate(
        docs.filter(~is_eval), docs.filter(is_eval), threshold=0.4
    ).orderBy("train_doc_id", "eval_doc_id")


def _decon_oracle() -> str:
    from .ext import _SQL_SHINGLES, sql_hs_sigs

    ev = ", ".join(f"'{s}'" for s in _EVAL_SOURCES)
    return (
        "WITH "
        + _SQL_SHINGLES
        + ",\n"
        + sql_hs_sigs(12)
        + f""",
__bands AS (
  SELECT doc_id, b.v AS band,
         md5(CAST(sig[CAST(b.v * 3 + 1 AS INTEGER)] AS VARCHAR) || '|' || CAST(sig[CAST(b.v * 3 + 2 AS INTEGER)] AS VARCHAR) || '|' || CAST(sig[CAST(b.v * 3 + 3 AS INTEGER)] AS VARCHAR)) AS band_key
  FROM __sigs, range(0, 4) b(v)
),
__ev AS (SELECT doc_id FROM documents WHERE source IN ({ev})),
__cand AS (
  SELECT DISTINCT t.doc_id AS train_doc_id, e.doc_id AS eval_doc_id
  FROM __bands t
  JOIN __bands e ON t.band = e.band AND t.band_key = e.band_key
  WHERE e.doc_id IN (SELECT doc_id FROM __ev)
    AND t.doc_id NOT IN (SELECT doc_id FROM __ev)
),
__verified AS (
  SELECT c.train_doc_id, c.eval_doc_id,
         round(CAST(len(list_intersect(st.sh, se.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(st.sh, se.sh))), 4) AS jaccard
  FROM __cand c
  JOIN __shd st ON st.doc_id = c.train_doc_id
  JOIN __shd se ON se.doc_id = c.eval_doc_id
)
SELECT train_doc_id, eval_doc_id, jaccard
FROM __verified
WHERE jaccard >= 0.4
ORDER BY train_doc_id, eval_doc_id
"""
    )


# --- semantic (embedding-space) decontamination -------------------------------

_SEM_DECON_EVAL_LABELS = (8, 9)  # embeddings analog of _EVAL_SOURCES


def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination -- the SEMANTIC member
    of the decontamination family: ``exact_ngram_decontaminate``
    catches verbatim n-gram overlap, ``decontaminate`` catches
    MinHash-Jaccard near-duplicates, and this tier catches PARAPHRASED
    contamination that shares no surface form with the benchmark --
    the gap the lexical tiers cannot see (the contamination class
    studied by Yang et al. 2023, "Rethinking Benchmark and
    Contamination for Language Models with Rephrased Samples").

    TRAIN vectors (labels outside {8,9}) are flagged when cosine
    similarity to ANY EVAL vector (labels 8-9) reaches 0.4.  Per
    flagged train vector: how many eval vectors it hits, the strongest
    hit, and the smallest hitting eval id (deterministic).

    Scale shape mirrors ``minhash_decontaminate`` exactly
    (functions/similarity.embedding_decontaminate_portable): the eval
    side's buckets AND vectors broadcast -- a benchmark suite is tiny
    vs a 100 TB corpus -- while train streams through one bucket probe
    plus a candidate-only verify; no train-train pair is ever formed
    and no train vector is exchanged.  Candidate pruning is the
    integer-quantized hyperplane LSH already oracle-proven by
    embedding_lsh_near_dup_portable, so DuckDB recomputes candidate
    generation bit-for-bit."""
    from ..functions.similarity import (
        adaptive_portable_kl,
        embedding_decontaminate_portable,
    )

    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"]
    # NULL labels are TRAIN: a bare isin is NULL for them, so ~isin
    # would drop the row from BOTH splits while the oracle's
    # NULL-rejecting `label IN (...)` counts it as train (r14 review
    # finding -- fixtures have no NULL labels, user corpora may)
    is_eval = F.coalesce(
        F.col("label").isin(*_SEM_DECON_EVAL_LABELS), F.lit(False)
    )
    # ONE metadata count picks k for both splits, exactly matching the
    # oracle's single count(*) FROM embeddings (two per-split count()
    # jobs would rescan the corpus twice at scale)
    k, tables = adaptive_portable_kl(emb.count())
    pairs = embedding_decontaminate_portable(
        emb.filter(~is_eval), emb.filter(is_eval),
        threshold=0.4, n_planes=k, n_tables=tables,
    )
    return (
        pairs.groupBy("train_vec_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval_hits"),
            F.max("cosine_sim").alias("max_cosine"),
            F.min("eval_vec_id").cast("bigint").alias("first_eval_id"),
        )
        .orderBy("train_vec_id")
    )


def _sem_decon_oracle() -> str:
    from .ext import sql_emb_adaptive_bucket_ctes

    ev = ", ".join(str(v) for v in _SEM_DECON_EVAL_LABELS)
    dot = (
        "list_aggregate(list_transform(list_zip(e1.embedding, e2.embedding), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')"
    )
    nrm = (
        "sqrt(list_aggregate(list_transform({e}.embedding, "
        "x -> CAST(x AS DOUBLE) * x), 'sum'))"
    )
    # shared adaptive-k relational bucketing prefix (one builder with
    # the near-dup oracle, so a bucket-math retune cannot fork the two
    # embedding oracles), then the asymmetric train x eval suffix
    # WITHOUT the bucket cap (a cap would silently drop train-eval
    # hits; see similarity.embedding_decontaminate_portable).  NULL
    # labels count as TRAIN on both sides (`label IN (...)` is
    # NULL-rejecting in the eval CTE, and the Spark side coalesces the
    # isin to false).
    return f"""WITH {sql_emb_adaptive_bucket_ctes()},
__ev AS (SELECT vec_id FROM embeddings WHERE label IN ({ev})),
__dcand AS (
  SELECT DISTINCT t.vec_id AS train_vec_id, e.vec_id AS eval_vec_id
  FROM __b t
  JOIN __b e ON t.bucket = e.bucket
  WHERE e.vec_id IN (SELECT vec_id FROM __ev)
    AND t.vec_id NOT IN (SELECT vec_id FROM __ev)
),
__dscore AS (
  SELECT d.train_vec_id, d.eval_vec_id,
         round({dot} / ({nrm.format(e="e1")} * {nrm.format(e="e2")}), 4) AS cosine_sim
  FROM __dcand d
  JOIN embeddings e1 ON e1.vec_id = d.train_vec_id
  JOIN embeddings e2 ON e2.vec_id = d.eval_vec_id
)
SELECT train_vec_id,
       CAST(count(*) AS BIGINT) AS n_eval_hits,
       max(cosine_sim) AS max_cosine,
       CAST(min(eval_vec_id) AS BIGINT) AS first_eval_id
FROM __dscore
WHERE cosine_sim >= 0.4
GROUP BY train_vec_id
ORDER BY train_vec_id
"""


# --- semantic (embedding-space) dedup -----------------------------------------


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup end-to-end: embedding-cosine
    near-dup pairs -> connected components -> keep exactly one
    representative per component (minimum vec_id) -> per-label
    kept/dropped accounting + an md5 over the KEPT id set, so the
    driver hash pins exactly WHICH vectors survive, not just how many.

    This is the embedding analog of canonical_docs: where SemDeDup
    (Abbas et al. 2023) restricts the pairwise-cosine search with
    k-means cells, this build restricts it with the integer-quantized
    hyperplane LSH already oracle-proven by
    embedding_lsh_near_dup_portable -- the same role (never all-pairs;
    candidates only within a bucket), but deterministic, so DuckDB
    recomputes candidate generation bit-for-bit.  Scale shape: slim
    (vid, bucket) explode -> payload-free bucket self-join ->
    survivors-only vector join (the proven LSH plan), alternating-star
    CC (O(log^2 n) rounds, no diameter bound), and keep-selection as a
    comparison against the component id -- no corpus-wide window, no
    driver loop beyond the size-gated CC path.

    r6 (VERDICT r5 item 2): the LSH now runs at the ADAPTIVE operating
    point *under the oracle* -- k from the integer-threshold rule
    ``adaptive_portable_kl`` (the oracle replays it from count(*)) and
    the deterministic vid-ordered bucket cap (the oracle replays it as
    a window; see ext.sql_emb_lsh_adaptive_pair_ctes).  The fixed
    (k=4,L=16) point was measured quadratic in candidates at sf1
    (124 s vs ~6 s adaptive); at the driver scales (n <= 2000) the
    adaptive rule picks the same k=4 and the cap never fires, so the
    r5-green result is unchanged there while sf1 is now scale-safe."""
    from ..functions.similarity import adaptive_lsh_pairs_portable

    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"]
    pairs = adaptive_lsh_pairs_portable(emb, threshold=0.4, dim=64)
    return semantic_dedup_accounting(emb, pairs)


def semantic_dedup_accounting(emb: DataFrame, pairs: DataFrame) -> DataFrame:
    """The dedup-decision half of semantic_dedup, over its LSH pairs:
    connected components -> keep-one (minimum vec_id) -> per-label
    kept/dropped counts + md5 over the kept id set.

    r15 restructure (guide §2.4): previously this went through
    dedup_clusters (corpus LEFT JOIN components) and then joined the
    corpus AGAIN onto that output to recover ``label`` -- two
    corpus-wide joins, both planned sort-merge against the
    statistics-free components table.  The component labels attach in
    ONE left join now (broadcast on the size-bounded driver CC path),
    and ``is_canonical`` is the same coalesce comparison dedup_clusters
    derives.  Join semantics vs the oracle are unchanged: the old
    inner member-join dropped NULL vec_ids, so the explicit filter
    keeps that behavior."""
    comps = connected_components(
        pairs, src="vec_id_1", dst="vec_id_2"
    ).withColumnRenamed("doc_id", "vec_id")
    member = (
        emb.select("vec_id", "label")
        .filter(F.col("vec_id").isNotNull())
        .join(comps, "vec_id", "left")
        .withColumn(
            "is_canonical",
            F.coalesce(F.col("component"), F.col("vec_id")) == F.col("vec_id"),
        )
    )
    kept_ids = F.array_sort(
        F.collect_list(F.when(F.col("is_canonical"), F.col("vec_id")))
    )
    return (
        member.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.count(F.when(F.col("is_canonical"), 1)).alias("kept_vecs"),
            F.count(F.when(~F.col("is_canonical"), 1)).alias("dropped_vecs"),
            F.md5(
                F.concat_ws(",", F.transform(kept_ids, lambda x: x.cast("string")))
            ).alias("kept_ids_hash"),
        )
        .orderBy("label")
    )


def _semantic_dedup_oracle() -> str:
    from .ext import sql_emb_lsh_adaptive_pair_ctes

    return (
        "WITH RECURSIVE "
        + sql_emb_lsh_adaptive_pair_ctes(threshold=0.4)
        + """,
__edges AS (
  SELECT vec_id_1 AS a, vec_id_2 AS b FROM __vpairs
  UNION ALL
  SELECT vec_id_2, vec_id_1 FROM __vpairs
),
__reach AS (
  SELECT vec_id AS src, vec_id AS node FROM embeddings
  UNION
  SELECT r.src, e.b FROM __reach r JOIN __edges e ON e.a = r.node
),
__comp AS (SELECT src AS vec_id, min(node) AS cluster_id FROM __reach GROUP BY src),
__member AS (
  SELECT e.label, c.vec_id, (c.vec_id = c.cluster_id) AS kept
  FROM embeddings e JOIN __comp c ON e.vec_id = c.vec_id
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(count(CASE WHEN kept THEN 1 END) AS BIGINT) AS kept_vecs,
       CAST(count(CASE WHEN NOT kept THEN 1 END) AS BIGINT) AS dropped_vecs,
       md5(coalesce(string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY vec_id)
                    FILTER (WHERE kept), '')) AS kept_ids_hash
FROM __member
GROUP BY label
ORDER BY label
"""
    )


# --- incremental (ingest-time) dedup -------------------------------------------

_INC_ID_OFFSET = 1_000_000  # new-batch ids live in a disjoint id space


def _incremental_new_batch(docs: DataFrame) -> DataFrame:
    """The deterministic 'new arrivals' batch both engines replay
    (the aligned self-augmentation pattern: the raw fixture has no
    cross-batch duplicates, so the batch is DERIVED so every outcome
    class is non-vacuous): docs with doc_id % 10 == 0 arrive as EXACT
    copies of their successor's text, % 10 == 5 as NEAR copies (one
    appended token), % 10 == 7 with SYNTHESIZED fresh text -- their
    own text verbatim would itself be an exact dup of its history
    copy (caught on the first oracle run: kept was 0 everywhere).
    New ids are offset into a disjoint id space."""
    nxt = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("__next_text")
    )
    fresh = F.concat(
        F.lit("fresh arrival number "),
        F.col("doc_id").cast("string"),
        F.lit(" with unseen content"),
    )
    return (
        docs.filter((F.col("doc_id") % 10).isin(0, 5, 7))
        .join(nxt, "doc_id", "left")
        .select(
            (F.col("doc_id") + _INC_ID_OFFSET).alias("doc_id"),
            "source",
            F.when(
                (F.col("doc_id") % 10 == 0) & F.col("__next_text").isNotNull(),
                F.col("__next_text"),
            )
            .when(
                (F.col("doc_id") % 10 == 5) & F.col("__next_text").isNotNull(),
                F.concat(F.col("__next_text"), F.lit(" extradoc")),
            )
            .otherwise(fresh)
            .alias("text"),
        )
    )


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup -- the ingest-time operator every continuously
    trained corpus needs: deduplicate a small batch of NEW documents
    against a large existing HISTORY without ever comparing history to
    itself.  Two tiers, mirroring production dedup stacks: an exact
    tier (content-hash equi-join) and a near tier (the portable MinHash
    banding with the NEW side's signatures BROADCAST -- the
    decontaminate asymmetry with the roles a live ingest has: history
    streams through one bucket probe, is never self-joined, never
    shuffled in full).

    Per-source accounting over the new batch (n_new / dropped_exact /
    dropped_near / kept) plus an md5 over the KEPT new ids, so the
    driver hash pins exactly which arrivals survive.  dropped_near
    counts only non-exact near-dups (the tiers are disjoint)."""
    from ..functions.similarity import minhash_decontaminate

    t = load_tables(spark, sf_dir, ["documents"])
    hist = t["documents"].select("doc_id", "text")
    new = _incremental_new_batch(t["documents"]).localCheckpoint(eager=False)
    exact_ids = (
        new.alias("n")
        .join(hist.alias("h"), F.md5(F.col("n.text")) == F.md5(F.col("h.text")), "left_semi")
        .select(F.col("doc_id"))
    )
    near_pairs = minhash_decontaminate(hist, new.select("doc_id", "text"), threshold=0.4)
    near_ids = near_pairs.select(
        F.col("eval_doc_id").alias("doc_id")
    ).distinct()
    # r15 (guide §3.1): both flag sides are bounded by the NEW batch
    # (exact_ids/near_ids are subsets of its doc_ids), but their
    # stats-free lineage planned SortMergeJoin LeftOuter twice --
    # shuffling the new batch and sorting both sides.  A small ingest
    # batch is this operator's contract, so broadcast is the correct
    # strategy at any corpus scale: new never shuffles.
    flagged = (
        new.join(
            F.broadcast(exact_ids.withColumn("__exact", F.lit(1))),
            "doc_id", "left",
        )
        .join(
            F.broadcast(near_ids.withColumn("__near", F.lit(1))),
            "doc_id", "left",
        )
        .select(
            "doc_id",
            "source",
            F.col("__exact").isNotNull().alias("is_exact"),
            F.col("__near").isNotNull().alias("is_near"),
        )
    )
    kept_ids = F.array_sort(
        F.collect_list(
            F.when(~F.col("is_exact") & ~F.col("is_near"), F.col("doc_id"))
        )
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_new"),
            F.count(F.when(F.col("is_exact"), 1)).cast("long").alias("dropped_exact"),
            F.count(F.when(~F.col("is_exact") & F.col("is_near"), 1))
            .cast("long")
            .alias("dropped_near"),
            F.count(F.when(~F.col("is_exact") & ~F.col("is_near"), 1))
            .cast("long")
            .alias("kept"),
            F.md5(
                F.concat_ws(",", F.transform(kept_ids, lambda x: x.cast("string")))
            ).alias("kept_ids_hash"),
        )
        .orderBy("source")
    )


def _incremental_dedup_oracle() -> str:
    from .ext import sql_hs_sigs, sql_shingles

    return (
        f"""WITH __newb AS (
  SELECT d.doc_id + {_INC_ID_OFFSET} AS doc_id, d.source,
         CASE WHEN d.doc_id % 10 = 0 AND d2.text IS NOT NULL THEN d2.text
              WHEN d.doc_id % 10 = 5 AND d2.text IS NOT NULL THEN d2.text || ' extradoc'
              ELSE 'fresh arrival number ' || CAST(d.doc_id AS VARCHAR) || ' with unseen content'
         END AS text
  FROM documents d
  LEFT JOIN documents d2 ON d2.doc_id = d.doc_id + 1
  WHERE d.doc_id % 10 IN (0, 5, 7)
),
__corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id, text FROM __newb
),
"""
        + sql_shingles("__corpus").strip().lstrip()
        + ",\n"
        + sql_hs_sigs(12)
        + f""",
__bands AS (
  SELECT doc_id, b.v AS band,
         md5(CAST(sig[CAST(b.v * 3 + 1 AS INTEGER)] AS VARCHAR) || '|' || CAST(sig[CAST(b.v * 3 + 2 AS INTEGER)] AS VARCHAR) || '|' || CAST(sig[CAST(b.v * 3 + 3 AS INTEGER)] AS VARCHAR)) AS band_key
  FROM __sigs, range(0, 4) b(v)
),
__cand AS (
  SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS hist_id
  FROM __bands n JOIN __bands h ON n.band = h.band AND n.band_key = h.band_key
  WHERE n.doc_id >= {_INC_ID_OFFSET} AND h.doc_id < {_INC_ID_OFFSET}
),
__near AS (
  SELECT DISTINCT c.new_id AS doc_id
  FROM __cand c
  JOIN __shd sn ON sn.doc_id = c.new_id
  JOIN __shd sh ON sh.doc_id = c.hist_id
  WHERE round(CAST(len(list_intersect(sn.sh, sh.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(sn.sh, sh.sh))), 4) >= 0.4
),
__exact AS (
  SELECT DISTINCT n.doc_id
  FROM __newb n JOIN documents h ON md5(n.text) = md5(h.text)
),
__flagged AS (
  SELECT n.doc_id, n.source,
         n.doc_id IN (SELECT doc_id FROM __exact) AS is_exact,
         n.doc_id IN (SELECT doc_id FROM __near) AS is_near
  FROM __newb n
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_new,
       CAST(count(CASE WHEN is_exact THEN 1 END) AS BIGINT) AS dropped_exact,
       CAST(count(CASE WHEN NOT is_exact AND is_near THEN 1 END) AS BIGINT) AS dropped_near,
       CAST(count(CASE WHEN NOT is_exact AND NOT is_near THEN 1 END) AS BIGINT) AS kept,
       md5(coalesce(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                    FILTER (WHERE NOT is_exact AND NOT is_near), '')) AS kept_ids_hash
FROM __flagged
GROUP BY source
ORDER BY source
"""
    )


# --- corpus-wide duplicated-substring census ----------------------------------

# 8-token grams, the GPT-3/PaLM decontamination granularity (same n as
# curation.exact_ngram_decontaminate -- this is the corpus-internal
# census, that one is the train-vs-eval check).
_DUP_NGRAM_N = 8
_DUP_TOP_K = 50


def q_duplicate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-substring census: the top-K verbatim
    8-token n-grams that appear in >= 2 distinct documents, with how
    many documents and total occurrences each has (the corpus-level
    repeated-substring mining of Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better" -- the diagnostic that
    tells you WHAT is duplicated before a substring-dedup pass decides
    what to cut).

    Scale shape: one linear shingle pass per document (no UDF), then
    one gram-keyed aggregation -- Catalyst's count-distinct rewrite
    plans it as TWO exchanges ((gram, doc_id) expand-dedup, then gram;
    PLANS_r09 xchg=2), both map-side partial-aggregated; the >= 2-docs
    filter runs post-aggregate so output is bounded by true
    duplication, and the top-K order/limit caps the result at K rows
    regardless of corpus size.  Nothing is ever joined -- a 100x
    corpus only widens the gram exchanges."""
    from ..sources.tables import spread_input

    t = load_tables(spark, sf_dir, ["documents"])
    # spread_input (r15, guide §2.5): the shingle + explode pass and
    # the first partial aggregate otherwise run single-task on the
    # one-split fixture scan.
    grams = spread_input(t["documents"]).select(
        "doc_id",
        F.explode(shingles(F.col("text"), _DUP_NGRAM_N)).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), "gram")
        .limit(_DUP_TOP_K)
    )


def _sql_dup_grams(n: int) -> str:
    """Unnested-gram CTE chain built ON curation._sql_grams -- the one
    committed DuckDB mirror of functions/text.shingles (empty docs ->
    no grams, short docs -> one whole-text gram).  Reusing it means a
    tokenizer/short-doc contract change cannot diverge the census
    oracles from the decontamination oracles."""
    from .curation import _sql_grams

    return (
        _sql_grams(n).strip()
        + """,
__g AS (
  SELECT doc_id, source, unnest(grams) AS gram FROM __grams
)"""
    )


ORACLE_DUPLICATE_NGRAMS = (
    "WITH "
    + _sql_dup_grams(_DUP_NGRAM_N)
    + f"""
SELECT gram,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM __g
GROUP BY gram
HAVING count(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, n_occurrences DESC, gram
LIMIT {_DUP_TOP_K}
"""
)


# --- cross-source contamination matrix ----------------------------------------


def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance-leakage matrix: for every source pair, the number of
    distinct 8-token n-grams both sources contain -- the
    crawl-overlap / mirror-site diagnostic a corpus audit runs before
    trusting per-source mix weights (two "different" sources sharing
    thousands of grams are the same underlying crawl).

    Scale shape: the naive formulation self-joins the exploded gram
    table (quadratic in gram frequency); this one never joins.  The
    distinct (gram, source) pairs aggregate to ONE row per gram whose
    payload is the sorted source set -- an array bounded by the number
    of SOURCES (~20), not by document count -- and the pair expansion
    is a row-local array transform over that bounded set.  Three
    exchanges total ((source, gram) distinct, gram group, pair rollup;
    PLANS_r09 xchg=3), all map-side combinable, all shrinking; output
    is bounded by sources^2/2."""
    from ..sources.tables import spread_input

    t = load_tables(spark, sf_dir, ["documents"])
    # spread_input (r15, guide §2.5): shingle + explode + the partial
    # distinct otherwise run single-task on the one-split fixture scan.
    gs = (
        spread_input(t["documents"])
        .select(
            "source",
            F.explode(
                F.array_distinct(shingles(F.col("text"), _DUP_NGRAM_N))
            ).alias("gram"),
        )
        .distinct()
    )
    per_gram = (
        gs.groupBy("gram")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") >= 2)
    )
    pairs = per_gram.select(
        F.explode(
            F.expr(
                "flatten(transform(srcs, (a, i) -> "
                "transform(slice(srcs, i + 2, size(srcs)), "
                "b -> named_struct('a', a, 'b', b))))"
            )
        ).alias("p")
    )
    return (
        pairs.groupBy(
            F.col("p.a").alias("source_a"), F.col("p.b").alias("source_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_ngrams"))
        .orderBy("source_a", "source_b")
    )


# The oracle replays the SEMANTICS (distinct grams shared per source
# pair) with the formulation DuckDB optimizes best -- a self-join over
# the distinct (source, gram) set; the Spark side's bounded-array
# expansion is the distributed-scale design, and the hash compare
# proves the two agree.
ORACLE_SOURCE_OVERLAP = (
    "WITH "
    + _sql_dup_grams(_DUP_NGRAM_N)
    + """,
__sg AS (
  SELECT DISTINCT source, gram FROM __g
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS n_shared_ngrams
FROM __sg a JOIN __sg b ON a.gram = b.gram AND a.source < b.source
GROUP BY 1, 2
ORDER BY 1, 2
"""
)


# --- training-shard manifest ---------------------------------------------------

# Shard construction constants: 8 hash buckets x 4 KiB (chars) shards
# keep the sf0.01 fixture at a few shards per bucket; production values
# (e.g. 1024 buckets x 1 GiB) change only these two literals.
_N_SHARD_BUCKETS = 8
_SHARD_CHARS = 4096


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest: deterministically shuffle the corpus
    (order by md5 of doc_id -- the reproducible, RNG-free global
    shuffle a training run needs for batch decorrelation) and pack the
    shuffled stream greedily into fixed-byte-budget shards
    (shard_id = floor(cumulative-chars-before / budget), the same
    concat-and-split rule sequence_packing pins for token bins).
    Emits per-shard document count and size -- the manifest a data
    loader consumes.

    Scale shape: a single GLOBAL sort would serialize on one reducer,
    so the shuffle key's low bits first route documents to one of
    ``_N_SHARD_BUCKETS`` independent buckets and the cumulative window
    runs PER BUCKET -- every bucket packs in parallel, and (bucket,
    shard_id) remains a stable global address.  At 100 TB the bucket
    count scales to the cluster (1024 buckets of ~100 GB each window
    locally); one exchange on bucket, window + rollup reuse it --
    no second shuffle."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, ["documents"])
    key = F.md5(F.col("doc_id").cast("string"))
    kint = F.conv(F.substring(key, 1, 15), 16, 10).cast("long")
    docs = t["documents"].select(
        F.pmod(kint, F.lit(_N_SHARD_BUCKETS)).cast("int").alias("bucket"),
        key.alias("__key"),
        "doc_id",
        "n_chars",
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("__key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sharded = docs.withColumn(
        "shard_id",
        F.floor(
            F.coalesce(F.sum("n_chars").over(w), F.lit(0)) / F.lit(_SHARD_CHARS)
        ).cast("bigint"),
    )
    return (
        sharded.groupBy("bucket", "shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("shard_chars"),
        )
        .orderBy("bucket", "shard_id")
    )


ORACLE_SHARD_MANIFEST = f"""
WITH d AS (
  SELECT doc_id, n_chars,
         md5(CAST(doc_id AS VARCHAR)) AS k,
         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
              % {_N_SHARD_BUCKETS} AS INTEGER) AS bucket
  FROM documents
),
s AS (
  SELECT bucket, n_chars,
         CAST(floor(coalesce(sum(n_chars) OVER (
           PARTITION BY bucket ORDER BY k, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / {_SHARD_CHARS}) AS BIGINT) AS shard_id
  FROM d
)
SELECT bucket, shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS shard_chars
FROM s
GROUP BY bucket, shard_id
ORDER BY bucket, shard_id
"""


# --- exact-substring dedup: the CUT stage -------------------------------------


def q_substring_dedup_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring deduplication (the CUT stage of Lee et al.
    2021): every occurrence of a cross-document duplicated 8-token
    gram EXCEPT the corpus-first one (min (doc_id, pos)) is a cut
    window; a document's removed-token count is the length of the
    UNION of its cut windows (overlapping windows must not
    double-count).  Emits per-source kept/removed token accounting --
    the measurement ``duplicate_ngrams`` (the census) feeds into an
    actual dedup decision.

    Scale shape (r10 reformulation, see ``_cut_windows``): three
    exchanges, none quadratic -- (1) ONE gram-partitioned window pass
    marking non-first occurrences of cross-doc grams (replaces the
    original gram-aggregate + equi-join, which re-shuffled the full
    occurrence stream on the join probe side; measured 2x at sf10),
    (2) the per-document interval-union window (running MAX of window
    end -- the sweep-line trick session_concurrency pins, partitioned
    by doc so no global sort), (3) the per-source rollup.  Window
    arithmetic is pure BIGINT; the ratio is display-only (round 4).
    The DuckDB oracle keeps the aggregate+join formulation, so the
    hash check certifies the two formulations equivalent."""
    return _cut_windows(spark, sf_dir, max_occ=None)


def _cut_windows(spark: SparkSession, sf_dir: str, max_occ: int | None) -> DataFrame:
    """Shared stage 2 of the cut flavors: mark cut occurrences with ONE
    gram-partitioned window pass -- row_number in corpus (doc_id, pos)
    order identifies the kept first occurrence (identical to the
    min-struct rule: (doc_id, pos) is unique per occurrence, so the
    rank-1 row IS the struct minimum), and min!=max doc_id over the
    same partition replays the >=2-distinct-docs rule.  ``max_occ``
    None = exact; with an integer, occurrences ranked beyond the first
    ``max_occ`` (a count that includes the always-kept first
    occurrence, so at most ``max_occ - 1`` are cut per gram) are left
    uncut -- the fast flavor's deterministic lower bound.

    This replaced the original gram-aggregate + equi-join formulation
    in round 10: the join probe side re-shuffled (and re-computed) the
    full occurrence stream, so the window pass -- one exchange, the
    distinct-docs check piggybacking on the ranking sort, the
    ``_cap_buckets`` trick -- is strictly less work for identical
    output.  Measured at sf10 on the adversarial all-duplicates shape:
    62.2s (join) -> 37.9s (window; SCALING.md r10 follow-up table).
    The DuckDB oracle deliberately
    KEEPS the aggregate+join formulation, so the hash check proves the
    two formulations equivalent (the source_overlap_matrix pattern)."""
    from pyspark.sql import Window

    base, occ = _cut_gram_occurrences(spark, sf_dir)
    w_ord = Window.partitionBy("gram").orderBy("doc_id", "pos")
    w_all = Window.partitionBy("gram").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ann = (
        occ.withColumn("__rn", F.row_number().over(w_ord))
        .withColumn(
            "__cross",
            F.min("doc_id").over(w_all) != F.max("doc_id").over(w_all),
        )
    )
    is_cut = F.col("__cross") & (F.col("__rn") > 1)
    if max_occ is not None:
        is_cut = is_cut & (F.col("__rn") <= max_occ)
    return _cut_rollup(base, ann.filter(is_cut))


def _cut_gram_occurrences(spark: SparkSession, sf_dir: str):
    """Shared stage 1 of the substring-dedup cut flavors: per-document
    token accounting plus the 1-based (pos, endpos) gram occurrence
    stream.  Extracted so the exact and capped flavors can never
    desynchronize on the token/position contract."""
    from ..sources.tables import spread_input

    t = load_tables(spark, sf_dir, ["documents"])
    # n_toks and __grams MUST share one token definition (clean_tokens,
    # the same expression shingles uses internally) or the
    # endpos = i + least(n_toks, n) arithmetic desynchronizes from the
    # gram array
    # spread_input (r15, guide §2.5): the tokenize + shingle + explode
    # pass -- both cut flavors' dominant per-row compute -- otherwise
    # runs single-task on the one-split fixture scan.
    base = spread_input(t["documents"]).select(
        "doc_id",
        "source",
        F.size(clean_tokens(F.col("text"))).alias("n_toks"),
        shingles(F.col("text"), _DUP_NGRAM_N).alias("__grams"),
    )
    # 1-based start pos; a short doc's single whole-text gram covers
    # n_toks tokens, a full gram covers _DUP_NGRAM_N
    occ = base.select(
        "doc_id",
        "source",
        "n_toks",
        F.posexplode("__grams").alias("i", "gram"),
    ).select(
        "doc_id",
        "gram",
        (F.col("i") + 1).alias("pos"),
        (F.col("i") + F.least(F.col("n_toks"), F.lit(_DUP_NGRAM_N))).alias(
            "endpos"
        ),
    )
    return base, occ


def _cut_rollup(base: DataFrame, cut: DataFrame) -> DataFrame:
    """Shared stage 3: per-document interval UNION of the cut windows
    (sweep-line running-max, partitioned by doc -- no global sort) and
    the per-source kept/removed rollup."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos", "endpos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    newly = F.greatest(
        F.lit(0),
        F.col("endpos")
        - F.greatest(
            F.coalesce(F.max("endpos").over(w), F.lit(0)), F.col("pos") - 1
        ),
    )
    per_doc = (
        cut.select("doc_id", "pos", "endpos")
        .withColumn("__newly", newly)
        .groupBy("doc_id")
        .agg(F.sum("__newly").alias("__removed"))
    )
    removed = F.coalesce(F.col("__removed"), F.lit(0))
    return (
        base.select("doc_id", "source", "n_toks")
        .join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("total_tokens"),
            F.sum(removed).cast("bigint").alias("removed_tokens"),
            # nullif guard: a source whose documents are ALL empty has
            # sum(n_toks)=0; 0/0 must be NULL on both engines (DuckDB
            # double division would raise/NaN, a latent divergence)
            F.round(
                F.lit(1.0)
                - F.sum(removed) / F.nullif(F.sum("n_toks"), F.lit(0)),
                4,
            ).alias("retained_ratio"),
        )
        .orderBy("source")
    )


#: deterministic per-gram occurrence cap for the _fast flavor -- the
#: LSH family's bucket-cap idea applied to the cut join: occurrences
#: of a gram beyond the first _CUT_OCC_CAP (in corpus (doc_id, pos)
#: order) are not cut, so removed_tokens is a LOWER BOUND on blob
#: corpora and exact whenever no gram exceeds the cap.
_CUT_OCC_CAP = 64


def q_substring_dedup_cut_fast(
    spark: SparkSession, sf_dir: str, max_occ: int = _CUT_OCC_CAP
) -> DataFrame:
    """Scale flavor of ``substring_dedup_cut`` (the *_fast twin
    pattern): identical semantics whenever every gram has at most
    ``max_occ`` occurrences corpus-wide, proven by a pinned-equivalence
    test on capped inputs; on mass-duplication blobs, occurrences past
    the cap are left uncut (removed_tokens becomes a deterministic
    lower bound) instead of flooding the per-doc interval stage.
    Oracle-checked since r11 (VERDICT r10 item 7): the cap is
    rank-defined, so the DuckDB side replays it exactly with a
    row_number over the same (gram; doc_id, pos) window while keeping
    every other stage in the aggregate+join formulation.

    Plan shape: identical to the exact flavor (both run the
    one-exchange gram-window pass of ``_cut_windows`` since the r10
    reformulation); the cap's value is bounding the per-doc interval
    stage's INPUT on mass-duplication blobs, where the uncapped cut
    set is the whole occurrence stream."""
    return _cut_windows(spark, sf_dir, max_occ=max_occ)


# The oracle re-derives positions with range() aligned to the same
# 1-based convention and replays the struct-MIN first-occurrence rule
# (DuckDB struct comparison is lexicographic by field order, exactly
# like Spark's struct MIN).  One builder produces both the exact and
# the capped flavor (r11, VERDICT r10 item 7): the cap is inherently
# rank-defined, so the capped oracle adds a row_number over the same
# (gram; doc_id, pos) window and keeps every other stage -- including
# the struct-MIN first-occurrence rule, deliberately NOT rewritten as
# rn = 1 -- in the original aggregate+join formulation, so the hash
# still certifies the two formulations equivalent.
def _cut_oracle(max_occ: int | None = None) -> str:
    rn_col = (
        ",\n         row_number() OVER"
        " (PARTITION BY gram ORDER BY doc_id, pos) AS rn"
        if max_occ is not None
        else ""
    )
    cap_pred = f"\n    AND o.rn <= {max_occ}" if max_occ is not None else ""
    return f"""
WITH __tok AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
__occ AS (
  SELECT doc_id, len(toks) AS n_toks,
         unnest(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
                     WHEN len(toks) < {_DUP_NGRAM_N} THEN [array_to_string(toks, ' ')]
                     ELSE list_transform(range(1, len(toks) - {_DUP_NGRAM_N - 2}),
                            i -> array_to_string(list_slice(toks, i, i + {_DUP_NGRAM_N - 1}), ' '))
                END) AS gram,
         unnest(CASE WHEN len(toks) = 0 THEN CAST([] AS BIGINT[])
                     WHEN len(toks) < {_DUP_NGRAM_N} THEN [CAST(1 AS BIGINT)]
                     ELSE range(1, len(toks) - {_DUP_NGRAM_N - 2})
                END) AS pos
  FROM __tok
),
__occ2 AS (
  SELECT doc_id, gram, pos,
         pos + least(n_toks, {_DUP_NGRAM_N}) - 1 AS endpos{rn_col}
  FROM __occ
),
__dup AS (
  SELECT gram, min(struct_pack(doc_id := doc_id, pos := pos)) AS first_occ
  FROM __occ2
  GROUP BY gram
  HAVING count(DISTINCT doc_id) >= 2
),
__cut AS (
  SELECT o.doc_id, o.pos, o.endpos
  FROM __occ2 o JOIN __dup d ON o.gram = d.gram
  WHERE NOT (o.doc_id = d.first_occ.doc_id AND o.pos = d.first_occ.pos){cap_pred}
),
__iv AS (
  SELECT doc_id,
         greatest(0, endpos - greatest(coalesce(max(endpos) OVER (
           PARTITION BY doc_id ORDER BY pos, endpos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), pos - 1)) AS newly
  FROM __cut
),
__doc AS (
  SELECT doc_id, sum(newly) AS removed FROM __iv GROUP BY doc_id
)
SELECT t.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(t.toks)) AS BIGINT) AS total_tokens,
       CAST(sum(coalesce(d.removed, 0)) AS BIGINT) AS removed_tokens,
       round(1.0 - CAST(sum(coalesce(d.removed, 0)) AS DOUBLE)
                   / nullif(sum(len(t.toks)), 0), 4) AS retained_ratio
FROM __tok t LEFT JOIN __doc d ON t.doc_id = d.doc_id
GROUP BY t.source
ORDER BY t.source
"""


ORACLE_SUBSTRING_DEDUP_CUT = _cut_oracle()
ORACLE_SUBSTRING_DEDUP_CUT_FAST = _cut_oracle(_CUT_OCC_CAP)


# --- deterministic train/val/test split manifest --------------------------------

# 80/10/10 by md5(doc_id) prefix -- the same engine-reproducible,
# resumable hash-split rule training_mix_sample pins for rates
_SPLIT_TRAIN_HI = _cutoff_hex(0.8)
_SPLIT_VAL_HI = _cutoff_hex(0.9)


def q_train_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split manifest: a document
    routes on the first 8 hex chars of md5(doc_id) (train < 0.8 cutoff
    <= val < 0.9 cutoff <= test), and the manifest reports per-split,
    per-language document and character counts -- the reproducible,
    RNG-free holdout assignment a training run needs (same doc lands
    in the same split on every engine and every rerun, and adding
    documents never reshuffles existing assignments).

    Scale shape: one scan, one md5 + two string-compare projections,
    one map-side-combinable groupBy on (split, lang) -- output bounded
    by 3 x languages."""
    t = load_tables(spark, sf_dir, ["documents"])
    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    split = (
        F.when(prefix < _SPLIT_TRAIN_HI, "train")
        .when(prefix < _SPLIT_VAL_HI, "val")
        .otherwise("test")
    )
    return (
        t["documents"]
        .select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("split", "lang")
    )


ORACLE_TRAIN_EVAL_SPLIT = f"""
SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{_SPLIT_TRAIN_HI}'
            THEN 'train'
            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{_SPLIT_VAL_HI}'
            THEN 'val'
            ELSE 'test' END AS split,
       lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY split, lang
ORDER BY split, lang
"""
