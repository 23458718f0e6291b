"""Edge-case tests for the corpus-preparation operators (round 3):
fixture parity checks cover the happy path; these pin the boundary
behavior that fixtures don't exercise."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F


def test_doc_chunks_short_doc_yields_single_chunk(spark, tmp_path):
    """A document shorter than the overlap still produces exactly one
    chunk containing every token."""
    from spark_streaming_postgres_lab2_spark.queries.corpus import (
        _CHUNK,
        _OVERLAP,
        _STRIDE,
    )

    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((n_tok - F.lit(_OVERLAP)) / F.lit(float(_STRIDE))).cast("int"),
    )
    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b c"), Row(doc_id=2, text="x")]
    ).select("doc_id", n_chunks.alias("n"))
    got = {r.doc_id: r.n for r in df.collect()}
    assert got == {1: 1, 2: 1}


def test_doc_chunks_counts_and_overlap(spark):
    """120 tokens, chunk 64 / stride 48: chunks start at 0 and 48 and
    96 -> ceil((120-16)/48) = 3 chunks; consecutive chunks share
    exactly 16 tokens."""
    from spark_streaming_postgres_lab2_spark.queries.corpus import (
        _CHUNK,
        _OVERLAP,
        _STRIDE,
    )

    words = [f"t{i}" for i in range(120)]
    starts = [i * _STRIDE for i in range(3)]
    chunks = [words[s : s + _CHUNK] for s in starts]
    assert chunks[0][-_OVERLAP:] == chunks[1][: _OVERLAP]
    # the operator's own arithmetic agrees
    import math

    assert max(1, math.ceil((120 - _OVERLAP) / _STRIDE)) == 3


def test_training_mix_sample_is_deterministic(spark, sf_dir):
    from spark_streaming_postgres_lab2_spark.queries.corpus import (
        q_training_mix_sample,
    )

    a = {(r.lang, r.n_total, r.n_sampled) for r in q_training_mix_sample(spark, sf_dir).collect()}
    b = {(r.lang, r.n_total, r.n_sampled) for r in q_training_mix_sample(spark, sf_dir).collect()}
    assert a == b
    # en keeps everything; zh samples strictly fewer than total
    by_lang = {lang: (tot, samp) for lang, tot, samp in a}
    assert by_lang["en"][0] == by_lang["en"][1]
    assert by_lang["zh"][1] < by_lang["zh"][0]


def test_embedding_quantize_zero_vector_safe(spark):
    """An all-zero vector must not divide by zero: scale falls back to
    1.0 and the quantized vector is all zeros with zero error."""
    from spark_streaming_postgres_lab2_spark.functions.similarity import dot  # noqa: F401
    from spark_streaming_postgres_lab2_spark.queries import corpus as C

    emb = spark.createDataFrame(
        [(1, [0.0] * 8, 0), (2, [1.0, -2.0] + [0.0] * 6, 0)],
        "vec_id long, embedding array<float>, label int",
    )
    emb.createOrReplaceTempView("__quant_probe")
    absmax = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    scaled = emb.withColumn(
        "__scale", F.when(absmax > 0, absmax / 127.0).otherwise(F.lit(1.0))
    )
    rows = {r["vec_id"]: r["__scale"] for r in scaled.collect()}
    assert rows[1] == 1.0
    assert abs(rows[2] - 2.0 / 127.0) < 1e-12


def test_sequence_packing_fill_ratio_overflow_semantics(spark):
    """Docs larger than the context window: pack ids advance by
    cumulative tokens, so a 1200-token doc after 0 tokens starts pack
    0 and the next doc starts pack 2 (1200/512) -- fill_ratio can
    exceed 1.0 only when the LAST pack is overfilled, which the
    accounting reports rather than hides."""
    from pyspark.sql import Window

    docs = spark.createDataFrame(
        [("s", 1, 1200), ("s", 2, 100), ("s", 3, 100)],
        "source string, doc_id long, __n_tok int",
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = docs.withColumn(
        "__pack_id",
        F.floor(F.coalesce(F.sum("__n_tok").over(w), F.lit(0)) / F.lit(512)),
    )
    got = {r["doc_id"]: r["__pack_id"] for r in packed.collect()}
    assert got == {1: 0, 2: 2, 3: 2}


# --- semantic (embedding) dedup -------------------------------------------------


def test_semantic_dedup_collapses_exact_duplicates(spark):
    """Three identical vectors (two labels) collapse to one kept vector
    (the minimum id); distinct one-hot vectors all survive.  Drives the
    same composition q_semantic_dedup uses: portable LSH pairs ->
    dedup_clusters keep-one."""
    from pyspark.sql import Row

    from spark_streaming_postgres_lab2_spark.functions.similarity import (
        dedup_clusters,
        embedding_near_dupes_lsh_portable,
    )

    dup = [0.5] * 64
    def onehot(i):
        v = [0.0] * 64
        v[i] = 1.0
        return v

    emb = spark.createDataFrame(
        [
            Row(vec_id=1, label=0, embedding=dup),
            Row(vec_id=2, label=0, embedding=dup),
            Row(vec_id=3, label=1, embedding=dup),
            Row(vec_id=4, label=1, embedding=onehot(0)),
            Row(vec_id=5, label=2, embedding=onehot(7)),
            Row(vec_id=6, label=2, embedding=onehot(13)),
        ]
    )
    pairs = embedding_near_dupes_lsh_portable(emb, threshold=0.4)
    clustered = dedup_clusters(
        emb, pairs, id_col="vec_id", pair_src="vec_id_1", pair_dst="vec_id_2"
    )
    kept = {r.vec_id for r in clustered.filter("is_canonical").collect()}
    assert kept == {1, 4, 5, 6}


def test_semantic_dedup_accounting_invariants(spark, sf_dir):
    """kept + dropped == n_vecs per label, totals cover the corpus,
    the dedup is non-vacuous on the fixtures, and the kept-id hash is
    deterministic across runs."""
    from spark_streaming_postgres_lab2_spark.queries.corpus import q_semantic_dedup
    from spark_streaming_postgres_lab2_spark.sources.tables import load_tables

    rows = q_semantic_dedup(spark, sf_dir).collect()
    n_emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"].count()
    assert all(r.kept_vecs + r.dropped_vecs == r.n_vecs for r in rows)
    assert sum(r.n_vecs for r in rows) == n_emb
    assert sum(r.dropped_vecs for r in rows) > 0
    again = {r.label: r.kept_ids_hash for r in q_semantic_dedup(spark, sf_dir).collect()}
    assert {r.label: r.kept_ids_hash for r in rows} == again


def test_training_mix_upsample_rates(spark, sf_dir):
    """Whole-rate languages replicate exactly; fractional rates land
    within 5 binomial standard deviations of the target; unknown
    languages (none in the fixture) would default to 1 copy."""
    import math

    from spark_streaming_postgres_lab2_spark.queries.corpus import (
        _UPSAMPLE_RATES,
        q_training_mix_upsample,
    )

    rows = {r.lang: r for r in q_training_mix_upsample(spark, sf_dir).collect()}
    for lang, rate in _UPSAMPLE_RATES.items():
        if lang not in rows:
            continue
        r = rows[lang]
        whole, frac = int(rate), rate - int(rate)
        if frac == 0.0:
            assert r.total_copies == whole * r.n_docs
        else:
            extras = r.total_copies - whole * r.n_docs
            sd = math.sqrt(r.n_docs * frac * (1 - frac))
            assert abs(extras - frac * r.n_docs) <= 5 * sd + 1e-9
        assert abs(r.realized_rate - r.total_copies / r.n_docs) < 1e-3


# --- adaptive portable LSH (r6: semantic_dedup scale fix) ---------------------


def test_adaptive_portable_kl_integer_thresholds():
    """The k-rule is pure integer comparisons at the boundaries of the
    float rule round(log2(n/128)) -- the property that lets the DuckDB
    oracle replay it from count(*) (VERDICT r5 item 2)."""
    from spark_streaming_postgres_lab2_spark.functions.similarity import (
        adaptive_portable_kl,
    )

    assert adaptive_portable_kl(0) == (4, 16)
    assert adaptive_portable_kl(500) == (4, 16)
    assert adaptive_portable_kl(2896) == (4, 16)
    assert adaptive_portable_kl(2897) == (5, 16)
    assert adaptive_portable_kl(5792) == (5, 16)
    assert adaptive_portable_kl(5793) == (6, 16)
    assert adaptive_portable_kl(10**9) == (6, 16)  # capped like production


def test_portable_cap_degrades_bucket_to_chain(spark):
    """With a cap smaller than a duplicate blob, the portable LSH emits
    exactly the vid-sorted adjacent chain (deterministic -- what the
    oracle's window replays) instead of all pairs; identical vectors
    all verify, so the blob stays one connected component."""
    from pyspark.sql import Row

    from spark_streaming_postgres_lab2_spark.functions.similarity import (
        embedding_near_dupes_lsh_portable,
    )

    dup = [0.25] * 64
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=dup) for i in range(1, 11)]
    )
    pairs = embedding_near_dupes_lsh_portable(
        emb, threshold=0.4, n_planes=4, n_tables=16, dim=64, max_bucket_size=4
    )
    got = {(r.vec_id_1, r.vec_id_2) for r in pairs.collect()}
    # every bucket holds all 10 copies (> cap=4), so candidates are the
    # 9 adjacent pairs only -- in every table, hence exactly once after
    # the distinct
    assert got == {(i, i + 1) for i in range(1, 10)}


def test_adaptive_equals_fixed_at_small_n(spark, sf_dir):
    """At driver scales (n <= 2896 -> k=4, no bucket over the cap) the
    adaptive plan is the SAME operating point as the r5-proven fixed
    (4,16) flavor, so the driver-green result is unchanged."""
    from spark_streaming_postgres_lab2_spark.functions.similarity import (
        adaptive_lsh_pairs_portable,
        embedding_near_dupes_lsh_portable,
    )
    from spark_streaming_postgres_lab2_spark.sources.tables import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    fixed = {
        (r.vec_id_1, r.vec_id_2, r.cosine_sim)
        for r in embedding_near_dupes_lsh_portable(
            emb, threshold=0.4, n_planes=4, n_tables=16, dim=64
        ).collect()
    }
    adaptive = {
        (r.vec_id_1, r.vec_id_2, r.cosine_sim)
        for r in adaptive_lsh_pairs_portable(emb, threshold=0.4, dim=64).collect()
    }
    assert adaptive == fixed


def test_incremental_dedup_tier_semantics(spark):
    """Crafted history + derived batch pin the tier split: exact dups
    drop in the exact tier only, near dups (not exact) in the near
    tier, fresh docs keep; the kept-id hash pins WHICH arrivals
    survive."""
    from pyspark.sql import Row

    import spark_streaming_postgres_lab2_spark.queries.corpus as corpus
    from spark_streaming_postgres_lab2_spark.queries.corpus import (
        _INC_ID_OFFSET,
        q_incremental_dedup,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            # 10 -> exact copy of 11's text; 15 -> near copy of 16;
            # 17 -> synthesized fresh
            Row(doc_id=10, source="a", text="other words entirely here now"),
            Row(doc_id=11, source="a", text=text),
            Row(doc_id=15, source="b", text="unused original fifteen text"),
            Row(doc_id=16, source="b", text=text),
            Row(doc_id=17, source="b", text="does not matter replaced anyway"),
        ]
    )
    orig = corpus.load_tables
    try:
        corpus.load_tables = lambda _s, _d, _t: {"documents": docs}
        got = {r.source: r for r in q_incremental_dedup(spark, "unused").collect()}
    finally:
        corpus.load_tables = orig
    a, b = got["a"], got["b"]
    # doc 10 arrived as an exact copy of 11 -> exact tier
    assert (a.n_new, a.dropped_exact, a.dropped_near, a.kept) == (1, 1, 0, 0)
    # doc 15 arrived as near copy of 16 (one appended token) -> near
    # tier; doc 17 arrived fresh -> kept
    assert (b.n_new, b.dropped_exact, b.dropped_near, b.kept) == (2, 0, 1, 1)
    import hashlib

    want = hashlib.md5(str(17 + _INC_ID_OFFSET).encode()).hexdigest()
    assert b.kept_ids_hash == want


def test_compaction_plan_bin_packing(spark):
    """Crafted inventory pins the greedy packing rule: bin_id =
    cumulative-bytes-BEFORE div target, per source in doc_id order --
    so a file that straddles the target lands in the bin its start
    offset falls in (Spark's own maxPartitionBytes packing rule), and
    sources pack independently."""
    import spark_streaming_postgres_lab2_spark.queries.ext as ext
    from spark_streaming_postgres_lab2_spark.queries.ext import (
        _COMPACT_TARGET,
        q_compaction_plan,
    )

    T = _COMPACT_TARGET
    rows = [
        # source "a": sizes chosen so cum-before = 0, T//2, T, then a
        # big straddler starting inside bin 1
        Row(doc_id=1, source="a", n_chars=T // 2),
        Row(doc_id=2, source="a", n_chars=T // 2),
        Row(doc_id=3, source="a", n_chars=T // 2),
        Row(doc_id=4, source="a", n_chars=2 * T),
        # source "b": one tiny file -> its own bin 0 independent of "a"
        Row(doc_id=5, source="b", n_chars=10),
    ]
    df = spark.createDataFrame(rows)
    orig = ext.load_tables
    try:
        ext.load_tables = lambda _s, _d, _t: {"documents": df}
        got = {(r.source, r.bin_id): r for r in q_compaction_plan(spark, "x").collect()}
    finally:
        ext.load_tables = orig

    # docs 1,2 start at offsets 0 and T/2 -> bin 0; doc 3 starts at T
    # -> bin 1; doc 4 starts at 3T/2 -> bin 1 despite its 2T size
    assert set(got) == {("a", 0), ("a", 1), ("b", 0)}
    a0, a1, b0 = got[("a", 0)], got[("a", 1)], got[("b", 0)]
    assert (a0.n_files, a0.total_bytes, a0.first_doc, a0.last_doc) == (2, T, 1, 2)
    assert (a1.n_files, a1.total_bytes, a1.first_doc, a1.last_doc) == (
        2, T // 2 + 2 * T, 3, 4)
    assert (b0.n_files, b0.total_bytes) == (1, 10)


# --- round-9 additions: duplicate_ngrams / source_overlap_matrix /
# --- shard_manifest


def test_duplicate_ngrams_counts_docs_and_occurrences(spark):
    """Crafted corpus pins the census rules: a gram shared by two docs
    is reported with distinct-doc and total-occurrence counts; a gram
    confined to ONE doc never appears however often it repeats; short
    docs (< n tokens) match on their whole-text gram."""
    import spark_streaming_postgres_lab2_spark.queries.corpus as corpus
    from spark_streaming_postgres_lab2_spark.queries.corpus import (
        q_duplicate_ngrams,
    )

    eight = "a b c d e f g h"          # exactly one 8-gram
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, source="s1", text=eight),
            Row(doc_id=2, source="s1", text=eight),
            # 9 tokens starting with the same 8 -> grams [a..h], [b..i]:
            # a third occurrence of the shared gram
            Row(doc_id=3, source="s2", text=eight + " i"),
            # single-doc repetition: "z1..z8 z1..z8" repeats its grams
            # but no OTHER doc has them -> must not be reported
            Row(doc_id=4, source="s2",
                text="z1 z2 z3 z4 z5 z6 z7 z8 z1 z2 z3 z4 z5 z6 z7 z8"),
            # short docs: whole-text gram "x y" shared across two docs
            Row(doc_id=5, source="s3", text="x y"),
            Row(doc_id=6, source="s3", text="x y"),
        ]
    )
    orig = corpus.load_tables
    try:
        corpus.load_tables = lambda _s, _d, _t: {"documents": docs}
        got = {r.gram: r for r in q_duplicate_ngrams(spark, "unused").collect()}
    finally:
        corpus.load_tables = orig

    assert set(got) == {eight, "x y"}
    assert (got[eight].n_docs, got[eight].n_occurrences) == (3, 3)
    assert (got["x y"].n_docs, got["x y"].n_occurrences) == (2, 2)


def test_source_overlap_matrix_pair_semantics(spark):
    """Crafted sources pin the matrix rules: a pair's count is the
    number of DISTINCT grams both contain (within-source duplication
    and per-source multiplicity never inflate it), pairs are emitted
    once in (source_a < source_b) orientation, and disjoint sources
    produce no row."""
    import spark_streaming_postgres_lab2_spark.queries.corpus as corpus
    from spark_streaming_postgres_lab2_spark.queries.corpus import (
        q_source_overlap_matrix,
    )

    g1 = "g1 w2 w3 w4 w5 w6 w7 w8"
    g2 = "g2 w2 w3 w4 w5 w6 w7 w8"
    g3 = "g3 w2 w3 w4 w5 w6 w7 w8"
    docs = spark.createDataFrame(
        [
            # a and b share g1 (a holds it TWICE across two docs)
            Row(doc_id=1, source="a", text=g1),
            Row(doc_id=2, source="a", text=g1),
            Row(doc_id=3, source="b", text=g1),
            # b and c share g2 and g3; a has neither
            Row(doc_id=4, source="b", text=g2),
            Row(doc_id=5, source="b", text=g3),
            Row(doc_id=6, source="c", text=g2),
            Row(doc_id=7, source="c", text=g3),
            # c-only gram: no pair
            Row(doc_id=8, source="c", text="c9 w2 w3 w4 w5 w6 w7 w8"),
        ]
    )
    orig = corpus.load_tables
    try:
        corpus.load_tables = lambda _s, _d, _t: {"documents": docs}
        rows = q_source_overlap_matrix(spark, "unused").collect()
    finally:
        corpus.load_tables = orig

    got = {(r.source_a, r.source_b): r.n_shared_ngrams for r in rows}
    assert got == {("a", "b"): 1, ("b", "c"): 2}


def test_shard_manifest_matches_pure_python_mirror(spark):
    """Exact replay: bucket = md5-prefix-int mod buckets, pack in
    (md5(doc_id), doc_id) order, shard = floor(cum-chars-BEFORE /
    budget) -- recomputed in pure Python over a crafted corpus sized
    to force several shards per bucket and one budget-straddling
    document."""
    import hashlib
    from collections import defaultdict

    import spark_streaming_postgres_lab2_spark.queries.corpus as corpus
    from spark_streaming_postgres_lab2_spark.queries.corpus import (
        _N_SHARD_BUCKETS,
        _SHARD_CHARS,
        q_shard_manifest,
    )

    # 60 docs, char sizes cycling through small/medium/one straddler
    sizes = [(i, [137, 911, 2048, 4097 + 512][i % 4]) for i in range(60)]
    docs = spark.createDataFrame(
        [Row(doc_id=i, source="s", text="t", n_chars=n) for i, n in sizes]
    )

    def key(i: int) -> str:
        return hashlib.md5(str(i).encode()).hexdigest()

    expected: dict[tuple, list] = defaultdict(lambda: [0, 0])
    per_bucket: dict[int, list] = defaultdict(list)
    for i, n in sizes:
        k = key(i)
        per_bucket[int(k[:15], 16) % _N_SHARD_BUCKETS].append((k, i, n))
    for b, members in per_bucket.items():
        cum = 0
        for k, i, n in sorted(members):
            sid = cum // _SHARD_CHARS
            expected[(b, sid)][0] += 1
            expected[(b, sid)][1] += n
            cum += n

    orig = corpus.load_tables
    try:
        corpus.load_tables = lambda _s, _d, _t: {"documents": docs}
        rows = q_shard_manifest(spark, "unused").collect()
    finally:
        corpus.load_tables = orig

    got = {(r.bucket, r.shard_id): [r.n_docs, r.shard_chars] for r in rows}
    assert got == dict(expected)
    # global invariants: every doc lands exactly once, bytes conserved
    assert sum(v[0] for v in got.values()) == len(sizes)
    assert sum(v[1] for v in got.values()) == sum(n for _, n in sizes)


def test_substring_dedup_cut_first_kept_and_interval_union(spark):
    """Crafted corpus pins the cut rules: the corpus-FIRST occurrence
    (min (doc_id, pos)) of a duplicated gram is retained and every
    other occurrence is cut; overlapping cut windows in one document
    count their UNION, not their sum; short docs cut their whole-text
    gram span; docs with no duplicated gram lose nothing."""
    import spark_streaming_postgres_lab2_spark.queries.corpus as corpus
    from spark_streaming_postgres_lab2_spark.queries.corpus import (
        q_substring_dedup_cut,
    )

    g1 = "a b c d e f g h"                  # 8 tokens, one gram
    docs = spark.createDataFrame(
        [
            # first occurrences: g1 -> (1,1), g2=b..i -> (2,1)
            Row(doc_id=1, source="s", text=g1),
            Row(doc_id=2, source="s", text="b c d e f g h i"),
            # both grams of this 9-token doc are non-first duplicates:
            # windows [1,8] and [2,9] -> union 9, NOT 16
            Row(doc_id=3, source="s", text=g1 + " i"),
            # short-doc pair: whole-text gram, winlen = n_toks = 2
            Row(doc_id=4, source="s", text="x y"),
            Row(doc_id=5, source="s", text="x y"),
            # 16 tokens, only the leading g1 window is duplicated
            Row(doc_id=6, source="s",
                text=g1 + " q r s t u v w x9"),
        ]
    )
    orig = corpus.load_tables
    try:
        corpus.load_tables = lambda _s, _d, _t: {"documents": docs}
        rows = q_substring_dedup_cut(spark, "unused").collect()
    finally:
        corpus.load_tables = orig

    assert len(rows) == 1
    r = rows[0]
    # removed: doc3 union(1-8, 2-9)=9; doc5 short gram=2; doc6 window=8
    assert (r.n_docs, r.total_tokens, r.removed_tokens) == (6, 45, 19)
    assert r.retained_ratio == round(1 - 19 / 45, 4)


def test_train_eval_split_matches_hash_mirror_and_conserves(spark):
    """The 80/10/10 holdout routing replays exactly in pure Python
    (md5-prefix range compare), every document lands in exactly one
    split, and totals are conserved."""
    import hashlib
    from collections import Counter

    import spark_streaming_postgres_lab2_spark.queries.corpus as corpus
    from spark_streaming_postgres_lab2_spark.queries.corpus import (
        _SPLIT_TRAIN_HI,
        _SPLIT_VAL_HI,
        q_train_eval_split,
    )

    rows = [
        Row(doc_id=i, source="s", text="t", lang=["en", "de"][i % 2], n_chars=i + 1)
        for i in range(200)
    ]
    expected: Counter = Counter()
    chars: Counter = Counter()
    for r in rows:
        p = hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8]
        split = "train" if p < _SPLIT_TRAIN_HI else ("val" if p < _SPLIT_VAL_HI else "test")
        expected[(split, r.lang)] += 1
        chars[(split, r.lang)] += r.n_chars

    df = spark.createDataFrame(rows)
    orig = corpus.load_tables
    try:
        corpus.load_tables = lambda _s, _d, _t: {"documents": df}
        got = {(r.split, r.lang): r for r in q_train_eval_split(spark, "unused").collect()}
    finally:
        corpus.load_tables = orig

    assert {k: v.n_docs for k, v in got.items()} == dict(expected)
    assert {k: v.total_chars for k, v in got.items()} == dict(chars)
    assert sum(v.n_docs for v in got.values()) == len(rows)


def test_substring_dedup_cut_all_empty_source_ratio_is_null(spark):
    """ADVICE r9: a source whose documents are ALL empty/whitespace has
    sum(n_toks)=0; the 0/0 retained_ratio must be NULL on BOTH engines
    (nullif guard), not a Spark-NULL-vs-DuckDB-NaN divergence.  A
    mixed source alongside it stays exact."""
    import duckdb
    import pandas as pd

    import spark_streaming_postgres_lab2_spark.queries.corpus as corpus
    from spark_streaming_postgres_lab2_spark.queries.corpus import (
        ORACLE_SUBSTRING_DEDUP_CUT,
        q_substring_dedup_cut,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "source": ["empty", "empty", "mixed", "mixed"],
            "text": ["", "   ", "a b c", "a b c"],
            "lang": ["en"] * 4,
            "n_chars": [0, 3, 5, 5],
        }
    )
    docs = spark.createDataFrame(pdf)
    orig = corpus.load_tables
    try:
        corpus.load_tables = lambda _s, _d, _t: {"documents": docs}
        srows = {r.source: r for r in q_substring_dedup_cut(spark, "unused").collect()}
    finally:
        corpus.load_tables = orig

    con = duckdb.connect()
    con.register("documents", pdf)
    drows = {r[0]: r for r in con.sql(ORACLE_SUBSTRING_DEDUP_CUT).fetchall()}

    assert srows["empty"].retained_ratio is None
    assert drows["empty"][4] is None  # DuckDB agrees: NULL, not NaN/error
    # the non-degenerate source is unaffected by the guard: doc 4's
    # whole-text gram duplicates doc 3's -> 3 of 6 tokens removed
    assert (srows["mixed"].total_tokens, srows["mixed"].removed_tokens) == (6, 3)
    assert srows["mixed"].retained_ratio == 0.5
    assert drows["mixed"][2:] == (6, 3, 0.5)


def test_substring_dedup_cut_fast_equals_exact_under_cap(spark):
    """Pinned equivalence (VERDICT r9 item 5): on any corpus where no
    gram exceeds the occurrence cap, the capped one-window-pass flavor
    must reproduce the exact operator bit-for-bit -- same crafted
    corpus as the exact op's rule test, plus the sf0.001 fixture."""
    import spark_streaming_postgres_lab2_spark.queries.corpus as corpus
    from spark_streaming_postgres_lab2_spark.queries.corpus import (
        q_substring_dedup_cut,
        q_substring_dedup_cut_fast,
    )

    g1 = "a b c d e f g h"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, source="s", text=g1),
            Row(doc_id=2, source="s", text="b c d e f g h i"),
            Row(doc_id=3, source="s", text=g1 + " i"),
            Row(doc_id=4, source="s", text="x y"),
            Row(doc_id=5, source="s", text="x y"),
            Row(doc_id=6, source="s", text=g1 + " q r s t u v w x9"),
        ]
    )
    orig = corpus.load_tables
    try:
        corpus.load_tables = lambda _s, _d, _t: {"documents": docs}
        exact = sorted(map(tuple, q_substring_dedup_cut(spark, "u").collect()))
        fast = sorted(map(tuple, q_substring_dedup_cut_fast(spark, "u").collect()))
    finally:
        corpus.load_tables = orig
    assert fast == exact

    d = "/root/testdata/sf0.001"
    exact = sorted(map(tuple, q_substring_dedup_cut(spark, d).collect()))
    fast = sorted(map(tuple, q_substring_dedup_cut_fast(spark, d).collect()))
    assert fast == exact


def test_substring_dedup_cut_fast_cap_is_deterministic_lower_bound(spark):
    """Above the cap, the fast flavor leaves occurrences past the
    first ``max_occ`` (in corpus (doc_id, pos) order) uncut: removed
    tokens become a strict lower bound on a mass-duplication blob, and
    raising the cap past the blob size restores exactness."""
    import spark_streaming_postgres_lab2_spark.queries.corpus as corpus
    from spark_streaming_postgres_lab2_spark.queries.corpus import (
        q_substring_dedup_cut,
        q_substring_dedup_cut_fast,
    )

    blob = "a b c d e f g h"  # one 8-token gram, duplicated in every doc
    docs = spark.createDataFrame(
        [Row(doc_id=i, source="s", text=blob) for i in range(1, 11)]
    )
    orig = corpus.load_tables
    try:
        corpus.load_tables = lambda _s, _d, _t: {"documents": docs}
        exact = q_substring_dedup_cut(spark, "u").collect()[0]
        capped = q_substring_dedup_cut_fast(spark, "u", max_occ=3).collect()[0]
        uncapped = q_substring_dedup_cut_fast(spark, "u", max_occ=100).collect()[0]
    finally:
        corpus.load_tables = orig

    # exact: 10 copies, first kept -> 9 * 8 tokens removed
    assert exact.removed_tokens == 72
    # cap=3 keeps rn 2..3 as cut windows -> exactly 2 * 8 removed
    assert capped.removed_tokens == 16
    assert capped.removed_tokens < exact.removed_tokens
    assert tuple(uncapped) == tuple(exact)


def test_substring_dedup_cut_fast_oracle_replays_cap_cross_engine(spark):
    """r11 oracle upgrade (VERDICT r10 item 7): the driver fixture
    never exceeds the 64-occurrence cap (max gram count at sf0.01 is
    3), so the driver hash alone certifies only the exact path.  This
    test makes the CAP cross-engine: a 10-copy blob with cap=3 fires
    the rank predicate on both engines, alongside a below-cap source
    that must stay exact."""
    import duckdb
    import pandas as pd
    import pytest

    import spark_streaming_postgres_lab2_spark.queries.corpus as corpus
    from spark_streaming_postgres_lab2_spark.queries.corpus import (
        q_substring_dedup_cut_fast,
    )

    blob = "a b c d e f g h"  # one 8-token gram, duplicated in every doc
    texts = [blob] * 10 + ["p q r s t u v w", "p q r s t u v w", "lone text"]
    pdf = pd.DataFrame(
        {
            "doc_id": list(range(1, len(texts) + 1)),
            "source": ["blob"] * 10 + ["small"] * 3,
            "text": texts,
            "lang": ["en"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    docs = spark.createDataFrame(pdf)
    orig = corpus.load_tables
    try:
        corpus.load_tables = lambda _s, _d, _t: {"documents": docs}
        srows = sorted(
            map(tuple, q_substring_dedup_cut_fast(spark, "u", max_occ=3).collect())
        )
    finally:
        corpus.load_tables = orig

    con = duckdb.connect()
    con.register("documents", pdf)
    drows = sorted(map(tuple, con.sql(corpus._cut_oracle(3)).fetchall()))

    assert len(srows) == len(drows) == 2
    for s, d in zip(srows, drows):
        assert s[:4] == d[:4]
        assert s[4] == pytest.approx(d[4], abs=1e-9)
    by_src = {r[0]: r for r in srows}
    # cap=3 cuts only occurrences ranked 2..3 -> 2*8=16 of 80 removed
    # (exact would remove 72); the below-cap source stays exact (8 cut)
    assert by_src["blob"][1:4] == (10, 80, 16)
    assert by_src["small"][1:4] == (3, 18, 8)


def test_substring_dedup_cut_fast_plan_is_join_free(spark):
    """Both cut flavors run the one-window-pass plan since the r10
    reformulation (the fast twin's shape won and the exact op adopted
    it): NO join on the gram side (only the final per-doc rollup
    join), and the cap adds zero exchanges -- fast and exact plans
    shuffle identically."""
    from spark_streaming_postgres_lab2_spark.plans import checks
    from spark_streaming_postgres_lab2_spark.queries.corpus import (
        q_substring_dedup_cut,
        q_substring_dedup_cut_fast,
    )

    d = "/root/testdata/sf0.001"
    fast = q_substring_dedup_cut_fast(spark, d)
    exact = q_substring_dedup_cut(spark, d)
    assert checks.sort_merge_join_count(fast) + checks.broadcast_join_count(
        fast
    ) <= 1  # only the rollup join survives
    assert checks.shuffle_count(fast) == checks.shuffle_count(exact)
    assert set(checks.read_schema_columns(fast)) == {"doc_id", "source", "text"}


def test_unimax_null_lang_and_null_text_cross_engine(spark):
    """ADVICE r14: NULL lang / all-NULL text previously made the
    driver-side water-filling fold raise TypeError (sorted()/sum()
    over None) while the DuckDB oracle happily produced rows.  Both
    sides now normalize IDENTICALLY: lang NULL -> 'und' (merging with
    any literal 'und' mass), a NULL-text doc counts 0 tokens, and a
    zero-token language reports epochs_bp = 0 instead of dividing."""
    import duckdb
    import pandas as pd
    from pyspark.sql import Row

    import spark_streaming_postgres_lab2_spark.queries.corpus as corpus
    from spark_streaming_postgres_lab2_spark.queries.corpus import (
        ORACLE_UNIMAX,
        q_unimax_mix_allocation,
    )

    rows = [
        # NULL lang, 3 tokens -> merges into 'und'
        Row(doc_id=1, source="s", lang=None, text="a b c", n_chars=5),
        # literal 'und', 2 tokens -> und totals 5
        Row(doc_id=2, source="s", lang="und", text="d e", n_chars=3),
        # 'en' is ALL NULL text -> n_tokens 0, epochs_bp must be 0
        Row(doc_id=3, source="s", lang="en", text=None, n_chars=0),
        Row(doc_id=4, source="s", lang="de", text="a b c d e f g h", n_chars=15),
        Row(doc_id=5, source="s", lang="de", text="i j", n_chars=3),
    ]
    schema = "doc_id int, source string, lang string, text string, n_chars int"
    docs = spark.createDataFrame(rows, schema)
    orig = corpus.load_tables
    try:
        corpus.load_tables = lambda _s, _d, _t: {"documents": docs}
        got = {tuple(r) for r in q_unimax_mix_allocation(spark, "u").collect()}
    finally:
        corpus.load_tables = orig

    pdf = pd.DataFrame([r.asDict() for r in rows])
    con = duckdb.connect()
    con.register("documents", pdf)
    want = {tuple(r) for r in con.sql(ORACLE_UNIMAX).fetchall()}
    assert got == want
    by_lang = {t[0]: t for t in got}
    assert set(by_lang) == {"und", "en", "de"}
    assert by_lang["und"][1] == 5  # NULL-lang mass merged
    assert by_lang["en"][1:] == (0, 0, 1, 0)  # zero-token: no division


def test_embedding_decontaminate_shuffle_fallback_matches_broadcast(spark, sf_dir):
    """ADVICE r14: broadcasting the candidate pair set collects it to
    the driver, so a hot LSH bucket makes driver memory the real
    bound; ``broadcast_candidates=False`` is the documented escape
    hatch (shuffle keyed on train_vec_id).  The two paths must emit
    the SAME pair set -- the flag changes the exchange strategy, never
    the result."""
    from pyspark.sql import functions as F

    from spark_streaming_postgres_lab2_spark.functions.similarity import (
        adaptive_portable_kl,
        embedding_decontaminate_portable,
    )
    from spark_streaming_postgres_lab2_spark.sources.tables import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    is_eval = F.coalesce(F.col("label").isin(8, 9), F.lit(False))
    k, tables = adaptive_portable_kl(emb.count())
    kw = dict(threshold=0.2, n_planes=k, n_tables=tables)
    bcast = embedding_decontaminate_portable(
        emb.filter(~is_eval), emb.filter(is_eval), **kw
    )
    shuf = embedding_decontaminate_portable(
        emb.filter(~is_eval), emb.filter(is_eval),
        broadcast_candidates=False, **kw
    )
    got_b = {tuple(r) for r in bcast.collect()}
    got_s = {tuple(r) for r in shuf.collect()}
    assert got_b, "fixture yielded no pairs -- threshold too high to test"
    assert got_b == got_s
