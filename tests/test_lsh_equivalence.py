"""VERDICT r2 item 6: pin the fast (xxhash64, JVM codegen) LSH family
to the portable (md5, DuckDB-oracle-checkable) twin.

Both families end with an EXACT verify stage (Jaccard for MinHash,
Hamming for SimHash), so for a corpus whose true near-dup pairs are
planted far above threshold -- and whose noise pairs are far below --
the two implementations must emit the *identical* verified pair set:
only candidate recall can differ, and planted dups make candidate
recall deterministic (collision probability ~= 1 at Jaccard ~0.9).
"""

from __future__ import annotations

import random

import pytest

from spark_streaming_postgres_lab2_spark.functions.similarity import (
    minhash_near_dupes,
    minhash_near_dupes_portable,
    simhash_near_dupes,
    simhash_near_dupes_portable,
)


@pytest.fixture(scope="module")
def planted_corpus(spark):
    """10 planted near-dup pairs (one-word edit on ~60-word docs,
    token-Jaccard ~0.95) + 20 disjoint-vocabulary noise docs."""
    rng = random.Random(99)
    vocab = [f"w{i:04d}" for i in range(5000)]
    rows, expected = [], set()
    for i in range(10):
        words = rng.sample(vocab, 60)
        edited = list(words)
        edited[30] = f"edit{i}"
        rows.append((i, " ".join(words)))
        rows.append((1000 + i, " ".join(edited)))
        expected.add((i, 1000 + i))
    for j in range(20):
        rows.append((2000 + j, " ".join(rng.sample(vocab, 60))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return df, expected


def _pairs(df):
    return {(r[0], r[1]) for r in df.select("doc_id_1", "doc_id_2").collect()}


def test_minhash_fast_equals_portable(spark, planted_corpus):
    docs, expected = planted_corpus
    fast = _pairs(minhash_near_dupes(docs, threshold=0.5))
    portable = _pairs(minhash_near_dupes_portable(docs, threshold=0.5))
    assert expected <= fast, f"fast missed planted pairs: {expected - fast}"
    assert expected <= portable, f"portable missed: {expected - portable}"
    assert fast == portable, (
        f"fast-only: {sorted(fast - portable)[:5]} "
        f"portable-only: {sorted(portable - fast)[:5]}"
    )


def test_simhash_fast_equals_portable(spark):
    """SimHash is bag-of-tokens (array_distinct + bit votes), so a
    token-reorder duplicate has Hamming 0 under BOTH hash families --
    always caught by banding (pigeonhole) -- while disjoint-vocabulary
    noise sits at Hamming ~32, always rejected by the exact verify.
    That makes strict pair-set equality deterministic.  (A one-word
    edit would NOT be: a Hamming-5 pair can spread its flips across
    all 4 portable bands and legitimately evade one family's blocking
    -- measured on this corpus -- which is recall, not a bug; the
    graded-Hamming behavior is covered by
    test_simhash_near_dup_small_hamming.)"""
    rng = random.Random(99)
    vocab = [f"w{i:04d}" for i in range(5000)]
    rows, expected = [], set()
    for i in range(10):
        words = rng.sample(vocab, 60)
        shuffled = list(words)
        rng.shuffle(shuffled)
        rows.append((i, " ".join(words)))
        rows.append((1000 + i, " ".join(shuffled)))
        expected.add((i, 1000 + i))
    for j in range(20):
        rows.append((2000 + j, " ".join(rng.sample(vocab, 60))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fast = _pairs(simhash_near_dupes(docs, max_hamming=8))
    portable = _pairs(simhash_near_dupes_portable(docs, max_hamming=8))
    assert expected <= fast, f"fast missed planted pairs: {expected - fast}"
    assert expected <= portable, f"portable missed: {expected - portable}"
    assert fast == portable, (
        f"fast-only: {sorted(fast - portable)[:5]} "
        f"portable-only: {sorted(portable - fast)[:5]}"
    )


def test_ngram_fast_equals_portable_on_planted_exact_dups(spark):
    """Pin ngram_jaccard_pairs (md5 min-shingle blocking) on planted
    EXACT copies.  Exact-copy planting makes the blocking
    deterministic: identical texts share the whole sampled-shingle set,
    so their min-hash fingerprints collide, while disjoint-3-gram noise
    shares no shingle string (a min-fp collision would need a raw
    128-bit hash collision) and the token-Jaccard verify (< 0.2)
    rejects anything that slipped.  The query must emit exactly the
    planted pair set, every pair at jaccard 1.0."""
    import spark_streaming_postgres_lab2_spark.queries.ext as ext
    from spark_streaming_postgres_lab2_spark.queries.ext import q_ngram_jaccard_pairs

    rng = random.Random(99)
    vocab = [f"w{i:04d}" for i in range(5000)]
    rows, expected = [], set()
    for i in range(10):
        text = " ".join(rng.sample(vocab, 60))
        rows.append((i, text))
        rows.append((1000 + i, text))
        expected.add((i, 1000 + i))
    for j in range(20):
        rows.append((2000 + j, " ".join(rng.sample(vocab, 60))))
    docs = spark.createDataFrame(
        [(d, "s", t, "en", len(t)) for d, t in rows],
        "doc_id long, source string, text string, lang string, n_chars long",
    )
    orig = ext.load_tables
    try:
        ext.load_tables = lambda _s, _d, _t: {"documents": docs}
        got = {(r.doc_id_1, r.doc_id_2): r.jaccard
               for r in q_ngram_jaccard_pairs(spark, "u").collect()}
    finally:
        ext.load_tables = orig
    assert set(got) == expected, (
        f"missing: {expected - set(got)} extra: {set(got) - expected}"
    )
    assert all(j == 1.0 for j in got.values())


def test_simhash_signature_partition_fast_equals_portable(spark):
    """VERDICT r12 item 5: pin q_simhash (the signature-only rows-only
    query, backed by xxhash64 ``simhash64``) to the oracled family's
    md5-nibble ``simhash_portable``.  SimHash is bag-of-DISTINCT-tokens,
    so a token-REORDER duplicate must get the IDENTICAL fingerprint in
    each family (Hamming 0 -- the invariance the signature query
    exports), while disjoint-vocabulary noise docs sit ~32 bits apart.
    The identical-signature PARTITION of the corpus must therefore
    equal the planted pairing under BOTH families -- signature-set
    equivalence, the same planted-dup pattern as the pair tests."""
    from spark_streaming_postgres_lab2_spark.functions.similarity import (
        simhash64,
        simhash_portable,
    )

    rng = random.Random(99)
    vocab = [f"w{i:04d}" for i in range(5000)]
    rows = []
    planted = set()
    for i in range(10):
        words = rng.sample(vocab, 60)
        shuffled = list(words)
        rng.shuffle(shuffled)
        rows.append((i, " ".join(words)))
        rows.append((1000 + i, " ".join(shuffled)))
        planted.add((i, 1000 + i))
    for j in range(20):
        rows.append((2000 + j, " ".join(rng.sample(vocab, 60))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    fast = {r.doc_id: r.simhash for r in simhash64(docs).collect()}
    portable = {r.doc_id: (r.sim_lo, r.sim_hi)
                for r in simhash_portable(docs).collect()}
    assert set(fast) == set(portable) == {d for d, _ in rows}
    for label, fps in (("fast", fast), ("portable", portable)):
        groups: dict = {}
        for d, fp in fps.items():
            groups.setdefault(fp, []).append(d)
        partition = {tuple(sorted(g)) for g in groups.values() if len(g) > 1}
        assert partition == {(i, 1000 + i) for i in range(10)}, (
            f"{label}: identical-signature partition != planted pairing: "
            f"{sorted(partition)[:5]}"
        )
