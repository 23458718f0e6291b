"""Tests for the rows-only sampling/sketch/SimHash-LSH operators:
the driver only row-counts these, so their semantics are pinned here.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_streaming_postgres_lab2_spark.functions.similarity import (
    hamming64,
    simhash64,
    simhash_near_dupes,
)
from spark_streaming_postgres_lab2_spark.queries.ext import (
    _STRATA_FRACTIONS,
    q_approx_distinct_users,
    q_stratified_sample,
)
from spark_streaming_postgres_lab2_spark.sources.tables import load_tables
from conftest import round_half_up


def test_approx_distinct_within_5pct(spark, sf_dir):
    rows = q_approx_distinct_users(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.exact_users >= 0
        if r.exact_users > 0:
            rel_err = abs(r.approx_users - r.exact_users) / r.exact_users
            assert rel_err < 0.05, (r.event_type, r.approx_users, r.exact_users)


def test_stratified_sample_proportions(spark, sf_dir):
    t = load_tables(spark, sf_dir, ["events"])
    totals = {
        r.event_type: r.n
        for r in t["events"].groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    fractions = _STRATA_FRACTIONS  # the single source both queries sample with
    sampled = {r.event_type: r.sampled_rows for r in q_stratified_sample(spark, sf_dir).collect()}
    for etype, frac in fractions.items():
        if etype not in totals:
            continue
        expect = totals[etype] * frac
        # Bernoulli sampling: allow 4 sigma around the expectation
        sigma = (totals[etype] * frac * (1 - frac)) ** 0.5
        assert abs(sampled.get(etype, 0) - expect) <= 4 * sigma + 1, (
            etype,
            sampled.get(etype),
            expect,
        )


def test_stratified_sample_deterministic(spark, sf_dir):
    a = {r.event_type: r.sampled_rows for r in q_stratified_sample(spark, sf_dir).collect()}
    b = {r.event_type: r.sampled_rows for r in q_stratified_sample(spark, sf_dir).collect()}
    assert a == b


def test_simhash_near_dup_hamming_bound_and_order(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank"),
            (2, "the quick brown fox jumps over the lazy dog near the river edge"),
            (3, "completely different words about spark query engines and shuffles"),
            (4, "completely different words about spark query engines and shuffles"),
        ],
        "doc_id long, text string",
    )
    out = simhash_near_dupes(docs, max_hamming=8).collect()
    pairs = {(r.doc_id_1, r.doc_id_2): r.hamming for r in out}
    # identical docs: hamming 0, guaranteed found (pigeonhole: any pair
    # under 4 bit errors has a clean band in the 4 bands)
    assert pairs.get((3, 4)) == 0
    # short docs flip many bits on a one-word swap, so (1, 2) is NOT
    # guaranteed; every reported pair must respect order + threshold
    for (a, b), h in pairs.items():
        assert a < b
        assert 0 <= h <= 8


def test_simhash_near_dup_hamming_matches_fingerprints(spark):
    docs = spark.createDataFrame(
        [(i, f"shared common words everywhere plus token{i % 3} and token{i % 5}") for i in range(20)],
        "doc_id long, text string",
    )
    fp = {r.doc_id: r.simhash for r in simhash64(docs).collect()}
    out = simhash_near_dupes(docs, max_hamming=10).collect()
    assert out
    for r in out:
        expected = bin((fp[r.doc_id_1] ^ fp[r.doc_id_2]) & (2**64 - 1)).count("1")
        assert r.hamming == expected


def test_hamming64_column(spark):
    df = spark.createDataFrame([(0b1011, 0b0010)], "a long, b long")
    assert df.select(hamming64(F.col("a"), F.col("b")).alias("h")).first().h == 2


def test_oversized_bucket_degrades_to_spanning_chain(spark):
    """A duplicate cluster LARGER than max_bucket_size must stay
    connected (spanning chain), not vanish -- the mega-duplicate
    cluster is exactly what dedup must catch."""
    docs = spark.createDataFrame(
        [(i, "identical boilerplate text repeated across every copy") for i in range(30)],
        "doc_id long, text string",
    )
    out = simhash_near_dupes(docs, max_hamming=4, max_bucket_size=10).collect()
    assert out  # capped, but not dropped
    # all pairs are exact dups
    assert all(r.hamming == 0 for r in out)
    # union-find: the 30 copies must form ONE connected component
    parent = list(range(30))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in out:
        parent[find(int(r.doc_id_1))] = find(int(r.doc_id_2))
    assert len({find(i) for i in range(30)}) == 1


def test_approx_quantiles_audit_flags_and_exact_side(spark, sf_dir):
    """The audit emits exact interpolated percentiles (cross-checked
    against a numpy recomputation) and within-5% flags that hold on
    the fixture."""
    import numpy as np

    from spark_streaming_postgres_lab2_spark.queries.ext import (
        q_approx_quantiles_audit,
    )
    from spark_streaming_postgres_lab2_spark.sources.tables import load_tables

    rows = q_approx_quantiles_audit(spark, sf_dir).collect()
    assert rows and all(r.p50_within_5pct == 1 and r.p95_within_5pct == 1 for r in rows)

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    vals = {}
    for r in ev.select("event_type", "value").collect():
        if r.value is not None:
            vals.setdefault(r.event_type, []).append(r.value)
    for r in rows:
        v = np.array(sorted(vals[r.event_type]))
        # numpy 'linear' interpolation == Spark percentile == quantile_cont
        assert round_half_up(float(np.quantile(v, 0.5)), 4) == r.p50_exact
        assert round_half_up(float(np.quantile(v, 0.95)), 4) == r.p95_exact
