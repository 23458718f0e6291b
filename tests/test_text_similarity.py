"""Text operators + similarity/dedup families over real fixture data."""

from __future__ import annotations

import math

from pyspark.sql import Row
from pyspark.sql import functions as F

from spark_streaming_postgres_lab2_spark.functions import text as TX
from spark_streaming_postgres_lab2_spark.functions.similarity import (
    cosine,
    cosine_topk,
    hamming64,
    ivf_topk,
    minhash_near_dupes,
    simhash64,
)
from spark_streaming_postgres_lab2_spark.sources.tables import load_tables


def test_tokens_and_counts(spark):
    df = spark.createDataFrame([Row(text="the quick brown fox")])
    row = df.select(
        TX.token_count("text").alias("n"),
        TX.stopword_hits("text").alias("stop"),
    ).first()
    assert row["n"] == 4 and row["stop"] == 1


def test_shingles(spark):
    df = spark.createDataFrame([Row(text="a b c d")])
    row = df.select(TX.shingles("text", 3).alias("s")).first()
    assert row["s"] == ["a b c", "b c d"]
    short = spark.createDataFrame([Row(text="a b")])
    assert short.select(TX.shingles("text", 3).alias("s")).first()["s"] == ["a b"]


def test_shingles_empty_text_yields_no_shingles(spark):
    """Empty/whitespace docs must produce an EMPTY shingle array -- a
    shared degenerate shingle would put every empty doc in the same LSH
    band bucket (quadratic blob on mass-empty corpora)."""
    df = spark.createDataFrame(
        [Row(doc_id=1, text=""), Row(doc_id=2, text="   "), Row(doc_id=3, text=None)]
    )
    rows = df.select("doc_id", TX.shingles("text", 3).alias("s")).collect()
    got = {r["doc_id"]: r["s"] for r in rows}
    assert got[1] == [] and got[2] == []
    assert got[3] in (None, [])  # null text: no candidates either way


def test_minhash_empty_docs_produce_no_candidates(spark):
    from spark_streaming_postgres_lab2_spark.functions.similarity import (
        minhash_near_dupes,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="") for i in range(1, 21)]
        + [Row(doc_id=100, text="the quick brown fox jumps over the lazy dog"),
           Row(doc_id=101, text="the quick brown fox jumps over the lazy dog")]
    )
    pairs = minhash_near_dupes(docs, "doc_id", "text").collect()
    ids = {(r[0], r[1]) for r in pairs}
    # the 20 empty docs must NOT pair with each other; the true dup pair must
    assert (100, 101) in ids or (101, 100) in ids
    assert all(a >= 100 and b >= 100 for a, b in ids)


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [Row(a="Hello   World", b="hello world "), Row(a="x", b="y")]
    )
    rows = df.select(
        (TX.fingerprint_md5("a") == TX.fingerprint_md5("b")).alias("same")
    ).collect()
    assert rows[0]["same"] is True and rows[1]["same"] is False


def test_language_guess(spark):
    df = spark.createDataFrame(
        [
            Row(text="the cat is in the house and it is warm"),
            Row(text="der hund ist nicht mit der katze und das ist gut"),
            Row(text="zzz qqq www"),
        ]
    )
    got = [r[0] for r in df.select(TX.language_guess("text")).collect()]
    assert got == ["en", "de", "unknown"]


def test_cosine_matches_python(spark):
    df = spark.createDataFrame([Row(a=[1.0, 2.0, 3.0], b=[4.0, 5.0, 6.0])])
    got = df.select(cosine(F.col("a"), F.col("b")).alias("c")).first()["c"]
    expect = 32.0 / (math.sqrt(14) * math.sqrt(77))
    assert abs(got - expect) < 1e-12


def test_cosine_topk_self_similarity(spark, sf_dir):
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    out = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=5)
    rows = out.collect()
    assert len(rows) == 5
    assert all(r["query_id"] == 0 and r["vec_id"] != 0 for r in rows)
    sims = [r["cosine_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_kmeans_lite_recovers_planted_clusters(spark):
    import random

    rng = random.Random(1)
    rows = []
    for cid, axis in [(0, 0), (1, 20), (2, 40)]:
        for i in range(20):
            vec = [rng.uniform(-0.05, 0.05) for _ in range(64)]
            vec[axis] = 1.0
            rows.append((cid * 20 + i, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from spark_streaming_postgres_lab2_spark.functions.similarity import kmeans_lite

    assigned = kmeans_lite(emb, k=3, iters=3).collect()
    by_planted: dict[int, set] = {}
    for r in assigned:
        by_planted.setdefault(r["vec_id"] // 20, set()).add(r["cluster"])
    # each planted cluster maps to exactly one k-means cluster
    assert all(len(s) == 1 for s in by_planted.values())
    # and the three map to three distinct clusters
    assert len(set.union(*by_planted.values())) == 3


def test_ivf_recall_on_clustered_data(spark):
    """The driver's embeddings are random (no ANN structure), so IVF is
    exercised on planted clusters: 3 tight clusters around orthogonal
    axes.  nprobe=1 must recover the query's own cluster exactly."""
    import random

    rng = random.Random(0)
    rows = []
    for cid, axis in [(0, 0), (1, 20), (2, 40)]:
        for i in range(30):
            vec = [rng.uniform(-0.05, 0.05) for _ in range(64)]
            vec[axis] = 1.0  # dominant direction per cluster
            rows.append((cid * 30 + i, vec, cid))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    queries = emb.filter(F.col("vec_id").isin([0, 30, 60]))
    exact = cosine_topk(emb, queries, k=5).collect()
    approx = ivf_topk(emb, queries, k=5, nprobe=1).collect()
    exact_sets: dict[int, set] = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    approx_sets: dict[int, set] = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    for q in exact_sets:
        assert approx_sets[q] == exact_sets[q]  # full recall within cluster
        # all results stay inside the query's own cluster
        assert all(v // 30 == q // 30 for v in approx_sets[q])


def test_minhash_finds_planted_dups(spark):
    docs = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog again and again today"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy dog again and again tonight"),
        Row(doc_id=3, text="completely different content about databases and query engines here"),
    ]
    out = minhash_near_dupes(spark.createDataFrame(docs), threshold=0.5).collect()
    pairs = {(r["doc_id_1"], r["doc_id_2"]) for r in out}
    assert (1, 2) in pairs
    assert all(p in {(1, 2)} for p in pairs)


def test_simhash_near_dup_small_hamming(spark):
    docs = [
        Row(doc_id=1, text="alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        Row(doc_id=2, text="alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        Row(doc_id=3, text="one two three four five six seven eight nine ten"),
    ]
    sh = simhash64(spark.createDataFrame(docs))
    a = sh.alias("a")
    b = sh.alias("b")
    dists = {
        (r["i"], r["j"]): r["d"]
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("i"),
            F.col("b.doc_id").alias("j"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("d"),
        )
        .collect()
    }
    assert dists[(1, 2)] < dists[(1, 3)]
    assert dists[(1, 2)] < dists[(2, 3)]


def test_quality_features_shapes(spark, sf_dir):
    docs = load_tables(spark, sf_dir, ["documents"])["documents"].limit(20)
    out = TX.quality_features(docs)
    row = out.first()
    assert row["n_tokens"] > 0
    assert 0.0 <= row["stop_ratio"] <= 1.0


def test_connected_components_clusters(spark):
    from spark_streaming_postgres_lab2_spark.functions.similarity import (
        connected_components,
        dedup_clusters,
    )

    # two chains (1-2-3), (10-11) and a singleton edgeless doc 99
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], "doc_id_1 long, doc_id_2 long"
    )
    comps = {r["doc_id"]: r["component"] for r in connected_components(edges).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 99]], "doc_id long")
    out = {r["doc_id"]: (r["cluster_id"], r["is_canonical"]) for r in dedup_clusters(docs, edges).collect()}
    assert out[99] == (99, True)          # edgeless doc is its own cluster
    assert out[1] == (1, True) and out[2] == (1, False) and out[3] == (1, False)
    assert out[10] == (10, True) and out[11] == (10, False)


def test_language_guess_ngram(spark):
    df = spark.createDataFrame(
        [
            Row(text="the thing and the motion of the sailing ship"),
            Row(text="der anfang und die geschichte einer nacht"),
            Row(text="zz qq ww"),
        ]
    )
    got = [r[0] for r in df.select(TX.language_guess_ngram("text")).collect()]
    assert got[0] == "en" and got[1] == "de" and got[2] == "unknown"


def test_connected_components_both_paths_agree(spark):
    from spark_streaming_postgres_lab2_spark.functions.similarity import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (3, 4), (4, 5), (20, 21)],
        "doc_id_1 long, doc_id_2 long",
    )
    driver = {r["doc_id"]: r["component"] for r in connected_components(edges).collect()}
    dist = {
        r["doc_id"]: r["component"]
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert driver == dist == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_self_loop_singletons_agree(spark):
    """A vertex whose only edge is a self-loop must appear as its own
    singleton component on BOTH paths (ADVICE r4: the distributed path
    used to build its vertex set after filtering self-loops, dropping
    such vertices while the driver union-find kept them)."""
    from spark_streaming_postgres_lab2_spark.functions.similarity import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (7, 7), (3, 3), (3, 4)],
        "doc_id_1 long, doc_id_2 long",
    )
    expect = {1: 1, 2: 1, 3: 3, 4: 3, 7: 7}
    driver = {r["doc_id"]: r["component"] for r in connected_components(edges).collect()}
    dist = {
        r["doc_id"]: r["component"]
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert driver == expect
    assert dist == expect


def test_connected_components_string_ids_and_nulls(spark):
    from spark_streaming_postgres_lab2_spark.functions.similarity import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), (None, "z"), ("x", None)],
        "doc_id_1 string, doc_id_2 string",
    )
    comps = {r["doc_id"]: r["component"] for r in connected_components(edges).collect()}
    assert comps == {"a": "a", "b": "a", "c": "a"}  # null edges dropped


def test_connected_components_long_chain_converges(spark):
    from spark_streaming_postgres_lab2_spark.functions.similarity import (
        connected_components,
    )

    # 200-node path: diameter 199 >> max_iters, which split components
    # under the old min-label propagation; alternating star converges
    # in O(log^2 n) rounds regardless of diameter
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "doc_id_1 long, doc_id_2 long"
    )
    comps = {r["doc_id"]: r["component"] for r in connected_components(chain, driver_threshold=0).collect()}
    assert set(comps.values()) == {0}
    assert len(comps) == 200


def test_connected_components_distributed_matches_union_find(spark):
    """Randomized equivalence: the alternating-star distributed path
    must produce exactly the union-find driver path's components on
    arbitrary graphs (rings, stars, chains, random edges)."""
    import random

    from spark_streaming_postgres_lab2_spark.functions.similarity import (
        connected_components,
    )

    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = [(i, i + 1) for i in range(0, 12)]          # chain
        edges += [(20 + i, 20 + (i + 1) % 8) for i in range(8)]  # ring
        edges += [(40, 40 + i) for i in range(1, 6)]        # star
        edges += [
            (rng.randrange(n), rng.randrange(n)) for _ in range(15)  # random
        ]
        edges = [e for e in edges if e[0] != e[1]]
        df = spark.createDataFrame(edges, "doc_id_1 long, doc_id_2 long")
        driver = {
            r["doc_id"]: r["component"] for r in connected_components(df).collect()
        }
        dist = {
            r["doc_id"]: r["component"]
            for r in connected_components(df, driver_threshold=0).collect()
        }
        assert driver == dist, f"trial {trial} diverged"


def test_embedding_lsh_recall_vs_exact(spark):
    """VERDICT r2 item 3: the LSH embedding near-dup must produce
    evidence at fixture scale.  16 tables x 4 planes gives
    1-(1-p^4)^16 ~= 94% expected recall at cosine 0.4; assert >= 0.75
    against the exact full-pairwise truth (numpy) plus perfect
    precision (the verify stage recomputes exact cosine)."""
    import numpy as np
    import pandas as pd

    from spark_streaming_postgres_lab2_spark.functions.similarity import (
        embedding_near_dupes_lsh_portable,
    )

    pdf = pd.read_parquet("/root/testdata/sf0.01/embeddings.parquet")
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = np.round(unit @ unit.T, 4)
    iu = np.triu_indices(len(ids), k=1)
    hits = sims[iu] >= 0.4
    truth = {
        (int(min(a, b)), int(max(a, b)))
        for a, b in zip(ids[iu[0]][hits], ids[iu[1]][hits])
    }
    assert truth, "fixture must contain at least one cosine>=0.4 pair"

    emb = load_tables(spark, "/root/testdata/sf0.01", ["embeddings"])["embeddings"]
    out = embedding_near_dupes_lsh_portable(
        emb, threshold=0.4, n_planes=4, n_tables=16
    ).collect()
    got = {(r.vec_id_1, r.vec_id_2) for r in out}
    assert got, "LSH output must be non-empty at fixture scale"
    assert not got - truth, f"false positives: {sorted(got - truth)[:5]}"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.75, f"recall {recall:.3f} < 0.75 ({len(got)}/{len(truth)})"


def test_embedding_lsh_finds_planted_near_dups(spark):
    """Planted copies with tiny perturbations (cosine ~0.99+) must be
    recovered: miss probability per pair is (1-p^4)^16 ~= 1e-12."""
    import random

    from spark_streaming_postgres_lab2_spark.functions.similarity import (
        embedding_near_dupes_lsh_portable,
    )

    rng = random.Random(7)
    rows = []
    for base_id in range(5):
        base = [rng.gauss(0.0, 1.0) for _ in range(32)]
        for copy in range(2):
            vec = [x + rng.gauss(0.0, 0.01) for x in base]
            rows.append((base_id * 10 + copy, vec))
    # noise vectors that should not pair with anything
    for j in range(100, 120):
        rows.append((j, [rng.gauss(0.0, 1.0) for _ in range(32)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = embedding_near_dupes_lsh_portable(
        emb, threshold=0.9, n_planes=4, n_tables=16, dim=32
    ).collect()
    got = {(r.vec_id_1, r.vec_id_2) for r in out}
    expected = {(b * 10, b * 10 + 1) for b in range(5)}
    assert expected <= got, f"missed planted pairs: {expected - got}"


def test_portable_lsh_queries_match_oracle_rows(spark, sf_dir):
    """The portable family's integer bucketer and fold-order verifiers
    reproduce the DuckDB oracle's rows exactly -- ids AND rounded
    cosines -- on the uncapped fixed-(k, L) query (per-pair verify) and
    the adaptive capped semantic_dedup (per-bucket verify)."""
    import os
    import sys

    import duckdb

    import __spark_entry__ as entrymod

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from parity_check import register_fixture_views

    con = duckdb.connect()
    register_fixture_views(con, sf_dir)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    for name in ("embedding_lsh_near_dup_portable", "semantic_dedup"):
        got = sorted(map(tuple, qs[name](spark, sf_dir).collect()))
        want = sorted(con.sql(oracles[name]).fetchall())
        assert got, name
        assert got == want, name


def test_int_bucketer_rejects_bad_dims(spark):
    """The portable bucketer enforces the family's static-dim contract:
    mismatched dims raise naming the offending sizes, and a NULL
    embedding raises naming its id."""
    import pytest

    from spark_streaming_postgres_lab2_spark.functions.similarity import (
        _int_hyperplane_buckets_arrow,
    )

    bad = spark.createDataFrame(
        [(1, [1.0] * 64), (2, [1.0] * 8)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="static dim"):
        _int_hyperplane_buckets_arrow(bad, "vec_id", "embedding", 4, 16, 64).collect()

    withnull = spark.createDataFrame(
        [(1, [1.0] * 64), (2, None)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match=r"NULL embedding .*\[2\]"):
        _int_hyperplane_buckets_arrow(
            withnull, "vec_id", "embedding", 4, 16, 64
        ).collect()


def test_lsh_verify_drops_undefined_cosines(spark, tmp_path):
    """A pair whose cosine is undefined never appears in the LSH
    family, capped or not, nor in the windowed embedding_near_dup
    query: two all-zero vectors share every bucket (all sign bits set)
    but have a zero norm, and a vector with a NULL element has no
    cosine at all.  numpy would yield NaN for both, and Spark orders
    NaN above every double, so an unguarded NaN would pass the
    threshold filter."""
    from spark_streaming_postgres_lab2_spark.functions.similarity import (
        embedding_near_dupes_lsh_portable,
    )
    from spark_streaming_postgres_lab2_spark.queries.ext import q_embedding_near_dup

    emb = spark.createDataFrame(
        [
            (1, [0.5] * 64),
            (2, [0.5] * 63 + [None]),
            (3, [0.5] * 64),
            (4, [0.0] * 64),
            (5, [0.0] * 64),
        ],
        "vec_id long, embedding array<double>",
    )
    emb.write.parquet(str(tmp_path / "embeddings.parquet"))
    outs = [q_embedding_near_dup(spark, str(tmp_path))]
    outs += [
        embedding_near_dupes_lsh_portable(emb, max_bucket_size=cap)
        for cap in (None, 2)
    ]
    for out in outs:
        rows = out.collect()
        assert all(
            r.cosine_sim is not None and not math.isnan(r.cosine_sim) for r in rows
        ), rows
        pairs = {(r.vec_id_1, r.vec_id_2) for r in rows}
        assert (4, 5) not in pairs  # zero-norm pair
        assert (1, 2) not in pairs and (2, 3) not in pairs  # NULL element
        assert (1, 3) in pairs  # the true duplicate


def test_embedding_near_dup_emits_nan_cosine_like_the_oracle(spark, sf_dir, tmp_path):
    """A NaN element propagates NaN in both engines, and Spark's >=
    ranks NaN above the threshold, so embedding_near_dup keeps the pair
    -- with cosine_sim NaN, as the DuckDB oracle reports it, not NULL."""
    import os
    import sys

    import duckdb

    from spark_streaming_postgres_lab2_spark.queries.ext import (
        ORACLE_EMBEDDING_NEAR_DUP,
        q_embedding_near_dup,
    )

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from parity_check import FIXTURE_TABLES, canon, register_fixture_views

    spark.createDataFrame(
        [(1, [0.5] * 63 + [float("nan")]), (2, [0.5] * 64), (3, [0.5] * 64)],
        "vec_id long, embedding array<double>",
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    for t in FIXTURE_TABLES:
        if t != "embeddings":
            os.symlink(os.path.join(sf_dir, f"{t}.parquet"), tmp_path / f"{t}.parquet")
    con = duckdb.connect()
    register_fixture_views(con, str(tmp_path))
    want = con.sql(ORACLE_EMBEDDING_NEAR_DUP)
    cols = want.columns
    out = q_embedding_near_dup(spark, str(tmp_path))
    assert out.columns == cols
    got = out.collect()
    # canon renders NaN as 'nan' and NULL as 'NULL', so NaN == NaN here
    assert canon(got, cols) == canon(want.fetchall(), cols)
    assert {(r.vec_id_1, r.vec_id_2) for r in got} == {(1, 2), (1, 3), (2, 3)}


def test_fold_kernel_is_a_left_to_right_fold_in_every_form():
    """The oracle-parity rule has one owner, ``_fold_dot``: each sum
    starts at 0.0 and adds one dimension at a time, left to right, as
    the expression fold and DuckDB's list_aggregate do.  Every form --
    per-row squared norm, row-wise, index pairs, all-against-all --
    equals a pure-Python fold bit for bit (zero-norm row and NaN
    element included), and the pair and all-against-all forms agree
    exactly, so a scorer may switch forms without moving a cosine."""
    import numpy as np

    from spark_streaming_postgres_lab2_spark.functions.similarity import (
        _fold_dot,
        _fold_dot_all,
        _fold_norm2,
        _round4_half_away,
    )

    rng = np.random.default_rng(16)
    a = rng.standard_normal((7, 64))
    b = rng.standard_normal((5, 64)) * 1e3
    a[2] = 0.0  # zero norm
    b[3, 10] = np.nan  # NaN element

    def py_dot(x, y):
        acc = 0.0
        for u, v in zip(x.tolist(), y.tolist()):
            acc = acc + u * v
        return acc

    def bits(x):
        return [float(v).hex() for v in np.ravel(x)]

    assert bits(_fold_norm2(a)) == bits([py_dot(x, x) for x in a])
    assert bits(_fold_dot(a[:5], b)) == bits([py_dot(x, y) for x, y in zip(a, b)])
    full = _fold_dot_all(a, b)
    assert full.shape == (7, 5)
    assert bits(full) == bits([[py_dot(x, y) for y in b] for x in a])
    ia = rng.integers(0, 7, 40)
    ib = rng.integers(0, 5, 40)
    assert bits(_fold_dot(a, b, ia, ib)) == bits(full[ia, ib])
    assert (_fold_norm2(a)[2] == 0.0) and np.isnan(full[:, 3]).all()
    # dim 0: empty sums, still shaped
    assert _fold_dot_all(np.zeros((2, 0)), np.zeros((3, 0))).shape == (2, 3)

    # half away from zero, where np.round rounds half to even
    got = _round4_half_away(np.array([0.12345, -0.12345, 0.00025, 0.123449, np.nan]))
    assert bits(got) == bits([0.1235, -0.1235, 0.0003, 0.1234, np.nan])


def test_snm_dedup_passes_and_threshold(spark, tmp_path):
    """Sorted-neighborhood dedup: (a) near-identical docs adjacent in
    primary sort order are found; (b) a pair whose keys land in
    DIFFERENT first-char partitions is still found via the
    reversed-text second pass (the multi-pass boundary fix); (c) a
    below-threshold pair is excluded."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_streaming_postgres_lab2_spark.queries.ext import (
        q_sorted_neighborhood_dedup,
    )

    docs = [
        # (a) same prefix -> adjacent in pass 1; high Jaccard
        (0, "alpha beta gamma delta epsilon zeta eta theta kappa mu"),
        (1, "alpha beta gamma delta epsilon zeta eta theta kappa nu"),
        # (b) different first chars (different pass-1 partitions) but
        # SAME reversed suffix -> adjacent only in pass 2
        (2, "mike lima kilo jul hotel golf foxtrot echo same tail words"),
        (3, "zulu lima kilo jul hotel golf foxtrot echo same tail words"),
        # (c) shares the 'alpha beta' prefix with 0/1 (adjacent in
        # pass 1) but low Jaccard -> excluded
        (4, "alpha beta one two three four five six seven eight nine"),
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d for d, _ in docs], pa.int64()),
                "text": [t for _, t in docs],
                "lang": ["en"] * len(docs),
                "source": ["s"] * len(docs),
                "n_chars": pa.array([len(t) for _, t in docs], pa.int64()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    got = {
        (r.doc_id_1, r.doc_id_2)
        for r in q_sorted_neighborhood_dedup(spark, str(tmp_path)).collect()
    }
    assert (0, 1) in got       # pass-1 neighbors
    assert (2, 3) in got       # only reachable via the reversed key
    assert not any(4 in p for p in got)  # below threshold


def test_fuzzy_record_linkage_crafted(spark):
    """Hand-checkable linkage: the corrupted record links back to its
    source at distance 1; blocking excludes other-nation candidates;
    ties at equal distance resolve to the smaller custkey."""
    import spark_streaming_postgres_lab2_spark.queries.ext as ext
    from spark_streaming_postgres_lab2_spark.queries.ext import (
        q_fuzzy_record_linkage,
    )

    def cust(k, nation):
        return (k, f"Customer#{k:09d}", nation)

    df = spark.createDataFrame(
        # custkeys 0,1,2 in nation 5 (same div-1000 block); 40 isolated
        # in nation 7 -- its dirty twin must only see nation-7 records
        [cust(0, 5), cust(1, 5), cust(2, 5), cust(40, 7)],
        "c_custkey long, c_name string, c_nationkey long",
    )
    orig = ext.load_tables
    try:
        ext.load_tables = lambda _s, _d, _t: {"customer": df}
        got = {r.dirty_key: r for r in q_fuzzy_record_linkage(spark, "x").collect()}
    finally:
        ext.load_tables = orig
    # dirty(0) = drop pos 10 of Customer#000000000 -> 17 chars; parent
    # at dist 1, "Customer#000000001"/2 also at dist 1 (one insert) ->
    # 3 candidates, tie resolves to min custkey = the true parent
    assert (got[0].matched_key, got[0].best_distance, got[0].match_correct) == (0, 1, 1)
    assert got[0].n_candidates == 3
    # dirty(40): nation-7 block holds only its parent
    assert (got[40].matched_key, got[40].n_candidates, got[40].match_correct) == (40, 1, 1)
    assert set(got) == {0, 40}
