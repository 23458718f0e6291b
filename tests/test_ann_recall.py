"""ANN quality gate: recall@k of the IVF path vs brute force on
planted clusters.

The driver fixture embeddings are random/near-orthogonal (no cluster
structure -- NOTES.md), so recall there is meaningless; this synthesizes
a corpus with ground-truth clusters (tight Gaussian blobs around
well-separated centers) and asserts the IVF probe path recovers the
brute-force top-k.  The measured number is recorded in SCALING.md.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from spark_streaming_postgres_lab2_spark.functions.similarity import (
    cosine_topk,
    ivf_topk,
    kmeans_lite,
)

N_CLUSTERS = 8
PER_CLUSTER = 50
DIM = 32
K = 10


@pytest.fixture(scope="module")
def planted(spark):
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(N_CLUSTERS, DIM))
    rows = []
    vid = 0
    for c in range(N_CLUSTERS):
        for _ in range(PER_CLUSTER):
            v = centers[c] + 0.05 * rng.normal(size=DIM)
            rows.append((vid, c, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    ).localCheckpoint(eager=True)


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["vec_id"])
    return out


def test_ivf_recall_at_10_on_planted_clusters(planted):
    queries = planted.filter(F.col("vec_id") % PER_CLUSTER == 0)  # 1 per true cluster
    truth = _topk_sets(cosine_topk(planted, queries, k=K))

    clustered = kmeans_lite(planted, k=N_CLUSTERS, iters=3)
    got = _topk_sets(
        ivf_topk(clustered, queries, k=K, nprobe=2, cluster_col="cluster")
    )

    assert set(truth) == set(got)  # every query answered
    recalls = [len(truth[q] & got[q]) / K for q in truth]
    recall = sum(recalls) / len(recalls)
    # tight planted blobs + nprobe=2 of 8: the probed cells contain the
    # whole true neighborhood; anything under 0.9 means the coarse
    # quantizer or the probe routing is broken
    assert recall >= 0.9, f"recall@{K} = {recall:.3f}"


def test_ivf_prunes_the_corpus(planted):
    """The IVF path must score fewer candidates than brute force:
    with nprobe=2 of 8 equal clusters, ~1/4 of the corpus per query."""
    clustered = kmeans_lite(planted, k=N_CLUSTERS, iters=3)
    sizes = {
        r["cluster"]: r["n"]
        for r in clustered.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # planted blobs are balanced; k-means-lite must not collapse them
    assert len(sizes) == N_CLUSTERS
    assert max(sizes.values()) <= 2 * PER_CLUSTER


def test_ivf_recall_quantized_int8(planted):
    """VERDICT r3 item 6: the quantization lever composed into the ANN
    path.  Corpus stored int8 (4x smaller payloads), dequantized only
    at final scoring; queries stay float (asymmetric search).  The
    8-bit rounding must not cost meaningful recall on the planted
    ground truth."""
    from spark_streaming_postgres_lab2_spark.functions.similarity import (
        dequantize_vectors,
        quantize_vectors,
    )

    queries = planted.filter(F.col("vec_id") % PER_CLUSTER == 0)
    truth = _topk_sets(cosine_topk(planted, queries, k=K))

    clustered = kmeans_lite(planted, k=N_CLUSTERS, iters=3)
    q8 = (
        dequantize_vectors(quantize_vectors(clustered))
        .drop("embedding", "qvec")
        .withColumnRenamed("embedding_dq", "embedding")
    )
    got = _topk_sets(ivf_topk(q8, queries, k=K, nprobe=2, cluster_col="cluster"))

    assert set(truth) == set(got)
    recalls = [len(truth[q] & got[q]) / K for q in truth]
    recall = sum(recalls) / len(recalls)
    assert recall >= 0.9, f"quantized recall@{K} = {recall:.3f}"


def test_kmeans_profile_planted_clusters_and_empty_carry(spark):
    """Perfectly separated planted clusters: Lloyd's recovers them
    exactly, centroids converge to the exact integer mean, inertia is
    the hand-computed BIGINT, and a cluster whose seed duplicates
    another (tie-break -> lower cluster id wins every member) ends
    EMPTY but carries its previous centroid."""
    from pyspark.sql import Row

    import spark_streaming_postgres_lab2_spark.queries.ext as ext
    from spark_streaming_postgres_lab2_spark.queries.ext import (
        q_kmeans_cluster_profile,
    )

    def vec(dim, val, d=8):
        v = [0.0] * d
        v[dim] = float(val)
        return v

    rows = [
        Row(vec_id=0, embedding=vec(0, 1000)),   # seed cluster 0
        Row(vec_id=1, embedding=vec(1, 1000)),   # seed cluster 1
        Row(vec_id=2, embedding=vec(2, 1000)),   # seed cluster 2
        Row(vec_id=3, embedding=vec(2, 1000)),   # duplicate seed -> cluster 3 empties
        Row(vec_id=4, embedding=vec(0, 1002)),
        Row(vec_id=5, embedding=vec(0, 998)),
        Row(vec_id=6, embedding=vec(1, 1002)),
        Row(vec_id=7, embedding=vec(1, 998)),
        Row(vec_id=8, embedding=vec(2, 1002)),
        Row(vec_id=9, embedding=vec(2, 998)),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    orig = ext.load_tables
    try:
        ext.load_tables = lambda _s, _d, _t: {"embeddings": df}
        got = {r.cluster_id: r for r in q_kmeans_cluster_profile(spark, "x").collect()}
    finally:
        ext.load_tables = orig
    two_off = 2 * (2 * 16384) ** 2  # two members at +-2 of the converged mean
    c_sum = 1000 * 16384
    assert (got[0].n_members, got[0].member_id_sum, got[0].inertia,
            got[0].centroid_sum) == (3, 9, two_off, c_sum)
    assert (got[1].n_members, got[1].member_id_sum, got[1].inertia,
            got[1].centroid_sum) == (3, 14, two_off, c_sum)
    assert (got[2].n_members, got[2].member_id_sum, got[2].inertia,
            got[2].centroid_sum) == (4, 22, two_off, c_sum)
    # empty cluster: zero members, centroid carried from its seed
    assert (got[3].n_members, got[3].member_id_sum, got[3].inertia,
            got[3].centroid_sum) == (0, 0, 0, c_sum)


def test_embedding_pq_audit_assignment_rules(spark):
    """Crafted codebook geometry pins the PQ assignment rules: the 16
    seed vectors reconstruct exactly (their own code, zero error); a
    vector between two codes takes the LOWEST code on a distance tie
    (struct-min on (d2, code)); subspaces where every vector is
    identical collapse to one code with zero error.  All values are
    exactly representable in float32 (multiples of 0.25), so the
    integer quantization is engine-independent."""
    import spark_streaming_postgres_lab2_spark.queries.ext as ext
    from spark_streaming_postgres_lab2_spark.queries.ext import (
        _KM_QSCALE,
        q_embedding_pq_audit,
    )

    def vec(v0: float) -> list[float]:
        return [v0] + [0.0] * 63

    rows = [Row(vec_id=k, embedding=vec(float(k + 1)), label=0) for k in range(16)]
    rows += [
        Row(vec_id=100, embedding=vec(3.25), label=0),   # nearest seed 2 (3.0)
        Row(vec_id=101, embedding=vec(6.0), label=0),    # exact copy of seed 5
        Row(vec_id=102, embedding=vec(1.5), label=0),    # tie seeds 0/1 -> code 0
    ]
    df = spark.createDataFrame(rows)
    orig = ext.load_tables
    try:
        ext.load_tables = lambda _s, _d, _t: {"embeddings": df}
        got = {r.subspace: r for r in q_embedding_pq_audit(spark, "unused").collect()}
    finally:
        ext.load_tables = orig

    q = lambda x: int(x * _KM_QSCALE)  # exact for multiples of 0.25
    err_100 = (q(3.25) - q(3.0)) ** 2
    err_102 = (q(1.5) - q(1.0)) ** 2
    s0 = got[0]
    assert (s0.n_vectors, s0.codes_used) == (19, 16)
    assert s0.total_sq_err == err_100 + err_102
    for m in range(1, 8):
        sm = got[m]
        assert (sm.n_vectors, sm.codes_used, sm.total_sq_err) == (19, 1, 0)


def test_ann_ivfpq_adc_recall_and_lossless_members(spark, sf_dir):
    """Quality gates for the hash-checked IVF-PQ composition on the
    planted corpus: (a) every probe query is a PQ-codebook member
    (vec_id < 16), so its residual reconstructs losslessly and it must
    rank ITSELF first at ADC distance exactly 0; (b) mean recall@10 vs
    the exact integer top-10 (same floor(x*2^14) metric, whole corpus)
    must hold >= 0.4 -- the pipeline is deterministic, so this is a
    fixed property of the fixture, not a statistical bound (measured
    0.46 at sf0.01)."""
    import numpy as np

    from spark_streaming_postgres_lab2_spark.queries.ext import (
        _KM_DIM,
        _KM_QSCALE,
        _IVFPQ_NQ,
        _planted_embeddings,
        q_ann_ivfpq_adc_audit,
    )
    from spark_streaming_postgres_lab2_spark.sources.tables import load_tables

    rows = q_ann_ivfpq_adc_audit(spark, sf_dir).collect()
    got: dict[int, list[int]] = {}
    for r in rows:
        got.setdefault(r.query_id, []).append(r.vec_id)
        if r.rank == 1:
            assert (r.vec_id, r.adc_d2) == (r.query_id, 0)

    emb = _planted_embeddings(load_tables(spark, sf_dir, ["embeddings"])["embeddings"])
    pdf = emb.select(
        "vec_id",
        F.expr(
            f"transform(slice(embedding, 1, {_KM_DIM}),"
            f" x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_QSCALE}) AS BIGINT))"
        ).alias("qv"),
    ).toPandas()
    mat = np.array([list(v) for v in pdf.qv], dtype=np.int64)
    ids = pdf.vec_id.to_numpy()
    recalls = []
    for qi in range(_IVFPQ_NQ):
        q = mat[ids == qi][0]
        d = ((mat - q) ** 2).sum(axis=1)
        exact = {int(ids[j]) for j in np.lexsort((ids, d))[:10]}
        recalls.append(len(exact & set(got[qi])) / 10)
    assert sum(recalls) / len(recalls) >= 0.4


def test_ann_ivf_topk_query_recall_floor_on_fixture(spark, sf_dir):
    """VERDICT r14 item 6: ``ann_ivf_topk`` is rows-only in the driver
    gate, so its OWN probe parameters (k-means k=8, nprobe=2, top-10)
    had no recall pin -- a probe-count regression inside the query
    would drift silently.  This runs the query VERBATIM (monkeypatched
    onto a planted-structure version of the fixture corpus, the same
    _planted_embeddings transform the driver-checked ann_recall_audit
    uses) and asserts mean recall@10 vs exact brute force >= 0.9
    (measured 1.0 at fixture scale)."""
    import spark_streaming_postgres_lab2_spark.queries.ext as ext
    from spark_streaming_postgres_lab2_spark.queries.ext import (
        _planted_embeddings,
        q_ann_ivf_topk,
    )
    from spark_streaming_postgres_lab2_spark.sources.tables import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    planted = _planted_embeddings(emb).localCheckpoint(eager=True)

    orig = ext.load_tables
    try:
        ext.load_tables = lambda _s, _d, _t: {"embeddings": planted}
        got = _topk_sets(q_ann_ivf_topk(spark, "unused"))
    finally:
        ext.load_tables = orig

    truth = _topk_sets(
        cosine_topk(planted, planted.filter(F.col("vec_id") < 5), k=K)
    )
    assert set(truth) == set(got)
    recalls = [len(truth[q] & got[q]) / K for q in truth]
    recall = sum(recalls) / len(recalls)
    assert recall >= 0.9, f"ann_ivf_topk query recall@{K} = {recall:.3f}"


def test_cosine_topk_arrow_matches_expr_on_degenerate_vectors(spark):
    """r15: cosine_topk's scoring moved from the crossJoin + cosine-expr
    form to an Arrow pass with the queries in the task closure.  The
    engine-sensitive edges must survive the move: a zero-norm corpus
    vector scores NULL (Spark's x/0.0) and ranks LAST under the DESC
    window; a NaN element propagates to a NaN cosine and ranks FIRST;
    a NULL or dim-mismatched vector scores NULL.  This pins the Arrow
    path against the original expression formulation on a corpus that
    exercises every edge."""
    from pyspark.sql import Window

    from spark_streaming_postgres_lab2_spark.functions.similarity import (
        cosine,
        cosine_topk,
    )

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),      # zero norm -> NULL cosine
        (4, None),                       # NULL vector -> NULL cosine
        (5, [1.0, 0.0]),                 # dim mismatch -> NULL cosine
        (6, [float("nan"), 1.0, 0.0, 0.0]),  # NaN element -> NaN cosine
        (7, [-1.0, 0.0, 0.0, 0.0]),
        (10, [1.0, 0.1, 0.0, 0.0]),      # the query vector
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") == 10)

    got = {
        (r.query_id, r.vec_id, r.rank): r.cosine_sim
        for r in cosine_topk(emb, queries, k=10).collect()
    }

    # reference: the original crossJoin + expression formulation
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qvec")
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("__cos", cosine(F.col("embedding"), F.col("__qvec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__cos").desc(), F.col("vec_id").asc()
    )
    want = {
        (r.query_id, r.vec_id, r.rank): r.cosine_sim
        for r in scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "vec_id",
            F.round(F.col("__cos"), 4).alias("cosine_sim"),
            "rank",
        )
        .collect()
    }

    def norm(d):
        # NaN != NaN: compare on a printable token
        return {k: ("nan" if v != v else v) for k, v in d.items() if v is None or True}

    assert norm(got) == norm(want)
    # the NaN row ranks first, the NULL rows last
    nan_rank = [k[2] for k in got if k[1] == 6][0]
    assert nan_rank == 1
    null_ranks = sorted(k[2] for k in got if k[1] in (3, 4, 5))
    assert null_ranks == [5, 6, 7]


def test_cosine_topk_degenerate_query_vectors_match_expr_form(spark):
    """r16 (ADVICE r15): the Arrow cut of cosine_topk crashed on NULL /
    ragged QUERY vectors where the replaced crossJoin+expr form scored
    them to all-NULL cosines.  Pin the graceful behavior against the
    original expression formulation: NULL, dim-mismatched and zero-norm
    queries emit top-k rows ranked purely by vec_id with NULL
    cosine_sim; a NaN-element query still ranks NaN first; a query
    whose length differs from the first query's still scores the
    corpus vectors of its own length."""
    from pyspark.sql import Window

    from spark_streaming_postgres_lab2_spark.functions.similarity import (
        cosine,
        cosine_topk,
    )

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0, 0.0]),
            (4, [0.5, 0.5, 0.0, 0.0]),
            (5, [0.0, 1.0, 0.5]),
        ],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [
            (10, [1.0, 0.0, 0.0, 0.0]),          # healthy
            (11, None),                           # NULL vector
            (12, [1.0, 0.0]),                     # dim mismatch
            (13, [0.0, 0.0, 0.0, 0.0]),           # zero norm
            (14, [float("nan"), 1.0, 0.0, 0.0]),  # NaN element
            (15, [0.0, 1.0, 1.0]),                # dim of corpus vector 5 only
        ],
        "vec_id long, embedding array<double>",
    )

    got = {
        (r.query_id, r.vec_id, r.rank): r.cosine_sim
        for r in cosine_topk(corpus, queries, k=3).collect()
    }

    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qvec")
    )
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("__cos", cosine(F.col("embedding"), F.col("__qvec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__cos").desc(), F.col("vec_id").asc()
    )
    want = {
        (r.query_id, r.vec_id, r.rank): r.cosine_sim
        for r in scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id",
            "vec_id",
            F.round(F.col("__cos"), 4).alias("cosine_sim"),
            "rank",
        )
        .collect()
    }

    def norm(d):
        return {k: ("nan" if v != v else v) for k, v in d.items()}

    assert norm(got) == norm(want)
    # degenerate queries emit rows ranked by vec_id with NULL scores
    for qid in (11, 12, 13):
        per = sorted((k[2], k[1]) for k in got if k[0] == qid)
        assert per == [(1, 1), (2, 2), (3, 3)]
        assert all(got[(qid, v, r)] is None for r, v in per)
    # a query scores the corpus vectors of its own length, whatever the
    # length of the first query
    assert got[(15, 5, 1)] is not None


def test_cosine_topk_query_collect_guard(spark, monkeypatch):
    """r16 (VERDICT r15 item 8): cosine_topk collects its query side to
    the driver by contract; an unbounded caller must fail loudly, not
    OOM the driver silently."""
    import spark_streaming_postgres_lab2_spark.functions.similarity as sim

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    big_queries = spark.createDataFrame(
        [(100 + i, [1.0, float(i)]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    monkeypatch.setattr(sim, "COSINE_TOPK_MAX_QUERIES", 3)
    with pytest.raises(ValueError, match="query side exceeds"):
        sim.cosine_topk(corpus, big_queries, k=2)
    # at the bound, still fine
    monkeypatch.setattr(sim, "COSINE_TOPK_MAX_QUERIES", 5)
    assert sim.cosine_topk(corpus, big_queries, k=2).count() > 0


def test_kmeans_assign_literal_zero_norm_centroid_ranks_last(spark):
    """r16 (ADVICE r15): a zero-norm CENTROID yields 0/0 = NaN cosine
    for every vector; the blanket NaN -> +inf mapping made it win the
    argmax unconditionally, where the replaced window form's x/0 NULL
    ranked it LAST.  Pin the Arrow path against the window/expr
    reference on a centroid set containing a zero vector, including
    degenerate corpus rows."""
    from pyspark.sql import Window

    from spark_streaming_postgres_lab2_spark.functions.similarity import (
        _kmeans_assign_literal,
        cosine,
    )

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [0.7, 0.7, 0.0]),
            (4, [0.0, 0.0, 0.0]),           # zero-norm vector
            (5, None),                       # NULL vector
            (6, [float("nan"), 1.0, 0.0]),   # NaN element
        ],
        "vec_id long, embedding array<double>",
    )
    cents = [(0, [0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])]

    got = {
        r.vec_id: r.cluster
        for r in _kmeans_assign_literal(corpus, cents).collect()
    }

    cents_df = spark.createDataFrame(
        cents, "cluster int, centroid array<double>"
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("__ccos").desc(), F.col("cluster").asc()
    )
    want = {
        r.vec_id: r.cluster
        for r in corpus.crossJoin(F.broadcast(cents_df))
        .withColumn("__ccos", cosine(F.col("embedding"), F.col("centroid")))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("vec_id", "cluster")
        .collect()
    }

    assert got == want
    # the zero-norm centroid never wins against a valid vector
    assert all(got[v] != 0 for v in (1, 2, 3))
