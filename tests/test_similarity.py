"""ANN: brute-force cosine correctness vs numpy; LSH recall vs brute force."""

import numpy as np
import pytest


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.default_rng(3)
    rows = [(i, rng.standard_normal(16).astype(float).tolist()) for i in range(200)]
    # plant a near-duplicate of vector 0
    v0 = np.array(rows[0][1])
    rows.append((200, (v0 + 0.01 * rng.standard_normal(16)).tolist()))
    return rows, spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_topk_matches_numpy(spark, vecs):
    from rdf_indexer_spark.similarity import cosine_topk

    rows, df = vecs
    q = rows[0][1]
    got = [(r["vec_id"], r["cosine"]) for r in cosine_topk(df, q, k=5).collect()]
    mat = np.array([r[1] for r in rows])
    qv = np.array(q)
    cos = mat @ qv / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
    expected = sorted(range(len(rows)), key=lambda i: (-cos[i], i))[:5]
    assert [d for d, _ in got] == expected
    for (d, s) in got:
        assert s == pytest.approx(cos[d], rel=1e-9)
    assert got[0][0] == 0 and got[1][0] == 200  # self, then planted near-dup


def test_lsh_recall(spark, vecs):
    from rdf_indexer_spark.similarity import cosine_topk, lsh_index, lsh_topk

    rows, df = vecs
    q = rows[0][1]
    idx = lsh_index(df, dim=16, n_tables=6, n_bits=8)
    got = [r["vec_id"] for r in lsh_topk(idx, q, dim=16, k=10,
                                         n_tables=6, n_bits=8).collect()]
    brute = [r["vec_id"] for r in cosine_topk(df, q, k=10).collect()]
    # the two strongest neighbors must be found; overall recall ≥ 0.5
    assert got[0] == 0
    assert 200 in got
    assert len(set(got) & set(brute)) >= 5


def test_lsh_deterministic(spark, vecs):
    from rdf_indexer_spark.similarity import lsh_index

    _, df = vecs
    a = sorted(tuple(r) for r in lsh_index(df, dim=16).select("table", "signature", "vec_id").collect())
    b = sorted(tuple(r) for r in lsh_index(df, dim=16).select("table", "signature", "vec_id").collect())
    assert a == b


def test_batch_topk_matches_single(spark, vecs):
    from pyspark.sql import functions as F

    from rdf_indexer_spark.similarity import (
        cosine_topk, cosine_topk_batch, lsh_index, lsh_topk, lsh_topk_batch,
    )

    rows, df = vecs
    q0, q7 = rows[0][1], rows[7][1]
    queries = [(0, q0), (7, q7)]
    qdf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in queries],
        "query_id int, qvec array<double>",
    )
    batch = cosine_topk_batch(df, qdf, k=5).collect()
    for qid, qv in queries:
        single = [(r["vec_id"], r["cosine"]) for r in cosine_topk(df, qv, k=5).collect()]
        got = sorted(
            ((r["vec_id"], r["cosine"]) for r in batch if r["query_id"] == qid),
            key=lambda t: -t[1],
        )
        assert [v for v, _ in got] == [v for v, _ in single]
        for (_, a), (_, b) in zip(got, single):
            # batch computes |q| in-plan, single injects the numpy value —
            # same math, last-ulp difference allowed
            assert a == pytest.approx(b, rel=1e-12)

    idx = lsh_index(df, dim=16, n_tables=6, n_bits=8)
    lb = lsh_topk_batch(idx, queries, dim=16, k=5, n_tables=6, n_bits=8).collect()
    for qid, qv in queries:
        single = [r["vec_id"] for r in
                  lsh_topk(idx, qv, dim=16, k=5, n_tables=6, n_bits=8).collect()]
        got = [r["vec_id"] for r in sorted(
            (r for r in lb if r["query_id"] == qid), key=lambda r: r["rank"])]
        assert got == single


def test_lsh_recall_measurement(spark, vecs):
    from rdf_indexer_spark.similarity import lsh_recall_at_k

    _, df = vecs
    r = lsh_recall_at_k(df, n_queries=20, k=5, n_tables=6, n_bits=8)
    assert 0.0 <= r <= 1.0
    # near-orthogonal random vectors: multiprobe over 6 tables still finds a
    # meaningful fraction of true neighbors
    assert r > 0.3


def test_ivf_topk_nprobe_all_equals_brute(spark, vecs):
    import numpy as np

    from rdf_indexer_spark.similarity import (
        cosine_topk, ivf_index, ivf_topk, kmeans_centroids,
    )

    rows, df = vecs
    cents = kmeans_centroids(df, dim=16, n_centroids=8, sample=201)
    assert cents.shape == (8, 16)
    idx = ivf_index(df, cents)
    # cells partition the id space
    assert idx.count() == len(rows)
    assert idx.select("vec_id").distinct().count() == len(rows)
    q = rows[0][1]
    # probing every cell must equal exact brute force
    got = [r["vec_id"] for r in ivf_topk(idx, cents, q, k=5, nprobe=8).collect()]
    brute = [r["vec_id"] for r in cosine_topk(df, q, k=5).collect()]
    assert got == brute
    # the query vector itself always lives in the first probed cell (same
    # argmin metric); its planted near-dup is either in the same cell or an
    # adjacent one, so nprobe=2 must find both
    got1 = [r["vec_id"] for r in ivf_topk(idx, cents, q, k=2, nprobe=2).collect()]
    assert got1[0] == 0 and 200 in got1


def test_ivf_deterministic(spark, vecs):
    from rdf_indexer_spark.similarity import ivf_index, kmeans_centroids

    _, df = vecs
    c1 = kmeans_centroids(df, dim=16, n_centroids=4, sample=100)
    c2 = kmeans_centroids(df.repartition(7), dim=16, n_centroids=4, sample=100)
    assert (c1 == c2).all()
    a = sorted(tuple(r) for r in ivf_index(df, c1).select("cell", "vec_id").collect())
    b = sorted(tuple(r) for r in ivf_index(df.repartition(5), c1).select("cell", "vec_id").collect())
    assert a == b


def test_mean_recall_counts_missing_queries_as_zero(spark):
    """ADVICE r3: a query whose ANN candidates are empty must drag the
    average DOWN (recall 0), not vanish from it via an inner join."""
    from pyspark.sql import functions as F  # noqa: F401

    from rdf_indexer_spark.similarity import _mean_recall

    want = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (1, 4)], "query_id int, vec_id long"
    )
    # query 1 produced NO candidates at all
    got = spark.createDataFrame([(0, 1), (0, 2)], "query_id int, vec_id long")
    assert abs(float(_mean_recall(got, want)) - 0.5) < 1e-9
    # and a partially-hit query still averages fractionally
    got2 = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3)], "query_id int, vec_id long"
    )
    assert abs(float(_mean_recall(got2, want)) - 0.75) < 1e-9


def test_recall_timing_split_and_oracle_reuse(spark):
    """VERDICT r4 item 5: recall calls can (a) report index-path vs oracle
    vs recall-join component timings and (b) reuse one precomputed exact
    oracle across calls — with IDENTICAL recall either way."""
    from pyspark.sql import functions as F

    from rdf_indexer_spark.similarity import (
        cosine_topk_batch, ivf_index, ivf_recall_at_k, kmeans_centroids,
        lsh_recall_at_k, synthetic_clustered_embeddings,
    )

    emb = synthetic_clustered_embeddings(spark, n=400, dim=16, n_clusters=8)
    q_rows = emb.filter(F.col("vec_id") < 8).select(
        "vec_id", "embedding").collect()
    queries_df = emb.sparkSession.createDataFrame(
        [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
         for r in q_rows],
        "query_id int, qvec array<double>",
    )
    oracle = cosine_topk_batch(emb, queries_df, 5).persist()
    oracle.count()

    t_own = {}
    r_own = lsh_recall_at_k(emb, n_queries=8, k=5, n_tables=4, n_bits=6,
                            timings=t_own)
    assert {"index_path", "oracle", "recall_join"} <= set(t_own)
    assert all(v > 0 for v in t_own.values())

    t_shared = {}
    r_shared = lsh_recall_at_k(emb, n_queries=8, k=5, n_tables=4, n_bits=6,
                               oracle=oracle, timings=t_shared)
    assert r_shared == r_own
    assert "oracle" not in t_shared  # caller owns the oracle pass

    cents = kmeans_centroids(emb, dim=16, n_centroids=4, sample=100)
    iv = ivf_index(emb, cents)
    a = ivf_recall_at_k(emb, n_queries=8, k=5, nprobe=4,
                        centroids=cents, index_df=iv)
    t_ivf = {}
    b = ivf_recall_at_k(emb, n_queries=8, k=5, nprobe=4,
                        centroids=cents, index_df=iv,
                        oracle=oracle, timings=t_ivf)
    assert a == b
    assert "oracle" not in t_ivf and "index_path" in t_ivf
    oracle.unpersist()


def test_embed_neardup_recall_is_one(spark, vecs):
    """embedding_near_duplicates ≡ numpy brute force on a corpus with
    planted near-dups (the CORRECTNESS contract: LSH candidates must reach
    recall 1 on the deterministic corpus so output == all-pairs oracle)."""
    from rdf_indexer_spark.similarity import embedding_near_duplicates

    rows, df = vecs
    got = sorted(
        (r["id_a"], r["id_b"], round(r["cosine"], 5))
        for r in embedding_near_duplicates(df, dim=16, threshold=0.9).collect()
    )
    mat = np.array([r[1] for r in rows])
    ids = [r[0] for r in rows]
    x = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sim = x @ x.T
    want = sorted(
        (ids[i], ids[j], round(float(sim[i, j]), 5))
        for i in range(len(ids)) for j in range(i + 1, len(ids))
        if sim[i, j] >= 0.9
    )
    assert want, "fixture must contain at least one planted near-dup pair"
    assert got == want


def test_embed_neardup_hot_bucket_guard(spark):
    """A degenerate bucket (many identical vectors) larger than max_bucket is
    dropped from the banding join; pairs it contained are NOT reported unless
    another table catches them — with every table seeing the same identical
    signature, a 1-vector cap must yield zero pairs instead of an O(n²) join."""
    from rdf_indexer_spark.similarity import embedding_near_duplicates

    rows = [(i, [1.0] * 8) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_near_duplicates(df, dim=8, threshold=0.9, max_bucket=1)
    assert out.count() == 0
    full = embedding_near_duplicates(df, dim=8, threshold=0.9, max_bucket=256)
    assert full.count() == 20 * 19 // 2


def test_signature_udf_bit_identical_to_expression_path(spark, vecs):
    """r6 optimization guard: the Arrow exact-left-fold signature kernel
    (lsh_index) must be BIT-identical to the per-bit JVM expression path
    it replaced (cumsum reproduces the aggregate fold's IEEE-754 sums)."""
    from pyspark.sql import functions as F

    from rdf_indexer_spark.similarity import (_hyperplanes, _signature_col,
                                              lsh_index)

    _, df = vecs
    dim, n_tables, n_bits = 16, 3, 10
    new = lsh_index(df, dim=dim, n_tables=n_tables, n_bits=n_bits).select(
        "table", "signature", "vec_id")
    parts = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_bits, t)
        parts.append(df.select(
            F.lit(t).alias("table"),
            _signature_col(F.col("embedding"), planes).alias("signature"),
            F.col("vec_id")))
    old = parts[0]
    for p in parts[1:]:
        old = old.unionByName(p)
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_ivf_cell_udf_matches_expression_argmin(spark, vecs):
    """r6 optimization guard: the Arrow nearest-cell kernel (ivf_index)
    must reproduce the array_min-over-(d, cell)-structs assignment,
    including the smaller-cell tie-break."""
    from pyspark.sql import functions as F

    from rdf_indexer_spark.similarity import (_l2_to_centroid, ivf_index,
                                              kmeans_centroids)

    _, df = vecs
    cents = kmeans_centroids(df, dim=16, n_centroids=8, sample=100)
    new = ivf_index(df, cents).select("cell", "vec_id")
    dists = F.array(*[
        F.struct(_l2_to_centroid(F.col("embedding"), c).alias("d"),
                 F.lit(i).alias("cell"))
        for i, c in enumerate(cents)])
    old = df.select(F.array_min(dists)["cell"].alias("cell"), F.col("vec_id"))
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_cosine_topk_batch_bit_identical_to_crossjoin_path(spark, vecs):
    """r6 optimization guard: the mapInPandas batch cosine (exact-left-fold
    kernel, closure-shipped query matrix) must equal the broadcast-crossJoin
    + HOF plan it replaced, bit for bit (scores AND ranks)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from rdf_indexer_spark.similarity import _dot, _norm, cosine_topk_batch

    _, df = vecs
    qdf = df.filter(F.col("vec_id") < 7).select(
        F.col("vec_id").cast("int").alias("query_id"),
        F.col("embedding").alias("qvec"))
    new = cosine_topk_batch(df, qdf, 5)
    qn = F.sqrt(_dot(F.col("qvec"), F.col("qvec")))
    cos = _dot(F.col("embedding"), F.col("qvec")) / (qn * _norm(F.col("embedding")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    old = (df.select("vec_id", "embedding")
           .crossJoin(F.broadcast(qdf))
           .select("query_id", "vec_id", cos.alias("cosine"))
           .withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= 5))
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_cosine_topk_batch_empty_query_set(spark, vecs):
    """An empty query set yields an empty (query_id, vec_id, cosine, rank)
    frame instead of failing inside the fold kernel."""
    from pyspark.sql import functions as F

    from rdf_indexer_spark.similarity import cosine_topk_batch

    _, df = vecs
    qdf = df.filter(F.col("vec_id") < 0).select(
        F.col("vec_id").cast("int").alias("query_id"),
        F.col("embedding").alias("qvec"))
    out = cosine_topk_batch(df, qdf, 5)
    assert out.columns == ["query_id", "vec_id", "cosine", "rank"]
    assert out.collect() == []
