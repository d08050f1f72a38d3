"""Similarity search over an embedding column (array<float>).

Two paths, same contract:

* ``cosine_topk`` — brute-force baseline: broadcast the query vector,
  JVM-native dot product (``zip_with`` + ``aggregate``), exact top-k.
  At 100 TB this is a full scan but a perfectly parallel, shuffle-free one
  (only the top-k limit reduces).

* ``lsh_topk`` — scale path: random-hyperplane LSH (Charikar 2002). Vectors
  are bucketed by an nbit sign signature; queries probe their own bucket plus
  multi-probe neighbors (1-bit flips), scoring only the candidates. Recall
  is tunable via n_tables/n_bits; the plan is an equi-join on (table,
  signature) — candidate generation never goes O(n²).

**Deterministic, cross-engine hyperplanes** (r2): plane weights are
Box-Muller gaussians derived from md5 — ``z = √(−2·ln u₁)·cos(2π u₂)`` with
``u₁,u₂`` the 60-bit md5 integers of ``"lsh:{table}:{bit}:{dim}:u{1,2}"``.
That makes the ENTIRE LSH — planes, signatures, bucket probes, cosine
re-rank — restateable in the DuckDB oracle (verified bit-identical), so the
correctness gate checks the real LSH semantics, not a brute-force stand-in.
Recall vs exact top-k is a *quality* metric, measured separately in bench.py
(on the driver's near-orthogonal synthetic embeddings no sublinear probe can
guarantee exact top-k; on clustered real corpora the same knobs trade probe
cost for recall).

An **IVF variant** (``kmeans_centroids`` / ``ivf_index`` / ``ivf_topk``)
provides the FAISS-style coarse-quantizer path: deterministic sample-trained
k-means, native nearest-centroid assignment, nprobe cell scan + exact
re-rank. On a cluster the index is written partitioned by ``cell`` so a
probe reads nprobe/n_centroids of the data.
"""

from __future__ import annotations

import hashlib
import math
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, IntegerType, LongType

# Chunk size for the batched numpy kernels below: bounds the (rows × dim ×
# planes/queries) float64 intermediates to a few tens of MB per Arrow batch.
_NP_CHUNK = 1024


def _fold_dot(x64: np.ndarray, w: np.ndarray) -> np.ndarray:
    """Exact left-fold dot products: for rows X (n, dim) and columns W
    (dim, m), returns (n, m) sums accumulated IN ARRAY ORDER via cumsum —
    bit-identical to Spark's ``aggregate(zip_with(a, b, x*y), 0.0, +)``
    fold (0.0 + p0 == p0 exactly, then strictly sequential additions), so
    swapping the JVM higher-order-function dot for this kernel cannot
    change any result, not even in the last ulp. A plain ``X @ W`` would
    NOT have this property (BLAS reorders the additions)."""
    prods = x64[:, :, None] * w[None, :, :]
    return np.cumsum(prods, axis=1)[:, -1, :]


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine_scores(
    df: DataFrame, query_vec: list[float],
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine similarity of every row against ``query_vec`` (native)."""
    q = F.lit([float(x) for x in query_vec])
    qn = float(np.sqrt(np.dot(query_vec, query_vec)))
    cos = _dot(F.col(vec_col), q) / (F.lit(qn) * _norm(F.col(vec_col)))
    return df.select(F.col(id_col).alias("vec_id"), cos.alias("cosine"))


def cosine_topk(
    df: DataFrame, query_vec: list[float], k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    return (
        cosine_scores(df, query_vec, id_col, vec_col)
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# random-hyperplane LSH
# ---------------------------------------------------------------------------

_TWO60 = float(1 << 60)


def _u60(s: str) -> int:
    """60-bit md5 integer — the Python twin of textops.h60_col / the DuckDB
    hex-digit sum (all three verified bit-identical)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _plane_weight(table: int, bit: int, d: int) -> float:
    """Deterministic standard gaussian via Box-Muller over md5 uniforms."""
    u1 = (_u60(f"lsh:{table}:{bit}:{d}:u1") + 1) / _TWO60   # (0, 1]
    u2 = _u60(f"lsh:{table}:{bit}:{d}:u2") / _TWO60          # [0, 1)
    return math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.pi * u2)


@lru_cache(maxsize=None)
def _hyperplanes(dim: int, n_bits: int, table: int) -> np.ndarray:
    """Cached: the planes are a pure function of (table, bit, dim) — the
    md5/Box-Muller derivation costs ~1.5k hashes per table and was being
    recomputed per (query, table) in the batch probe builders."""
    return np.array(
        [[_plane_weight(table, b, d) for d in range(dim)] for b in range(n_bits)]
    )


def _signature_col(vec: Column, planes: np.ndarray) -> Column:
    """Sign signature as a long, computed natively: bit b set iff v·h_b > 0.

    Plane rows are single ARRAY LITERALS (``F.lit(list)``), not
    ``array(lit, lit, …)`` trees: one Column object per plane instead of
    ``dim`` py4j round-trips each — for a 4-table × 12-bit × 64-dim index
    that removes ~3k driver calls (~3.5 s of pure plan construction,
    measured), with a bit-identical fold on the executors."""
    bits = [
        F.when(
            _dot(vec, F.lit([float(x) for x in planes[b]])) > 0,
            F.shiftleft(F.lit(1).cast("long"), b),
        ).otherwise(F.lit(0).cast("long"))
        for b in range(planes.shape[0])
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def _make_signature_batch_udf(dim: int, n_tables: int, n_bits: int):
    """Arrow UDF computing EVERY table's sign signature in one pass:
    vec → array of ``n_tables`` longs. Dot products use the exact-left-fold
    kernel (:func:`_fold_dot`), so bit b of table t is set iff the same
    IEEE-754 sum the JVM ``aggregate`` fold produces is > 0 — signatures
    are bit-identical to the per-bit expression path (asserted in
    tests/test_similarity.py), while one vectorized kernel replaces
    ``n_tables × n_bits`` interpreted higher-order expressions and the
    n_tables-way union of source scans."""
    planes = np.stack([_hyperplanes(dim, n_bits, t) for t in range(n_tables)])
    w = planes.reshape(n_tables * n_bits, dim).T.copy()  # (dim, T*nb)
    bitvals = (np.int64(1) << np.arange(n_bits, dtype=np.int64))

    @pandas_udf(ArrayType(LongType()))
    def sig_udf(vecs: pd.Series) -> pd.Series:
        out = [None] * len(vecs)
        idxs, rows = [], []
        for i, v in enumerate(vecs):
            if v is None:
                out[i] = [0] * n_tables  # JVM: null fold → bit never set
                continue
            a = np.asarray(v, dtype=np.float64)
            if a.shape != (dim,):
                out[i] = [0] * n_tables  # JVM: zip_with null-pads → null fold
                continue
            idxs.append(i)
            rows.append(a)
        if rows:
            x = np.stack(rows)
            for s in range(0, len(x), _NP_CHUNK):
                xc = x[s:s + _NP_CHUNK]
                dots = _fold_dot(xc, w)                      # (n, T*nb)
                bits = (dots > 0).reshape(len(xc), n_tables, n_bits)
                sigs = (bits * bitvals[None, None, :]).sum(axis=2)
                for j, row in enumerate(sigs):
                    out[idxs[s + j]] = [int(v) for v in row]
        return pd.Series(out)

    return sig_udf


def lsh_index(
    df: DataFrame, dim: int, n_tables: int = 4, n_bits: int = 12,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(table, signature, vec_id, embedding) bucket table — on a cluster this
    is written partitioned by (table, pmod(signature, P)) so a probe prunes
    to a handful of files.

    One Arrow-batched pass computes all tables' signatures and a posexplode
    fans them out — replacing the previous ``n_tables``-way union whose
    every branch re-scanned the source and evaluated ``n_bits`` interpreted
    HOF dot products per row (~3 s of py4j plan construction + 4 scans for
    the default 4×12 config; signatures proven bit-identical)."""
    sig_udf = _make_signature_batch_udf(dim, n_tables, n_bits)
    return df.select(
        F.posexplode(sig_udf(F.col(vec_col))).alias("table", "signature"),
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
    ).select("table", "signature", "vec_id", "embedding")


def embedding_near_duplicates(
    df: DataFrame, dim: int, threshold: float = 0.9,
    n_tables: int = 6, n_bits: int = 12,
    id_col: str = "vec_id", vec_col: str = "embedding",
    max_bucket: int = 256,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ threshold).

    The dense-vector member of the dedup family (exact / MinHash / SimHash /
    n-gram live in textops.py). Same plan shape as the MinHash operator:

    1. **Candidates** — hyperplane-LSH banding (:func:`lsh_index`): each
       vector gets ``n_tables`` sign signatures of ``n_bits`` bits; a pair is
       a candidate iff it collides in ≥ 1 table. The self-join is an
       equi-join on ``(table, signature)`` — never O(n²). A hot-bucket guard
       (``max_bucket``) drops degenerate buckets (e.g. a mass of zero-ish
       vectors) before the quadratic join, exactly like the MinHash band
       guard; pairs in a dropped bucket still surface via their other tables.
    2. **Dedup** — bare ``(id_a, id_b)`` pairs, payload-free shuffle.
    3. **Verify** — re-join the vectors for surviving candidates only and
       keep pairs whose EXACT double-precision cosine ≥ ``threshold``.

    Miss probability per qualifying pair is ``(1 − p^n_bits)^n_tables`` with
    ``p = 1 − θ/π`` (Charikar 2002); at the defaults and cosine 0.9996 (the
    planted near-dup operating point) that is ≈ 1.2·10⁻⁶, and on the
    deterministic sandbox corpus recall is exactly 1 (asserted in
    tests/test_similarity.py), so output ≡ the brute-force all-pairs oracle.
    At 10^12 scale the verify cost is |candidates| · O(dim), and candidates
    are ~(n_tables / 2^n_bits) of all pairs for near-orthogonal mass."""
    base = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("embedding"),
    )
    # persist: the bucket-guard plan references the signature relation from
    # four subtrees (sizes, the guard join, both self-join sides) — without
    # it each subtree re-runs the hyperplane signature lineage
    from .textops import bucket_candidate_pairs

    idx = lsh_index(base, dim=dim, n_tables=n_tables, n_bits=n_bits).select(
        "table", "signature", "vec_id"
    ).persist()
    cand = bucket_candidate_pairs(
        idx, ["table", "signature"], [], max_bucket, id_col="vec_id"
    )
    ea = base.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_ea"))
    eb = base.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_eb"))
    cos = _dot(F.col("_ea"), F.col("_eb")) / (_norm(F.col("_ea")) * _norm(F.col("_eb")))
    return (
        cand.join(ea, "id_a").join(eb, "id_b")
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def cosine_topk_batch(
    df: DataFrame, queries_df: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k for MANY queries in ONE job: the (small by contract)
    query set is collected and closure-shipped, one ``mapInPandas`` pass
    emits every (query, vector) cosine with the exact-left-fold kernel
    (:func:`_fold_dot` — bit-identical to the previous broadcast-crossJoin
    + HOF plan, which paid an interpreted 2×dim-element fold per pair and
    shipped the query vector on every joined row), and a window ranks
    within each query. Returns (query_id, vec_id, cosine, rank)."""
    from pyspark.sql.window import Window

    q_rows = queries_df.select("query_id", "qvec").collect()
    if not q_rows:
        return df.sparkSession.createDataFrame(
            [], "query_id int, vec_id long, cosine double, rank int")
    qids = np.array([int(r["query_id"]) for r in q_rows], dtype=np.int64)
    qmat = np.array([[float(x) for x in r["qvec"]] for r in q_rows],
                    dtype=np.float64)
    m, dim = qmat.shape
    # per-query norms with the same exact fold the JVM used per row
    qns = np.sqrt(_fold_dot(qmat, qmat.T)[np.arange(m), np.arange(m)])

    def score(batches):
        for pdf in batches:
            ids = pdf["vec_id"].values
            vecs = pdf[vec_col].values
            x = np.stack([np.asarray(v, dtype=np.float64) for v in vecs]) \
                if len(vecs) else np.empty((0, dim))
            for s in range(0, max(len(x), 1), _NP_CHUNK):
                xc = x[s:s + _NP_CHUNK]
                if not len(xc):
                    continue
                dots = _fold_dot(xc, qmat.T)                    # (n, m)
                norms = np.sqrt(
                    np.cumsum(xc * xc, axis=1)[:, -1])          # (n,)
                cos = dots / (qns[None, :] * norms[:, None])
                n = len(xc)
                yield pd.DataFrame({
                    "query_id": np.tile(qids, n),
                    "vec_id": np.repeat(ids[s:s + _NP_CHUNK], m),
                    "cosine": cos.reshape(-1),
                })

    scored = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col)).mapInPandas(
        score, schema="query_id int, vec_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _cosine_for_queries_udf(queries: list[tuple[int, list[float]]]):
    """Arrow UDF (query_id, embedding) → exact cosine against the matching
    closure-shipped query vector. Replaces the broadcast qvec join + the
    interpreted per-row HOF fold on the candidate-scoring paths: the query
    set is small by contract (it came from the driver as a list), so the
    matrix rides the task closure and only (query_id, embedding) cross the
    Arrow boundary. Sums use the exact-left-fold kernel — bit-identical to
    the JVM expression it replaces."""
    qids = np.array([int(q) for q, _ in queries], dtype=np.int64)
    qmat = np.array([[float(x) for x in v] for _, v in queries],
                    dtype=np.float64)
    dim = qmat.shape[1]
    qns = np.sqrt(np.cumsum(qmat * qmat, axis=1)[:, -1])
    slot = {int(q): i for i, q in enumerate(qids)}

    @pandas_udf("double")
    def cos_udf(qid: pd.Series, vecs: pd.Series) -> pd.Series:
        n = len(qid)
        out = np.full(n, np.nan)
        if n == 0:
            return pd.Series(out)
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        qi = np.array([slot[int(q)] for q in qid], dtype=np.int64)
        for s in range(0, n, _NP_CHUNK):
            xc = x[s:s + _NP_CHUNK]
            qc = qi[s:s + _NP_CHUNK]
            dots = np.cumsum(xc * qmat[qc], axis=1)[:, -1]
            norms = np.sqrt(np.cumsum(xc * xc, axis=1)[:, -1])
            out[s:s + _NP_CHUNK] = dots / (qns[qc] * norms)
        return pd.Series(out)

    return cos_udf, dim


def lsh_topk_batch(
    index_df: DataFrame, queries: list[tuple[int, list[float]]], dim: int,
    k: int = 10, n_tables: int = 4, n_bits: int = 12, multiprobe: bool = True,
) -> DataFrame:
    """LSH top-k for MANY queries in ONE job: the probe relation carries a
    query_id, the candidate equi-join fans out per query, exact cosine +
    per-query rank. Returns (query_id, vec_id, cosine, rank)."""
    from pyspark.sql.window import Window

    spark = index_df.sparkSession
    probe_rows = []
    for qid, qvec in queries:
        qv = np.asarray(qvec, dtype=np.float64)
        for t in range(n_tables):
            planes = _hyperplanes(dim, n_bits, t)
            sig = 0
            for b in range(n_bits):
                if float(planes[b] @ qv) > 0:
                    sig |= 1 << b
            probe_rows.append((qid, t, sig))
            if multiprobe:
                probe_rows.extend(
                    (qid, t, sig ^ (1 << b)) for b in range(n_bits)
                )
    probes = spark.createDataFrame(
        probe_rows, "query_id int, table int, signature long"
    ).distinct()
    cand = (
        index_df.join(F.broadcast(probes), ["table", "signature"])
        .select("query_id", "vec_id", "embedding")
        .dropDuplicates(["query_id", "vec_id"])
    )
    cos_udf, _ = _cosine_for_queries_udf(queries)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        cand.select("query_id", "vec_id",
                    cos_udf(F.col("query_id"), F.col("embedding")).alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _query_vectors(df: DataFrame, n_queries: int, id_col: str,
                   vec_col: str) -> list[tuple[int, list[float]]]:
    """First-``n_queries`` query vectors, memoized on the DataFrame object:
    the recall loops call the same (persisted) corpus relation once per
    parameter point, and the query set is a pure function of it."""
    key = (id_col, vec_col, n_queries)
    cache = getattr(df, "_query_vec_cache", None)
    if cache is not None and key in cache:
        return cache[key]
    rows = (
        df.filter(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .collect()
    )
    queries = [(int(r["qid"]), [float(x) for x in r["qv"]]) for r in rows]
    try:
        if cache is None:
            cache = df._query_vec_cache = {}
        cache[key] = queries
    except AttributeError:
        pass
    return queries


def _mean_recall(got: DataFrame, want: DataFrame):
    """Mean per-query recall of ``got`` vs the exact ``want`` top-k.

    Averaged from the WANT side (ADVICE r3): the exact oracle populates
    every query, but an ANN index whose probed cells yield ZERO candidates
    drops the query from ``got`` entirely — ignoring those would silently
    bias recall upward exactly when the index performs worst. Missing
    queries count as recall 0.

    r6: both relations are ≤ n_queries·k rows by construction (top-k per
    query), so the per-query set math runs on the driver over two collects
    instead of a multi-stage groupBy/join/avg Spark job — the collect of
    ``got`` IS the index-path execution being measured; everything after
    it is O(n_queries·k) python."""
    g_sets: dict[int, set] = {}
    for r in got.select("query_id", "vec_id").collect():
        g_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    w_sets: dict[int, set] = {}
    for r in want.select("query_id", "vec_id").collect():
        w_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    if not w_sets:
        return None
    per_q = [
        len(g_sets.get(q, set()) & w) / len(w) for q, w in w_sets.items()
    ]
    return sum(per_q) / len(per_q)


def _timed_recall(got: DataFrame, want: DataFrame, oracle_given: bool,
                  timings: dict | None):
    """Shared recall evaluation with optional component timing (VERDICT r4
    item 5: the recall bench jobs were oracle-dominated and unattributed).
    With ``timings``, materialize the index path and — only when this call
    computed it — the brute-force oracle separately, then time the recall
    join; keys ``index_path`` / ``oracle`` / ``recall_join`` accumulate."""
    import time as _time

    if timings is None:
        avg = _mean_recall(got, want)
        return float(avg) if avg is not None else 0.0

    def _tick(name, fn):
        t0 = _time.perf_counter()
        out = fn()
        timings[name] = timings.get(name, 0.0) + (_time.perf_counter() - t0)
        return out

    got = got.persist()
    _tick("index_path", got.count)
    if not oracle_given:
        want = want.persist()
        _tick("oracle", want.count)
    avg = _tick("recall_join", lambda: _mean_recall(got, want))
    got.unpersist()
    if not oracle_given:
        want.unpersist()
    return float(avg) if avg is not None else 0.0


def lsh_recall_at_k(
    df: DataFrame, n_queries: int = 50, k: int = 10,
    n_tables: int = 4, n_bits: int = 12,
    id_col: str = "vec_id", vec_col: str = "embedding",
    oracle: DataFrame | None = None, timings: dict | None = None,
) -> float:
    """Mean recall@k of LSH vs exact top-k over the first ``n_queries``
    vectors as queries — TWO jobs total (batch LSH + batch brute force).

    ``oracle``: a precomputed exact top-k relation (query_id, vec_id, rank
    ≤ k over the same first-``n_queries`` query set — e.g. one
    :func:`cosine_topk_batch` shared across several recall calls) so the
    brute-force pass isn't re-run per call. ``timings``: see
    :func:`_timed_recall`."""
    queries = _query_vectors(df, n_queries, id_col, vec_col)
    if not queries:
        raise ValueError(
            f"no query vectors found: no rows with {id_col} < {n_queries}"
        )
    dim = len(queries[0][1])
    spark = df.sparkSession
    queries_df = spark.createDataFrame(
        [(q, v) for q, v in queries], "query_id int, qvec array<double>"
    )
    idx = lsh_index(df, dim=dim, n_tables=n_tables, n_bits=n_bits,
                    id_col=id_col, vec_col=vec_col)
    got = lsh_topk_batch(idx, queries, dim, k, n_tables, n_bits)
    want = oracle if oracle is not None else cosine_topk_batch(
        df, queries_df, k, id_col, vec_col)
    return _timed_recall(got, want, oracle is not None, timings)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + nprobe search
# ---------------------------------------------------------------------------

def kmeans_sample(
    df: DataFrame, sample: int, n_rows: int | None = None,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic hash-stride training sample — NO global sort.

    ``orderBy(id).limit(sample)`` plans a global TakeOrdered over every
    vector; instead keep rows whose ``xxhash64(id)`` falls in a stride-sized
    residue class (expected ~2·sample rows). The kept SET is a pure function
    of the ids — deterministic across runs and parallelism levels — and the
    plan is scan→filter, fully parallel and pushdown-friendly."""
    if n_rows is None:
        n_rows = df.count()
    stride = max(n_rows // max(2 * sample, 1), 1)
    return df.select(F.col(id_col).alias("_sid"), F.col(vec_col).alias("_svec")).filter(
        F.pmod(F.xxhash64(F.col("_sid")), F.lit(stride)) == 0
    )


def kmeans_centroids(
    df: DataFrame, dim: int, n_centroids: int = 16, n_iters: int = 10,
    sample: int = 10_000, seed: int = 41,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic Lloyd k-means on a bounded sample, driver-side numpy.

    The sample is a deterministic hash-stride subset (:func:`kmeans_sample`
    — no RNG over data, no global sort; the driver sorts the ≤ ~2·sample
    collected ids in numpy and truncates); init picks evenly-spaced sample
    points. At 10^9+ vectors the coarse quantizer is still trained on a
    bounded sample — this is the standard IVF recipe (FAISS trains on ~256
    vectors/centroid)."""
    rows = kmeans_sample(df, sample, id_col=id_col, vec_col=vec_col).collect()
    rows.sort(key=lambda r: r["_sid"])
    x = np.asarray([list(r["_svec"]) for r in rows[:sample]], dtype=np.float64)
    idx = np.linspace(0, len(x) - 1, n_centroids).astype(int)
    cents = x[idx].copy()
    for _ in range(n_iters):
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(n_centroids):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def _l2_to_centroid(vec: Column, cent: np.ndarray) -> Column:
    c = F.lit([float(v) for v in cent])
    return F.aggregate(
        F.zip_with(vec, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0), lambda acc, v: acc + v,
    )


def ivf_index(
    df: DataFrame, centroids: np.ndarray,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(cell, vec_id, embedding): every vector assigned to its nearest
    centroid. On a cluster this is written partitioned by ``cell`` so an
    nprobe search prunes the scan to nprobe/n_centroids of the data.

    Assignment runs in one Arrow-batched kernel with the exact-left-fold
    L2 (:func:`_fold_dot` over squared differences — bit-identical sums to
    the previous per-centroid ``aggregate(zip_with(...))`` expressions,
    and ``argmin`` breaks distance ties toward the smaller cell exactly
    like ``array_min`` over (d, cell) structs did). The expression form
    paid ``n_centroids`` interpreted HOF evaluations per row and an
    ~O(n_centroids × dim) literal tree in every plan."""
    cmat = np.asarray(centroids, dtype=np.float64)
    n_cells, dim = cmat.shape

    @pandas_udf(IntegerType())
    def cell_udf(vecs: pd.Series) -> pd.Series:
        out = np.zeros(len(vecs), dtype=np.int32)
        idxs, rows = [], []
        for i, v in enumerate(vecs):
            a = np.asarray(v, dtype=np.float64) if v is not None else None
            if a is None or a.shape != (dim,):
                out[i] = 0
                continue
            idxs.append(i)
            rows.append(a)
        if rows:
            x = np.stack(rows)
            for s in range(0, len(x), _NP_CHUNK):
                xc = x[s:s + _NP_CHUNK]
                diff = xc[:, :, None] - cmat.T[None, :, :]   # (n, dim, k)
                d2 = np.cumsum(diff * diff, axis=1)[:, -1, :]
                best = d2.argmin(axis=1).astype(np.int32)
                for j, b in enumerate(best):
                    out[idxs[s + j]] = b
        return pd.Series(out, dtype="int32")

    return df.select(
        cell_udf(F.col(vec_col)).alias("cell"),
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
    )


def ivf_topk(
    index_df: DataFrame, centroids: np.ndarray, query_vec: list[float],
    k: int = 10, nprobe: int = 4,
) -> DataFrame:
    """Scan the ``nprobe`` cells nearest the query; exact cosine re-rank.
    Returns (vec_id, cosine) top-k among the probed cells."""
    qv = np.asarray(query_vec, dtype=np.float64)
    order = np.argsort(((centroids - qv) ** 2).sum(axis=1))
    cells = [int(c) for c in order[:nprobe]]
    cand = index_df.filter(F.col("cell").isin(cells)).select("vec_id", "embedding")
    return cosine_topk(cand, query_vec, k)


def ivf_topk_batch(
    index_df: DataFrame, centroids: np.ndarray,
    queries: list[tuple[int, list[float]]], k: int = 10, nprobe: int = 4,
) -> DataFrame:
    """IVF top-k for MANY queries in ONE job: per-query nprobe nearest cells
    computed driver-side over the (tiny) centroid array, broadcast as a
    (query_id, cell) probe relation, equi-joined to the cell-partitioned
    index, exact cosine + per-query rank. Returns (query_id, vec_id,
    cosine, rank) — the batch twin of :func:`ivf_topk`."""
    from pyspark.sql.window import Window

    spark = index_df.sparkSession
    probe_rows = []
    for qid, qvec in queries:
        qv = np.asarray(qvec, dtype=np.float64)
        order = np.argsort(((centroids - qv) ** 2).sum(axis=1))
        probe_rows.extend((qid, int(c)) for c in order[:nprobe])
    probes = spark.createDataFrame(probe_rows, "query_id int, cell int")
    cand = index_df.join(F.broadcast(probes), "cell").select(
        "query_id", "vec_id", "embedding"
    )
    cos_udf, _ = _cosine_for_queries_udf(queries)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        cand.select("query_id", "vec_id",
                    cos_udf(F.col("query_id"), F.col("embedding")).alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_recall_at_k(
    df: DataFrame, n_queries: int = 50, k: int = 10,
    n_centroids: int = 16, nprobe: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
    centroids: np.ndarray | None = None, index_df: DataFrame | None = None,
    oracle: DataFrame | None = None, timings: dict | None = None,
) -> dict:
    """Mean recall@k of IVF-nprobe vs exact top-k over the first
    ``n_queries`` vectors, plus the mean probed fraction of the corpus —
    the recall/cost point that justifies the nprobe knob. Pass
    ``centroids``/``index_df`` to reuse a built index across nprobe values
    and ``oracle`` to reuse one exact-top-k pass (otherwise EVERY call
    re-runs the brute-force oracle — the r4 bench paid that 3×);
    ``timings`` as in :func:`_timed_recall`.
    Returns {"recall": float, "probed_fraction": float}."""
    queries = _query_vectors(df, n_queries, id_col, vec_col)
    if not queries:
        raise ValueError(
            f"no query vectors found: no rows with {id_col} < {n_queries}"
        )
    dim = len(queries[0][1])
    spark = df.sparkSession
    if centroids is None:
        centroids = kmeans_centroids(df, dim, n_centroids=n_centroids,
                                     id_col=id_col, vec_col=vec_col)
    if index_df is None:
        index_df = ivf_index(df, centroids, id_col=id_col, vec_col=vec_col)
    # memoized on the DataFrame object: the bench/recall loops call this
    # once per nprobe with the SAME (persisted) index relation, and the
    # cell histogram is a pure function of it
    cell_sizes = getattr(index_df, "_ivf_cell_sizes", None)
    if cell_sizes is None:
        cell_sizes = {
            r["cell"]: r["n"]
            for r in index_df.groupBy("cell").agg(F.count("*").alias("n")).collect()
        }
        try:
            index_df._ivf_cell_sizes = cell_sizes
        except AttributeError:
            pass
    n_total = sum(cell_sizes.values())
    probed = 0
    for _, qvec in queries:
        qv = np.asarray(qvec, dtype=np.float64)
        order = np.argsort(((centroids - qv) ** 2).sum(axis=1))
        probed += sum(cell_sizes.get(int(c), 0) for c in order[:nprobe])
    probed_fraction = probed / (n_total * len(queries)) if n_total else 0.0

    queries_df = spark.createDataFrame(
        [(q, v) for q, v in queries], "query_id int, qvec array<double>"
    )
    got = ivf_topk_batch(index_df, centroids, queries, k, nprobe)
    want = oracle if oracle is not None else cosine_topk_batch(
        df, queries_df, k, id_col, vec_col)
    avg = _timed_recall(got, want, oracle is not None, timings)
    return {
        "recall": round(avg, 4),
        "probed_fraction": round(probed_fraction, 4),
    }


def synthetic_clustered_embeddings(
    spark, n: int = 4000, dim: int = 64, n_clusters: int = 40,
    noise: float = 0.25, seed: int = 7,
) -> DataFrame:
    """Deterministic CLUSTERABLE embedding corpus (vec_id, embedding, label).

    The driver's embeddings.parquet vectors are i.i.d. noise — nearest
    neighbors are arbitrary there, so no sublinear ANN structure exists to
    exploit and recall measurements say nothing about the index. This
    generator produces the non-adversarial case ANN indexes exist for:
    ``n_clusters`` unit centers with gaussian jitter (``noise`` × unit).
    Seeded numpy → bit-stable across runs; built driver-side (the corpus is
    a benchmark fixture, not a data path)."""
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, n_clusters, size=n)
    x = centers[labels] + noise * rng.standard_normal((n, dim)) / math.sqrt(dim)
    return spark.createDataFrame(
        [(i, [float(v) for v in x[i]], int(labels[i])) for i in range(n)],
        "vec_id long, embedding array<float>, label int",
    )


def lsh_topk(
    index_df: DataFrame, query_vec: list[float], dim: int, k: int = 10,
    n_tables: int = 4, n_bits: int = 12, multiprobe: bool = True,
) -> DataFrame:
    """Probe the query's buckets (plus 1-bit-flip neighbors) and rank the
    candidates by exact cosine."""
    probes = []
    qv = np.asarray(query_vec, dtype=np.float64)
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_bits, t)
        sig = 0
        for b in range(n_bits):
            if float(planes[b] @ qv) > 0:
                sig |= 1 << b
        probes.append((t, sig))
        if multiprobe:
            for b in range(n_bits):
                probes.append((t, sig ^ (1 << b)))
    probe_df = index_df.sparkSession.createDataFrame(
        probes, "table int, signature long"
    ).distinct()
    candidates = index_df.join(
        F.broadcast(probe_df), ["table", "signature"]
    ).select("vec_id", "embedding").dropDuplicates(["vec_id"])
    return cosine_topk(candidates, query_vec, k)
