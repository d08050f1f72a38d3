"""The engine's query surface over the driver testdata tables, used by
``__spark_entry__.py`` — one callable per implemented operator family from
SURVEY.md §2, each designed so Catalyst owns the physical plan (filters and
projections reach the parquet scan; joins broadcast where one side is small;
aggregations get map-side partial combine).

Float-valued results are rounded in BOTH the Spark plan and the DuckDB oracle
so cross-engine value hashes match; counts are cast to bigint to align
schemas.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .years import (
    century_col, decade_col, half_century_col, quarter_century_col,
)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# Relational surface (reference §2.F / §2.E / §2.D)
# --------------------------------------------------------------------------

def q_archive_filter(spark, sf):
    """Q-2: primary equality filter, partition-prunable."""
    return load(spark, sf, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_custkey",
        F.round("o_totalprice", 2).alias("total_price"),
    )


def q_fq_and_or(spark, sf):
    """Q-3: fq AND / OR constraint combinations."""
    li = load(spark, sf, "lineitem")
    return li.filter(
        ((F.col("l_returnflag") == "R") & (F.col("l_linestatus") == "F"))
        | (F.col("l_quantity") < 3)
    ).select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")


def q_point_lookup(spark, sf):
    """Q-7: uri-style point lookup."""
    return load(spark, sf, "orders").filter(F.col("o_orderkey") == 500).select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )


def q_pagination(spark, sf):
    """Q-5/Q-6: stable sort + pagination (start=100, rows=50)."""
    return (
        load(spark, sf, "orders")
        .orderBy("o_orderkey")
        .offset(100)
        .limit(50)
        .select("o_orderkey", "o_orderstatus")
    )


def q_projection(spark, sf):
    """Q-4: field-list projection (column pruning reaches the scan)."""
    return load(spark, sf, "customer").select("c_custkey", "c_name", "c_nationkey")


def q_delete_by_query(spark, sf):
    """A-12/Q-8: purge-by-query, expressed as the surviving set's count."""
    return load(spark, sf, "orders").filter(
        ~(F.col("o_orderstatus") == "F")
    ).agg(F.count("*").cast("bigint").alias("remaining"))


def q_agg_summary(spark, sf):
    """G-5..G-8 aggregation family (TPC-H Q1 shape): map-side partial agg."""
    return (
        load(spark, sf, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("2024-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 1).alias("sum_base_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").cast("bigint").alias("count_order"),
        )
    )


def q_error_summary(spark, sf):
    """G-8: distinct-count error-report stats."""
    return (
        load(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("distinct_users"),
            F.count("*").cast("bigint").alias("n_events"),
        )
    )


def q_derived_dates(spark, sf):
    """D-5: decade/quarter/half/century derivations from 4-digit years."""
    year4 = F.date_format("o_orderdate", "yyyy")
    return (
        load(spark, sf, "orders")
        .select(
            "o_orderkey",
            year4.alias("year4"),
            decade_col(year4).alias("decade"),
            quarter_century_col(year4).alias("quarter_century"),
            half_century_col(year4).alias("half_century"),
            century_col(year4).alias("century"),
        )
    )


def q_first_last(spark, sf):
    """G-1/G-2: first/last-value-per-group semantics via explicit ordering."""
    o = load(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wd = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        o.withColumn("rn_a", F.row_number().over(w))
        .withColumn("rn_d", F.row_number().over(wd))
        .filter((F.col("rn_a") == 1) | (F.col("rn_d") == 1))
        .groupBy("o_custkey")
        .agg(
            F.min(F.when(F.col("rn_a") == 1, F.col("o_orderkey"))).alias("first_order"),
            F.min(F.when(F.col("rn_d") == 1, F.col("o_orderkey"))).alias("last_order"),
        )
    )


def q_window_running(spark, sf):
    """J-8: running max/sum windows over an ordered stream."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load(spark, sf, "events").select(
        "event_id", "user_id",
        F.round(F.max("value").over(w), 2).alias("running_max"),
        F.count("*").over(w).cast("bigint").alias("running_n"),
    )


def q_full_outer_compare(spark, sf):
    """J-3/J-4: full-outer diff join + when-chain classification."""
    c = load(spark, sf, "customer").select(F.col("c_custkey").alias("key")).distinct()
    o = load(spark, sf, "orders").select(F.col("o_custkey").alias("key")).distinct()
    j = c.withColumn("in_c", F.lit(1)).join(
        o.withColumn("in_o", F.lit(1)), "key", "full_outer"
    )
    status = (
        F.when(F.col("in_c").isNotNull() & F.col("in_o").isNotNull(), "matched")
        .when(F.col("in_c").isNotNull(), "not reindexed")
        .otherwise("introduced")
    )
    return j.select("key", status.alias("status"))


def q_except_all(spark, sf):
    """J-6: set-difference (skipped-doc test)."""
    c = load(spark, sf, "customer").select(F.col("c_custkey").alias("key"))
    o = load(spark, sf, "orders").select(F.col("o_custkey").alias("key"))
    return c.exceptAll(o)


def q_resolve_join(spark, sf):
    """J-1 shape: reference resolution as a broadcast equi-join (nation →
    region inlined, like isPartOf → parent doc JSON)."""
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region")
    return n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]).select(
        "n_nationkey", "n_name", F.col("r_name").alias("region_name")
    )


def q_multi_join_topk(spark, sf):
    """TPC-H Q3 shape: 3-way join → agg → deterministic top-k.

    r6 plan shape (guide §2.3 "aggregate before you shuffle"): revenue is
    partially aggregated per l_orderkey BEFORE any join, so the shuffle
    carries one row per order key instead of every line item; the
    orders⋈customer side reduces to the surviving key set first (both key
    columns are unique — TPC-H primary keys — so the join is a pure
    filter and the aggregate commutes with it; result-identical to the
    join-first plan, which the oracle still states verbatim). At bench
    scale AQE then broadcasts the key set so the aggregated side never
    shuffles for the join; at cluster scale it degrades to a hash join of
    two already-reduced relations."""
    c = load(spark, sf, "customer").select("c_custkey")
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount")
    rev = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev"))
    keep = o.join(c, o["o_custkey"] == c["c_custkey"]).select("o_orderkey")
    return (
        rev.join(keep, rev["l_orderkey"] == keep["o_orderkey"])
        .select("o_orderkey", F.round("_rev", 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q_events_tumbling(spark, sf):
    """Streaming-shaped tumbling-window aggregation (batch equivalent of the
    structured-streaming plan; see streaming/)."""
    win = F.date_trunc("hour", F.col("ts"))
    return (
        load(spark, sf, "events")
        .groupBy(
            F.date_format(win, "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


# --------------------------------------------------------------------------
# Fulltext / index surface over `documents` (the engine's centerpiece)
# --------------------------------------------------------------------------

def _doc_tokens(spark, sf):
    from .textops import spread_partitions, tokens_col

    # spread: the single-file documents source plans 1-2 scan partitions,
    # serializing the tokenizer; a no-op on wide cluster scans
    return spread_partitions(load(spark, sf, "documents"), "doc_id").select(
        "doc_id", tokens_col(F.col("text")).alias("toks")
    )


def q_token_count(spark, sf):
    """T-11 tokenizer: per-doc token counts (JVM-native)."""
    return _doc_tokens(spark, sf).select(
        "doc_id", F.size("toks").cast("bigint").alias("n_tokens")
    )


def q_postings(spark, sf):
    """The (term, doc_id, tf) posting relation for a fixed term set."""
    terms = ["data", "spark", "query"]
    return (
        _doc_tokens(spark, sf)
        .select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("term", "doc_id")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )


def q_term_df(spark, sf):
    """Document frequency per term (posting-list lengths)."""
    return (
        _doc_tokens(spark, sf)
        .select("doc_id", F.explode(F.array_distinct("toks")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("df"))
    )


def q_corpus_stats(spark, sf):
    """N, avgdl, total tokens — the BM25 statistics table."""
    dl = _doc_tokens(spark, sf).select(F.size("toks").alias("dl"))
    return dl.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(F.avg("dl"), 4).alias("avgdl"),
        F.sum("dl").cast("bigint").alias("total_tokens"),
    )


BM25_QUERY_TERMS = ["window", "shuffle", "join"]
K1 = 1.2
B = 0.75


def q_bm25_scores(spark, sf):
    """Q-9: exact BM25 scoring (k1=1.2, b=0.75) for a fixed query, every
    matching doc — the full-text relevance centerpiece, cross-checked against
    a from-scratch SQL restatement in DuckDB."""
    toks = _doc_tokens(spark, sf)
    tf = (
        toks.select("doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term"))
        .filter(F.col("term").isin(BM25_QUERY_TERMS))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    stats = toks.agg(
        F.count("*").alias("n"), F.avg(F.size("toks")).alias("avgdl")
    )
    df = (
        toks.select(F.explode(F.array_distinct("toks")).alias("term"))
        .filter(F.col("term").isin(BM25_QUERY_TERMS))
        .groupBy("term").agg(F.count("*").alias("df"))
    )
    contrib = (
        F.log(1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        * F.col("tf")
        / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", contrib.alias("contrib"))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("term", "contrib"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["contrib"],
                ),
                4,
            ).alias("score")
        )
    )


def q_text_size_windows(spark, sf):
    """J-8: max total text bytes over windows of 100 consecutive docs
    (RDFCompare.java:119-145 windowed running-size stats).

    doc_ids are dense 0..N-1 by construction (docids.assign_doc_ids), so the
    window id is ``floor(doc_id/100)`` — a plain groupBy, NO global-order
    window (an unpartitioned ``Window.orderBy`` executes as a single-task
    sort: the r1 scale-killer this replaces). For non-dense keys the same
    shape comes from compare.uri_order_rank (range-partition + offsets)."""
    return (
        load(spark, sf, "documents")
        .select("doc_id", F.length("text").alias("tlen"))
        .groupBy(F.floor(F.col("doc_id") / 100).cast("bigint").alias("window_id"))
        .agg(
            F.sum("tlen").cast("bigint").alias("window_bytes"),
            F.max("tlen").cast("bigint").alias("max_doc_bytes"),
            F.count("*").cast("bigint").alias("docs"),
        )
    )


_INDEX_CACHE: dict[tuple[str, bool], str] = {}


def _index_for(spark, sf, positional: bool = False):
    """Build (once per sf_dir × positional flag) the real on-disk index
    over documents; the positional variant additionally stores per-posting
    token positions (phrase-query substrate, build.py positions=True)."""
    import tempfile

    from .index.build import build_index

    key = (sf, positional)
    if key not in _INDEX_CACHE:
        d = tempfile.mkdtemp(prefix="qidx_")
        # lang/source ride along as docstore metadata (build meta_cols —
        # the index's stored fields): the facet surface counts over them,
        # and fq predicates can reference them like any stored field.
        docs = load(spark, sf, "documents").select(
            "doc_id", "text", "lang", "source", "n_chars")
        build_index(spark, docs, d, num_buckets=4, resume=False,
                    positions=positional,
                    meta_cols=("lang", "source", "n_chars"))
        _INDEX_CACHE[key] = d
    return _INDEX_CACHE[key]


_READER_CACHE: dict[tuple[int, str], "object"] = {}


def _reader_for(spark, sf, positional: bool = False):
    """One IndexReader per cached index directory (r6): the shared
    ``_index_for`` index is immutable for the session (mutation entries
    build their own temp copies), so the reader's startup jobs (stats
    collect, tombstone probe/broadcast) and its per-table relation cache
    are paid once instead of per query call."""
    from .index.bm25 import IndexReader

    d = _index_for(spark, sf, positional)
    key = (id(spark), d)
    if key not in _READER_CACHE:
        _READER_CACHE[key] = IndexReader(spark, d)
    return _READER_CACHE[key]


def q_bm25_topk_wand(spark, sf):
    """Q-9 end-to-end through the REAL engine: on-disk blocks + the
    columnar scoring core's top-10 on the driver route, oracle-checked
    against a from-scratch SQL BM25 (rounded scores; ties broken by doc_id
    in both engines)."""
    from .index.bm25 import IndexReader

    reader = _reader_for(spark, sf)
    hits = reader.search_wand(" ".join(BM25_QUERY_TERMS), 10)
    return spark.createDataFrame(
        [(int(d), float(s)) for d, s in hits], "doc_id long, score double"
    ).select("doc_id", F.round("score", 4).alias("score"))


def q_bm25_topk_wand_dist(spark, sf):
    """Q-9 through the DISTRIBUTED route: the columnar local top-k runs
    per part bucket on the executors (applyInPandas), the driver merges
    ≤ parts·k rows — the 100-TB query shape (no block bytes reach the
    driver). Oracle: the same from-scratch SQL BM25 top-10."""
    from .index.bm25 import IndexReader

    reader = _reader_for(spark, sf)
    hits = reader.search_wand_distributed(" ".join(BM25_QUERY_TERMS), 10)
    return spark.createDataFrame(
        [(int(d), float(s)) for d, s in hits], "doc_id long, score double"
    ).select("doc_id", F.round("score", 4).alias("score"))


def q_bm25_topk_and(spark, sf):
    """Conjunctive (pure-AND) BM25 top-10 — Lucene +required semantics:
    only docs containing EVERY query term, each term its own required
    unit group in the columnar core (bm25._local_clauses). Oracle: the
    from-scratch SQL BM25 with a HAVING matched-terms = |index-present
    query terms| clause."""
    from .index.bm25 import IndexReader

    reader = _reader_for(spark, sf)
    hits = reader.search_wand("table query filter", 10, mode="and")
    return spark.createDataFrame(
        [(int(d), float(s)) for d, s in hits], "doc_id long, score double"
    ).select("doc_id", F.round("score", 4).alias("score"))


PHRASE_QUERY = "table hash"


def q_bm25_topk_phrase(spark, sf):
    """Exact-phrase BM25 top-10 over the POSITIONAL index (Q-9 extension,
    VERDICT r4 item 4): Lucene PhraseQuery semantics — doc matches iff the
    consecutive token sequence occurs, pf = occurrence count, score =
    (Σ idf of the phrase terms) · pf/(pf + K(dl)). Oracle: a from-scratch
    DuckDB positional restatement (unnest + generate_subscripts, slot-
    shifted position self-join)."""
    from .index.bm25 import IndexReader

    reader = _reader_for(spark, sf, positional=True)
    hits = reader.search_phrase(PHRASE_QUERY, 10)
    return spark.createDataFrame(
        [(int(d), float(s)) for d, s in hits], "doc_id long, score double"
    ).select("doc_id", F.round("score", 4).alias("score"))


def q_bm25_after_update(spark, sf):
    """Index mutation under the oracle gate (r5): ``update_documents``
    (delete+append composed — Lucene ``updateDocument`` semantics, the
    reference's RESOLVE re-post loop, RDFIndexer.java:453-562) followed by
    a BM25 top-10 on the mutated index. The first 5 docs get new text
    (original + two marker tokens); the query mixes the marker with
    ordinary terms, so correct results REQUIRE both the tombstones (old
    versions must not surface) and the appended postings (new versions
    must score with the marker's idf).

    Oracle: from-scratch SQL BM25 over the two-version corpus — old
    versions kept in the statistics but excluded from results (the
    documented Lucene deleted-docs posture). Hit ids are mapped back to
    the stable original ids (updated docs live under fresh dense ids
    index-side) so the compare is id-assignment-independent."""
    import tempfile

    from .index.bm25 import IndexReader
    from .index.build import build_index
    from .index.docids import assign_doc_ids
    from .index.maintain import update_documents

    d = tempfile.mkdtemp(prefix="qidx_upd_")
    docs = load(spark, sf, "documents").select("doc_id", "text")
    n0 = docs.count()
    upd = docs.filter(F.col("doc_id") < 5).select(
        "doc_id",
        F.concat(F.col("text"),
                 F.lit(" updatedmarker refreshed")).alias("text"),
    )
    build_index(spark, docs, d, num_buckets=4, resume=False)
    update_documents(spark, upd, d, num_buckets=4)
    reader = IndexReader(spark, d)
    hits = reader.search_wand("updatedmarker window join", 10)
    # fresh-id → original-id mapping, recomputed exactly as the mutation
    # assigned it (assign_doc_ids is deterministic in the key set)
    mapping = {
        int(r["_new_id"]) + n0: int(r["_old_id"])
        for r in assign_doc_ids(
            upd.select(F.col("doc_id").alias("_old_id")),
            ["_old_id"], out_col="_new_id").collect()
    }
    rows = [(mapping.get(int(doc), int(doc)), float(s)) for doc, s in hits]
    return spark.createDataFrame(
        rows, "doc_id long, score double"
    ).select("doc_id", F.round("score", 4).alias("score"))


def q_bm25_topk_filtered(spark, sf):
    """BM25 top-10 under an fq visibility filter (Q-2/Q-3 COMBINED with
    Q-9, the Solr q+fq shape): scores unchanged, only docs satisfying the
    docstore predicate are admissible. Routed through the DISTRIBUTED
    route (the predicate is evaluated per part, cogrouped with the block
    scan). Oracle: the same SQL BM25 with the
    predicate on the final selection."""
    from .index.bm25 import IndexReader

    reader = _reader_for(spark, sf)
    hits = reader.search_wand_distributed(
        " ".join(BM25_QUERY_TERMS), 10, where="doc_id % 3 = 0"
    )
    return spark.createDataFrame(
        [(int(d), float(s)) for d, s in hits], "doc_id long, score double"
    ).select("doc_id", F.round("score", 4).alias("score"))


def q_bm25_sql_surface(spark, sf):
    """Q-9 through the SQL table-valued surface: ``SELECT * FROM
    bm25_search('…', 10)`` (index/sqlsurface.py — a Python UDTF running the
    same columnar core executor-side over pyarrow-read blocks). Oracle:
    the same from-scratch SQL BM25 top-10 as bm25_topk_wand."""
    from .index.sqlsurface import register_sql_surface

    register_sql_surface(spark, _index_for(spark, sf))
    q = " ".join(BM25_QUERY_TERMS)
    return spark.sql(
        f"SELECT doc_id, round(score, 4) AS score FROM bm25_search('{q}', 10)"
    )


def q_bm25_sql_fq(spark, sf):
    """The Solr q+fq composition on the SQL surface (r5 — VERDICT r4 item
    3): ``bm25_search(q, k, mode, where)`` evaluates the docstore predicate
    index-side on the worker (sqlsurface._allowed_local), matching
    ``IndexReader.search(where=...)`` exactly. Oracle: the same filtered
    from-scratch SQL BM25 as bm25_topk_filtered."""
    from .index.sqlsurface import register_sql_surface

    register_sql_surface(spark, _index_for(spark, sf))
    q = " ".join(BM25_QUERY_TERMS)
    return spark.sql(
        f"SELECT doc_id, round(score, 4) AS score "
        f"FROM bm25_search('{q}', 10, 'or', 'doc_id % 3 = 0')"
    )


def q_exact_dedup(spark, sf):
    """Exact dedup groups: content-hash groupBy."""
    return (
        load(spark, sf, "documents")
        .groupBy(F.md5("text").alias("content_md5"))
        .agg(
            F.count("*").cast("bigint").alias("dup_count"),
            F.min("doc_id").alias("canonical_id"),
        )
    )


def q_quality(spark, sf):
    """Quality-scoring features (length/punct/stopword ratios)."""
    from .textops import quality_features

    return quality_features(load(spark, sf, "documents")).select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "punct_ratio", "stopword_ratio", "unique_ratio",
    )


def q_ann_cosine(spark, sf):
    """Brute-force cosine against the vec_id=0 embedding (exact scores)."""
    from .similarity import cosine_scores

    emb = load(spark, sf, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    return cosine_scores(emb, [float(x) for x in qvec]).select(
        "vec_id", F.round("cosine", 5).alias("cosine")
    )


# --------------------------------------------------------------------------
# LSH / sketch operators — all ORACLE-checked since r2: the candidate
# generation is Spark-only (banding / chunk joins) but the CONTRACT of each
# query is exactly restateable as brute-force SQL, and on the deterministic
# sandbox corpora the LSH recall is exactly 1 (asserted in pytest with the
# ground truth), so engine output ≡ the brute-force oracle.
# --------------------------------------------------------------------------

def q_minhash_neardup(spark, sf):
    """MinHash+LSH near-dup pairs verified by EXACT distinct-3-gram Jaccard
    ≥ 0.8. Oracle: brute-force all-pairs Jaccard in DuckDB."""
    from .textops import minhash_near_duplicates_exact

    return minhash_near_duplicates_exact(
        load(spark, sf, "documents"), jaccard_threshold=0.8
    )


def q_simhash_neardup(spark, sf):
    """SimHash (60-bit, cross-engine md5 token hashes) pairs with Hamming ≤ 8
    among chunk-bucket candidates. Oracle: all-pairs simhash recomputed in
    SQL with the identical bit-vote, candidate rule and Hamming filter."""
    from .textops import simhash_near_duplicates

    return simhash_near_duplicates(load(spark, sf, "documents"), max_hamming=8)


def q_embed_neardup(spark, sf):
    """Embedding-cosine near-dup pairs (cosine ≥ 0.9) over the embeddings
    table augmented with 60 deterministic planted near-duplicates — the
    synthetic embeddings are near-orthogonal (max pairwise cosine ≈ 0.51),
    so the dup signal is planted in-query with pure double arithmetic that
    Spark and the DuckDB oracle both state verbatim: copy vec_id < 60 as
    vec_id+100000 with per-dim scaling 1 + ((vec_id+i) mod 5)·0.02 (planted
    cosine ≈ 0.9996). Candidates via hyperplane-LSH banding, exact verify;
    oracle is brute-force all-pairs cosine."""
    from .similarity import embedding_near_duplicates

    base = load(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    pert = F.transform(
        F.col("embedding"),
        lambda x, i: x * (
            F.lit(1.0)
            + ((F.col("vec_id") + i) % 5).cast("double") * F.lit(0.02)
        ),
    )
    aug = base.filter(F.col("vec_id") < 60).select(
        (F.col("vec_id") + 100000).alias("vec_id"), pert.alias("embedding")
    )
    corpus = base.unionByName(aug)
    dim = len(base.select("embedding").head()[0])
    return embedding_near_duplicates(corpus, dim=dim, threshold=0.9).select(
        "id_a", "id_b", F.round("cosine", 5).alias("cosine")
    )


def q_langid(spark, sf):
    from .textops import language_id

    return language_id(load(spark, sf, "documents")).select(
        "doc_id", "lang_pred", "lang_score"
    )


def q_fingerprints(spark, sf):
    """Winnowing fingerprint counts (k=5 grams, window 4, md5-60 hashes) —
    restated gram-for-gram in the DuckDB oracle."""
    from .textops import fingerprints

    return fingerprints(load(spark, sf, "documents")).select(
        "doc_id", F.size("fingerprints").cast("bigint").alias("n_fingerprints")
    )


ANN_LSH_TABLES = 2
ANN_LSH_BITS = 8


def q_ann_lsh(spark, sf):
    """Hyperplane-LSH ANN: top-10 by exact cosine among the multiprobe
    (radius-1) bucket candidates. The md5-derived Box-Muller hyperplanes
    make the WHOLE pipeline — planes, sign signatures, probe set, candidate
    join, re-rank — restateable in the DuckDB oracle, so this checks the
    real LSH semantics (recall vs brute force is a quality metric, reported
    separately by bench.py)."""
    from .similarity import lsh_index, lsh_topk

    emb = load(spark, sf, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    idx = lsh_index(emb, dim=len(qvec), n_tables=ANN_LSH_TABLES, n_bits=ANN_LSH_BITS)
    return lsh_topk(
        idx, qvec, dim=len(qvec), k=10,
        n_tables=ANN_LSH_TABLES, n_bits=ANN_LSH_BITS,
    ).select("vec_id", F.round("cosine", 5).alias("cosine"))


def q_sessionize(spark, sf):
    """Gap-based sessionization (batch twin of the applyInPandasWithState
    streaming operator): 30-min gap over the events stream, per-user
    sessions. Fully SQL-restateable (lag + cumulative flag + groupBy)."""
    from .streaming import sessionize_batch

    ev = load(spark, sf, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id", "value"
    )
    s = sessionize_batch(ev, gap_minutes=30)
    return s.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round("sum_value", 2).alias("sum_value"),
    )


def q_ann_batch(spark, sf):
    """Batched exact ANN: top-5 per query for the first 5 embeddings as
    queries, ONE job (broadcast queries + per-query window rank)."""
    from .similarity import cosine_topk_batch

    emb = load(spark, sf, "embeddings")
    qdf = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").cast("int").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qvec"),
    )
    return cosine_topk_batch(emb, qdf, k=5).select(
        "query_id", "vec_id",
        F.round("cosine", 5).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


def q_rdf_documents(spark, sf):
    """RDF parse layer end-to-end on the reference fixtures (rows-only;
    field-level goldens live in tests/test_pipeline.py). A missing fixture
    raises FileNotFoundError naming its path."""
    from .fields import assemble_documents
    from .rdfxml import parse_files_df

    rows = []
    for fn in ("bad_nines_element.rdf", "bad_date.rdf", "role_test.rdf"):
        path = f"/root/reference/test_data/{fn}"
        with open(path, encoding="utf-8", errors="replace") as f:
            rows.append((fn, f.read()))
    files_df = spark.createDataFrame(rows, ["file", "content"])
    docs, _, _ = assemble_documents(parse_files_df(files_df))
    return docs.select(
        "file", "uri", F.size(F.map_keys("fields")).alias("n_fields")
    )


def q_rdf_errors(spark, sf):
    from .fields import assemble_documents
    from .rdfxml import parse_files_df

    rows = []
    for fn in ("bad_nines_element.rdf", "bad_date.rdf", "invalid_xml.rdf",
               "role_test.rdf"):
        path = f"/root/reference/test_data/{fn}"
        with open(path, encoding="utf-8", errors="replace") as f:
            rows.append((fn, f.read()))
    files_df = spark.createDataFrame(rows, ["file", "content"])
    _, errors, _ = assemble_documents(parse_files_df(files_df))
    return errors


def q_bm25_batch(spark, sf):
    """Batch query serving (r4, the QPS surface): TWO queries answered by
    ONE distributed job — ``IndexReader.search_many`` shares a single
    termstats scan and a single term-pruned block scan across the whole
    query set, each part decodes its blocks once and scores every query
    through the columnar core, and a window rank merges
    ≤ parts·k·|Q| rows. Per query rank/score-identical to search_wand
    (test_index); oracle: per-query from-scratch SQL BM25, UNION ALL."""
    from .index.bm25 import IndexReader

    reader = _reader_for(spark, sf)
    out = reader.search_many(
        {"q1": " ".join(BM25_QUERY_TERMS), "q2": "data spark query"}, 10
    )
    return out.select(
        "query_id", "doc_id", F.round("score", 4).alias("score")
    )


def q_bm25_facets(spark, sf):
    """Solr facet.field counts over the FULL match set of an OR query —
    the faceted-browsing response shape the reference's index serves
    (Collex sidebars are facet counts). Cogrouped per-part kernel: ids-only
    block decode ∩ pruned docstore metadata, partial counts per part, tiny
    final agg. Oracle: DuckDB match-set + melt + QUALIFY top-N."""
    from .index.bm25 import IndexReader

    reader = _reader_for(spark, sf)
    return reader.facet_counts(
        " ".join(BM25_QUERY_TERMS), ["lang", "source"], top=5)


def q_facet_browse(spark, sf):
    """Match-all faceting (Solr ``q=*:*`` browsing) under an fq visibility
    predicate: one pruned docstore pass, per-partition partial counts —
    no block decode at all. The browse entry exercises the match-all
    degenerate path + where + top-N truncation."""
    from .index.bm25 import IndexReader

    reader = _reader_for(spark, sf)
    return reader.facet_counts(
        "*:*", ["lang", "source"], where="doc_id % 3 = 0", top=3)


MLT_SEED_DOC = 42


def q_bm25_mlt(spark, sf):
    """Solr/Lucene MoreLikeThis: seed doc 42's top-10 interesting terms by
    tf·idf (ties term-asc), then the standard OR-mode BM25 search with the
    seed dropped from a k+1 overfetch. Oracle: full DuckDB restatement —
    interesting-term selection AND the downstream BM25 — so the term
    choice itself is oracle-checked, not just the final ranking."""
    from .index.bm25 import IndexReader

    seed_text = (
        load(spark, sf, "documents")
        .filter(F.col("doc_id") == MLT_SEED_DOC)
        .select("text").collect()[0]["text"]
    )
    reader = _reader_for(spark, sf)
    hits = reader.more_like_this(
        seed_text, 10, m_terms=10, exclude_doc_id=MLT_SEED_DOC)
    return spark.createDataFrame(
        [(int(d), float(s)) for d, s in hits], "doc_id long, score double"
    ).select("doc_id", F.round("score", 4).alias("score"))


def q_bm25_highlight(spark, sf):
    """Solr ``hl=true``: the top-10 BM25 hits with a highlighted snippet —
    the densest 8-token window of each hit's text (ties: earliest start),
    query terms wrapped in <em> tags. Snippets are built from the pinned
    token stream so the DuckDB oracle rebuilds them byte-for-byte
    (enumerate-all-starts window argmax, identical tie-break)."""
    from .highlight import highlight_hits
    from .index.bm25 import IndexReader

    q = " ".join(BM25_QUERY_TERMS)
    reader = _reader_for(spark, sf)
    hits = spark.createDataFrame(
        [(int(d), float(s)) for d, s in reader.search_wand(q, 10)],
        "doc_id long, score double")
    out = highlight_hits(load(spark, sf, "documents"), hits, q, window=8)
    return out.select(
        "doc_id", F.round("score", 4).alias("score"), "snippet")


LUCENE_QUERY = '+window join^2 -merge'


def q_bm25_boolean(spark, sf):
    """Lucene BooleanQuery through the full production path — the classic
    query string ``+window join^2 -merge`` is PARSED (qparse), routed
    (search_lucene → search_boolean) and executed: MUST gates the match
    set, the boosted SHOULD adds 2× idf score where present, MUST_NOT
    docs are excluded by per-part ids-only postings decode. Oracle: a
    from-scratch DuckDB restatement with (term, boost, required) rows."""
    from .index.bm25 import IndexReader

    reader = _reader_for(spark, sf)
    hits = reader.search_lucene(LUCENE_QUERY, 10)
    return spark.createDataFrame(
        [(int(d), float(s)) for d, s in hits], "doc_id long, score double"
    ).select("doc_id", F.round("score", 4).alias("score"))


def q_bm25_sort_field(spark, sf):
    """Solr ``sort=<field> asc`` — the top-10 of the match set ordered by
    a STORED field (n_chars) instead of relevance, scores never computed
    (Solr skips scoring for non-score sorts). Oracle: DuckDB match set +
    ORDER BY n_chars, doc_id."""
    from .index.bm25 import IndexReader

    reader = _reader_for(spark, sf)
    return reader.search_sorted(
        " ".join(BM25_QUERY_TERMS), "n_chars", ascending=True, k=10)


def q_bm25_grouped(spark, sf):
    """Solr result grouping (``group.field=lang``): top-2 docs by BM25
    inside each of the 3 best lang groups, groups ranked by their best
    doc's score. Oracle: the same BM25 score CTE + two window ranks."""
    from .index.bm25 import IndexReader

    reader = _reader_for(spark, sf)
    out = reader.search_grouped(
        " ".join(BM25_QUERY_TERMS), "lang", k_groups=3, k_per_group=2)
    return out.select(
        "lang", "doc_id", F.round("score", 4).alias("score"), "doc_rank")


def q_facet_range(spark, sf):
    """Solr ``facet.range`` over n_chars: [0, 2000) in 250-wide buckets of
    the OR match set, zero buckets included (Solr returns every bucket).
    Oracle: DuckDB generate_series spine + floor-bucket counts."""
    from .index.bm25 import IndexReader

    reader = _reader_for(spark, sf)
    return reader.facet_range(
        " ".join(BM25_QUERY_TERMS), "n_chars", 0, 2000, 250)


def q_field_stats(spark, sf):
    """Solr stats component: count/min/max/sum/mean of n_chars over the
    match set — one aggregated pass."""
    from .index.bm25 import IndexReader

    reader = _reader_for(spark, sf)
    return reader.field_stats(" ".join(BM25_QUERY_TERMS), "n_chars")


WILDCARD_QUERY = "+s* query"    # 6-way MUST group (s-terms) + SHOULD term
FUZZY_QUERY = "part~2 window"   # part/sort/spark/fast expansion + SHOULD
SLOP_QUERY = '"table hash"~2'   # ordered near-match, ≤2 intervening tokens


def q_bm25_wildcard(spark, sf):
    """Lucene WildcardQuery through the full production path: ``+s*
    query`` — the pattern expands against the term dictionary (ONE
    termstats scan, SCORING_BOOLEAN rewrite capped top-df) into a MUST
    at-least-one-of unit group
    (IndexReader.search_grouped_boolean), the SHOULD term riding along.
    Oracle: DuckDB restates BOTH stages — the dictionary expansion with
    the identical anchored regex + (df desc, term asc) cap, then the
    grouped BM25 (any-expanded-term gate, every present scored term
    contributing its own idf)."""
    from .index.bm25 import IndexReader

    reader = _reader_for(spark, sf)
    hits = reader.search_lucene(WILDCARD_QUERY, 10)
    return spark.createDataFrame(
        [(int(d), float(s)) for d, s in hits], "doc_id long, score double"
    ).select("doc_id", F.round("score", 4).alias("score"))


def q_bm25_fuzzy(spark, sf):
    """Lucene FuzzyQuery through the full production path: ``part~2
    window`` — classic-Levenshtein dictionary expansion (ONE termstats
    scan, (dist asc, df desc, term asc) cap 50) joins the SHOULD list; OR
    semantics, each expanded term scoring with its own idf. Oracle: DuckDB
    restates the expansion (its levenshtein is the same classic edit
    distance) and the OR BM25 over the expanded ∪ literal term set."""
    from .index.bm25 import IndexReader

    reader = _reader_for(spark, sf)
    hits = reader.search_lucene(FUZZY_QUERY, 10)
    return spark.createDataFrame(
        [(int(d), float(s)) for d, s in hits], "doc_id long, score double"
    ).select("doc_id", F.round("score", 4).alias("score"))


def q_bm25_phrase_slop(spark, sf):
    """Sloppy phrase through the parser: ``"table hash"~2`` — ordered
    near-match over the positional index (greedy-chain pf, ≤2 intervening
    positions; the documented in-order deviation from classic Lucene's
    transposing sloppy scorer). Oracle: DuckDB greedy restatement — for
    each 'table' position the MIN following 'hash' position decides the
    chain (greedy is width-optimal for a fixed start), pf = starts whose
    width ≤ slop."""
    from .index.bm25 import IndexReader

    reader = _reader_for(spark, sf, positional=True)
    hits = reader.search_lucene(SLOP_QUERY, 10)
    return spark.createDataFrame(
        [(int(d), float(s)) for d, s in hits], "doc_id long, score double"
    ).select("doc_id", F.round("score", 4).alias("score"))


MIXED_QUERY = '+"table hash" filter -dup'  # phrase ∧ should ∧ prohibited


def q_bm25_lucene_mixed(spark, sf):
    """Phrase clauses interleaved with boolean clauses in ONE scorer tree
    (Lucene BooleanQuery containing a PhraseQuery — the composition the
    classic ``q`` string produces naturally): ``+"table hash" filter
    -dup`` gates on the exact phrase, rides the SHOULD term, and excludes
    docs containing the prohibited term, all in a single scoring pass
    (IndexReader._search_clauses: the required phrase is one scoring unit
    with tf := pf, gating as its own group). Oracle: DuckDB restates the
    phrase pf (adjacency self-join), the SHOULD term's BM25 contribution,
    and the exclusion set from scratch."""
    from .index.bm25 import IndexReader

    reader = _reader_for(spark, sf, positional=True)
    hits = reader.search_lucene(MIXED_QUERY, 10)
    return spark.createDataFrame(
        [(int(d), float(s)) for d, s in hits], "doc_id long, score double"
    ).select("doc_id", F.round("score", 4).alias("score"))


def q_bm25_min_should(spark, sf):
    """Lucene minimumNumberShouldMatch / Solr dismax ``mm``: OR-mode BM25
    over (window, shuffle, join) where a doc must contain ≥ 2 of the
    query terms — the columnar core counts the SHOULD units present at
    each doc (Lucene's MinShouldMatchSumScorer semantics). Oracle: the
    standard from-scratch SQL BM25 with a HAVING matched-terms ≥ 2
    gate."""
    from .index.bm25 import IndexReader

    reader = _reader_for(spark, sf)
    hits = reader.search_boolean(
        [], ["window", "shuffle", "join"], [], k=10, min_should_match=2)
    return spark.createDataFrame(
        [(int(d), float(s)) for d, s in hits], "doc_id long, score double"
    ).select("doc_id", F.round("score", 4).alias("score"))


MISSPELLED = "sot"  # one edit from the corpus term "sort"


def q_spell_suggest(spark, sf):
    """Solr spellcheck / Lucene DirectSpellChecker over the index's term
    dictionary: Levenshtein ≤ 2 candidates for a misspelled query term,
    ranked (distance asc, df desc, term asc). One termstats metadata scan,
    length-band prefilter, JVM-side levenshtein, top-5. Oracle: DuckDB
    corpus-recomputed df + levenshtein with the identical ranking."""
    from .index.bm25 import IndexReader

    reader = _reader_for(spark, sf)
    return reader.suggest(MISSPELLED, max_dist=2, top=5)


def q_bm25_cursor_page2(spark, sf):
    """Solr cursorMark / Lucene searchAfter deep paging: page 1 = top-10,
    page 2 = the next 10 strictly after page 1's last (score, doc_id) in
    (score desc, doc_id asc) order. Page 2 runs through the DISTRIBUTED
    route (the same `after` predicate applies verbatim per part bucket —
    parts hold disjoint doc ids — so the driver merge of per-part pages IS
    the global page). Stateless: no start-offset rescoring, page 10^6
    costs the same one scoring pass. Oracle: the full-ranking SQL BM25 with
    OFFSET 10."""
    from .index.bm25 import IndexReader

    reader = _reader_for(spark, sf)
    q = " ".join(BM25_QUERY_TERMS)
    page1 = reader.search_wand(q, 10)
    assert page1, "page 1 empty — cursor test needs matches"
    page2 = reader.search_wand_distributed(q, 10, after=page1[-1])
    return spark.createDataFrame(
        [(int(d), float(s)) for d, s in page2], "doc_id long, score double"
    ).select("doc_id", F.round("score", 4).alias("score"))


TERMS_PREFIX = "s"


def q_terms_component(spark, sf):
    """Solr terms component (terms.prefix browse / autocomplete): the 4
    highest-df dictionary terms starting with the prefix, (df desc, term
    asc) — limit < |prefix matches| so the top-N truncation boundary is
    exercised, not just the filter. One termstats metadata scan with the
    prefix pushed down; only 4 rows leave the plan. Oracle: DuckDB df
    recount from the raw corpus."""
    from .index.bm25 import IndexReader

    reader = _reader_for(spark, sf)
    return reader.terms(TERMS_PREFIX, limit=4)


def q_facet_pivot(spark, sf):
    """Solr pivot facets (facet.pivot=lang,source): for each lang in the
    BM25 match set, the top-3 source values by count — the two-level
    sidebar drill-down Collex renders. Cogrouped per-part partial pair
    counts; the final agg sees ≤ parts × |lang×source| rows. Oracle:
    DuckDB match set + two-level GROUP BY + QUALIFY per-parent top-N."""
    from .index.bm25 import IndexReader

    reader = _reader_for(spark, sf)
    return reader.facet_pivot(
        " ".join(BM25_QUERY_TERMS), ["lang", "source"], top=3)


RERANK_K = 30
RERANK_WEIGHT = 0.001


def q_bm25_rerank(spark, sf):
    """Solr rerank + additive function-query boost (rq={!rerank
    reRankDocs=30} with bf=n_chars): BM25 top-30 candidates from the
    distributed route, rescored score + 0.001·n_chars against the pruned
    docstore (broadcast candidate join — the big side never shuffles),
    top-10 under (score desc, doc_id asc). Oracle: the same two-stage
    restatement — SQL BM25 top-30 window, then the boosted re-sort."""
    from .index.bm25 import IndexReader

    reader = _reader_for(spark, sf)
    hits = reader.search_reranked(
        " ".join(BM25_QUERY_TERMS), 10, rerank_k=RERANK_K,
        boost_field="n_chars", boost_weight=RERANK_WEIGHT)
    return spark.createDataFrame(
        [(int(d), float(s)) for d, s in hits], "doc_id long, score double"
    ).select("doc_id", F.round("score", 4).alias("score"))


COLLATE_QUERY = "sot windw"  # one edit each from corpus terms


def q_bm25_collated(spark, sf):
    """Solr spellcheck.collate end-to-end: unknown query terms are
    rewritten to their top suggestion ((dist asc, df desc, term asc) over
    the term dictionary) and the corrected query is served. The collated
    string rides along as a column so the ORACLE checks the rewrite AND
    the ranking. Oracle: per-typo levenshtein top-1 CTEs + the
    from-scratch SQL BM25 over the corrected terms."""
    from .index.bm25 import IndexReader

    reader = _reader_for(spark, sf)
    collated, hits = reader.search_collated(COLLATE_QUERY, 10)
    return spark.createDataFrame(
        [(collated, int(d), float(s)) for d, s in hits],
        "collated_query string, doc_id long, score double",
    ).select("collated_query", "doc_id", F.round("score", 4).alias("score"))


def q_facet_queries(spark, sf):
    """Solr facet.query: counts for a mixed set of named subqueries in ONE
    job — an OR facet, an AND facet (both terms required) and a zero-match
    facet whose explicit 0 row checks the name spine. Oracle: per-subquery
    match-set counts UNION ALL."""
    from .index.bm25 import IndexReader

    reader = _reader_for(spark, sf)
    both = reader.facet_queries(
        {"any_window_join": "window join", "missing": "zzznotaword"})
    conj = reader.facet_queries({"both_sort_hash": "sort hash"}, mode="and")
    return both.unionByName(conj)


def _pii_text2(doc_id, text):
    """Deterministic PII planting for the pii entry: the synthetic corpus
    carries no real PII, so emails/phones/IPs are appended by doc_id rule
    IDENTICALLY in the Spark plan and the DuckDB oracle."""
    return F.concat(
        text,
        F.when(doc_id % 3 == 0,
               F.concat(F.lit(" user"), doc_id.cast("string"),
                        F.lit("@example.com"))).otherwise(F.lit("")),
        F.when(doc_id % 7 == 0,
               F.lit(" call +1 415-555-0100")).otherwise(F.lit("")),
        F.when(doc_id % 11 == 0,
               F.concat(F.lit(" from 10.0."),
                        (doc_id % 256).cast("string"),
                        F.lit(".25"))).otherwise(F.lit("")),
    )


def q_decontaminate(spark, sf):
    """Training-set decontamination (GPT-3/Pile n-gram overlap): every doc
    is checked against a benchmark slice (doc_id % 50 = 0) for shared
    distinct 8-gram hashes; clean docs carry explicit 0/false. Both sides
    reduce to hashed gram sets before joining (benchmark broadcast).
    Oracle: the same md5-60 gram hashing + distinct-gram join in SQL."""
    from .textops import decontaminate

    docs = load(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return decontaminate(docs, bench, n=8)


def q_pii_scan(spark, sf):
    """PII detection + redaction over deterministically planted
    identifiers: per-class match counts and the md5 of the redacted text
    (whole-text equality via hash keeps rows small). Pure Column regex;
    the patterns are RE2-compatible so the oracle runs them verbatim."""
    from .textops import pii_scan

    docs = load(spark, sf, "documents").select(
        "doc_id", _pii_text2(F.col("doc_id"), F.col("text")).alias("text"))
    out = pii_scan(docs, redact=True)
    return out.select("doc_id", "n_email", "n_phone", "n_ipv4",
                      F.md5("redacted").alias("redacted_md5"))


def q_repetition(spark, sf):
    """Gopher-style repetition gates: duplicate-line fraction, duplicate-
    line character fraction and duplicate-2-gram fraction over a corpus
    where every 4th doc has its text duplicated as a second line (the
    synthetic corpus is single-line). Native array algebra — the
    comparisons never leave the row. Oracle: exploded line/2-gram
    recounts in SQL."""
    from .textops import repetition_stats

    doc_id = F.col("doc_id")
    text2 = F.when(doc_id % 4 == 0,
                   F.concat_ws("\n", "text", "text")).otherwise(
        F.concat(F.col("text"), F.lit("\ntail"), doc_id.cast("string")))
    docs = load(spark, sf, "documents").select(
        "doc_id", text2.alias("text"))
    return repetition_stats(docs)


SYNONYMS = {"sort": ["order"], "fast": ["quick"]}  # quick: unindexed member


def q_bm25_synonyms(spark, sf):
    """Query-time synonyms with Lucene SynonymQuery scoring: each group
    (term + synonyms) is ONE scorer — tf summed across members, idf from
    the max member df — served through the distributed per-part route.
    'quick' is absent from the corpus, so its group degrades to the lone
    indexed member. Oracle: grouped-tf/max-df SQL BM25."""
    from .index.bm25 import IndexReader

    reader = _reader_for(spark, sf)
    hits = reader.search_synonyms_distributed("fast sort", SYNONYMS, 10)
    return spark.createDataFrame(
        [(int(d), float(s)) for d, s in hits], "doc_id long, score double"
    ).select("doc_id", F.round("score", 4).alias("score"))


def q_bm25_sql_facets(spark, sf):
    """Solr facet.field through the SQL table surface: ``SELECT * FROM
    bm25_search_facets(q, 'lang,source', 5)`` — the UDTF twin of
    IndexReader.facet_counts (ids-only pyarrow block decode + docstore
    metadata mask on the worker). Oracle: the same DuckDB match-set +
    melt + QUALIFY top-N as bm25_facets."""
    from .index.sqlsurface import register_sql_surface

    register_sql_surface(spark, _index_for(spark, sf))
    q = " ".join(BM25_QUERY_TERMS)
    return spark.sql(
        f"SELECT * FROM bm25_search_facets('{q}', 'lang,source', 5)")
