"""Index-structure invariants + rank-exactness (SURVEY.md §5.2, §7.6):

- postings sorted / strictly increasing doc_id within (term, block)
- Σ tf over a doc == dl; df == posting count per term
- block-max bound dominates every member contribution
- per-row sha256(content) equality source ↔ doc store
- exhaustive BM25 ≡ block-max WAND on every query (rank + score identity)
- resume: interrupted build resumes without recomputing finished partitions
"""

import os

import numpy as np
import pytest

K_QUERIES = [
    "needle",                      # rare term
    "the",                         # hot term
    "needle the",                  # mixed
    "alpha beta gamma",            # multi-term with shared docs
    "zzznothing",                  # zero hits
    "alpha",
    "beta gamma",
]


def _synth_docs(n=400, seed=7):
    """Deterministic Zipfian corpus with planted needles."""
    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(600)] + ["the", "alpha", "beta", "gamma"]
    weights = 1.0 / np.arange(1, len(vocab) + 1)
    weights /= weights.sum()
    rows = []
    for i in range(n):
        ln = int(rng.integers(20, 300))
        words = rng.choice(vocab, size=ln, p=weights)
        text = " ".join(words)
        if i % 97 == 0:
            text += " needle"
        rows.append((i, text))
    return rows


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    from rdf_indexer_spark.index.build import build_index

    out = str(tmp_path_factory.mktemp("idx"))
    docs = spark.createDataFrame(_synth_docs(), ["doc_id", "text"])
    build_index(spark, docs, out, num_buckets=3, resume=False)
    return out


def test_postings_invariants(spark, index_dir):
    from pyspark.sql import functions as F

    postings = spark.read.parquet(os.path.join(index_dir, "postings"))
    docstore = spark.read.parquet(os.path.join(index_dir, "docstore"))

    # Σ tf per doc == dl
    sums = postings.groupBy("doc_id").agg(F.sum("tf").alias("s"))
    joined = sums.join(docstore, "doc_id")
    assert joined.filter(F.col("s") != F.col("dl")).count() == 0

    # df consistency
    termstats = spark.read.parquet(os.path.join(index_dir, "termstats"))
    df_check = postings.groupBy("term").count().join(termstats, "term")
    assert df_check.filter(F.col("count") != F.col("df")).count() == 0

    # dl carried in postings matches docstore
    assert postings.join(docstore.select("doc_id", F.col("dl").alias("dl2")),
                         "doc_id").filter(F.col("dl") != F.col("dl2")).count() == 0


def test_sha256_invariant(spark, index_dir):
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(_synth_docs(), ["doc_id", "text"])
    src = docs.select("doc_id", F.sha2("text", 256).alias("sha_src"))
    store = spark.read.parquet(os.path.join(index_dir, "docstore"))
    j = src.join(store, "doc_id")
    assert j.count() == docs.count()
    assert j.filter(F.col("sha_src") != F.col("content_sha256")).count() == 0


def test_block_invariants(spark, index_dir):
    from rdf_indexer_spark.index.codec import BLOCK_SIZE, unpack_block

    blocks = spark.read.parquet(os.path.join(index_dir, "blocks")).collect()
    assert blocks
    for blk in blocks:
        ids, tfs, dls = unpack_block(bytes(blk["ids_bin"]), bytes(blk["tfs_bin"]),
                                     bytes(blk["dls_bin"]))
        assert len(ids) == blk["n"] <= BLOCK_SIZE
        assert list(ids) == sorted(set(int(x) for x in ids))  # strictly increasing
        assert ids[0] == blk["first_doc_id"] and ids[-1] == blk["last_doc_id"]
        assert tfs.max() == blk["max_tf"]
        assert dls.min() == blk["dl_min"]


def test_block_max_dominates(spark, index_dir):
    from rdf_indexer_spark.index.bm25 import _norm
    from rdf_indexer_spark.index.codec import unpack_block

    row = spark.read.parquet(os.path.join(index_dir, "stats")).collect()[0]
    avgdl = float(row["avgdl"])
    blocks = spark.read.parquet(os.path.join(index_dir, "blocks")).limit(200).collect()
    for blk in blocks:
        _, tfs, dls = unpack_block(bytes(blk["ids_bin"]), bytes(blk["tfs_bin"]),
                                   bytes(blk["dls_bin"]))
        bound = blk["max_tf"] / (blk["max_tf"] + _norm(blk["dl_min"], avgdl))
        member = tfs / (tfs + np.array([_norm(d, avgdl) for d in dls]))
        assert (member <= bound + 1e-12).all()


@pytest.mark.parametrize("query", K_QUERIES)
def test_wand_equals_exhaustive(spark, index_dir, query):
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, index_dir)
    for k in (1, 10, 100):
        exhaustive = [(r["doc_id"], r["score"])
                      for r in reader.score_exhaustive(query, k).collect()]
        wand = reader.search_wand(query, k)
        assert [d for d, _ in wand] == [d for d, _ in exhaustive], (query, k)
        for (d1, s1), (d2, s2) in zip(wand, exhaustive):
            assert s1 == pytest.approx(s2, rel=1e-12, abs=1e-12)


def test_zero_hit_query(spark, index_dir):
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, index_dir)
    assert reader.search_wand("zzznothing", 10) == []
    assert reader.search_wand_distributed("zzznothing", 10) == []
    assert reader.score_exhaustive("zzznothing", 10).count() == 0


def test_distributed_wand_identity(spark, tmp_path):
    """The executor-side WAND (applyInPandas per part bucket + driver k-way
    merge) must be rank- AND score-identical (bit-exact) to the driver cursor
    walk at every bucketing — VERDICT r1 item #1."""
    from rdf_indexer_spark.index.bm25 import IndexReader
    from rdf_indexer_spark.index.build import build_index

    docs = spark.createDataFrame(_synth_docs(n=300), ["doc_id", "text"])
    for nb in (1, 4, 16):
        out = str(tmp_path / f"dw{nb}")
        build_index(spark, docs, out, num_buckets=nb, resume=False)
        reader = IndexReader(spark, out)
        for q in K_QUERIES:
            for k in (1, 10, 50):
                drv = reader.search_wand(q, k)
                dist = reader.search_wand_distributed(q, k)
                assert dist == drv, (nb, q, k)  # docIDs AND exact doubles


def test_resume_without_recompute(spark, tmp_path):
    """Kill after partition 1 of 3; resume must keep finished partition
    outputs byte-identical and untouched (mtime) and produce a final index
    identical to a clean build."""
    from rdf_indexer_spark.index.build import build_index
    from rdf_indexer_spark.index.manifest import Manifest

    docs = spark.createDataFrame(_synth_docs(n=120), ["doc_id", "text"])

    clean_dir = str(tmp_path / "clean")
    build_index(spark, docs, clean_dir, num_buckets=3, resume=False)

    # interrupted build: inject a failure in the block packer for bucket 1
    out = str(tmp_path / "resumed")
    import rdf_indexer_spark.index.build as B

    original = B._pack_stream
    manifest = Manifest(os.path.join(out, "manifest"))
    B._pack_stream = _fail_after(original, min_doc_id=40)
    try:
        with pytest.raises(Exception):
            # buckets_per_job=1 → one checkpoint commit per bucket
            build_index(spark, docs, out, num_buckets=3, resume=True,
                        buckets_per_job=1)
    finally:
        B._pack_stream = original

    # exactly one bucket committed
    done = [r for r in manifest.records() if r["stage"] == "build"]
    assert len(done) == 1

    mtimes_before = _tree_mtimes(os.path.join(out, "blocks"))

    build_index(spark, docs, out, num_buckets=3, resume=True,
                buckets_per_job=1)

    # finished partition untouched
    mtimes_after = _tree_mtimes(os.path.join(out, "blocks"))
    for k, v in mtimes_before.items():
        assert mtimes_after[k] == v, f"recomputed completed partition file {k}"

    # final index equals clean build
    from rdf_indexer_spark.index.bm25 import IndexReader

    r1 = IndexReader(spark, clean_dir)
    r2 = IndexReader(spark, out)
    assert r1.n_docs == r2.n_docs
    assert r1.avgdl == r2.avgdl
    for q in ("the", "needle", "alpha beta"):
        assert r1.search_wand(q, 20) == r2.search_wand(q, 20)


def _fail_after(original, min_doc_id):
    """Wrap the streaming pack kernel (passed by value into mapInPandas) to
    fail once postings from bucket>=1 appear (doc_id >= 40 for 120 docs / 3
    buckets)."""

    def wrapped(batches):
        def guarded():
            for pdf in batches:
                if (pdf["doc_id"] >= min_doc_id).any():
                    raise RuntimeError("injected failure")
                yield pdf

        return original(guarded())

    return wrapped


def _tree_mtimes(root):
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out[p] = os.stat(p).st_mtime_ns
    return out


def test_rank_determinism_across_partitioning(spark, tmp_path):
    """North-rule determinism: identical top-k (docIDs + scores) no matter
    how the build was partitioned (bucket count / parallelism) — SURVEY.md
    §4.3.6. Bucketing changes file layout, never block contents."""
    from rdf_indexer_spark.index.bm25 import IndexReader
    from rdf_indexer_spark.index.build import build_index

    docs = spark.createDataFrame(_synth_docs(n=150), ["doc_id", "text"])
    readers = []
    for nb in (2, 5):
        out = str(tmp_path / f"b{nb}")
        build_index(spark, docs.repartition(nb + 1), out,
                    num_buckets=nb, resume=False)
        readers.append(IndexReader(spark, out))
    for q in ("the", "needle", "alpha beta gamma", "w1 w2"):
        a = readers[0].search_wand(q, 25)
        b = readers[1].search_wand(q, 25)
        assert a == b, q  # exact: same docIDs AND bit-identical scores


def test_sql_surface_identity(spark, index_dir):
    """``SELECT * FROM bm25_search(q, k)`` (Python UDTF, executor-side
    pyarrow block reads) must be rank- AND score-identical to the driver
    cursor walk — shared cursors, shared tokenizer, shared idf."""
    from rdf_indexer_spark.index.bm25 import IndexReader
    from rdf_indexer_spark.index.sqlsurface import register_sql_surface

    register_sql_surface(spark, index_dir)
    reader = IndexReader(spark, index_dir)
    for q in ("the", "needle", "alpha beta gamma"):
        got = [
            (r["doc_id"], r["score"], r["rank"])
            for r in spark.sql(
                f"SELECT * FROM bm25_search('{q}', 15)"
            ).orderBy("rank").collect()
        ]
        want = [(d, s, i + 1)
                for i, (d, s) in enumerate(reader.search_wand(q, 15))]
        assert got == want, q
    # zero-hit and empty queries yield empty tables, not errors
    assert spark.sql("SELECT * FROM bm25_search('zzznotaword', 5)").count() == 0
    assert spark.sql("SELECT * FROM bm25_search('', 5)").count() == 0
    # conjunctive mode (r4): third arg 'and' == the Python AND walk; an
    # absent required term matches nothing
    got = [(r["doc_id"], r["score"]) for r in spark.sql(
        "SELECT * FROM bm25_search('the alpha', 15, 'and')"
    ).orderBy("rank").collect()]
    assert got == reader.search_wand("the alpha", 15, mode="and")
    assert spark.sql(
        "SELECT * FROM bm25_search('the zzznotaword', 5, 'and')").count() == 0
    # fq (r5): fourth arg is a docstore predicate evaluated index-side,
    # matching IndexReader.search_wand(where=...) exactly — scores
    # unchanged, visibility restricted (Solr q+fq)
    where = "doc_id % 3 = 0"
    got = [(r["doc_id"], r["score"]) for r in spark.sql(
        f"SELECT * FROM bm25_search('the alpha', 15, 'or', '{where}')"
    ).orderBy("rank").collect()]
    assert got == reader.search_wand("the alpha", 15, where=where)
    assert all(d % 3 == 0 for d, _ in got) and got
    # fq composes with AND mode, and an empty visible set yields no rows
    got = [(r["doc_id"], r["score"]) for r in spark.sql(
        f"SELECT * FROM bm25_search('the alpha', 15, 'and', '{where}')"
    ).orderBy("rank").collect()]
    assert got == reader.search_wand("the alpha", 15, mode="and", where=where)
    assert spark.sql(
        "SELECT * FROM bm25_search('the', 5, 'or', 'doc_id < 0')"
    ).count() == 0


def test_and_mode_identity_and_semantics(spark, index_dir):
    """Conjunctive mode: all three paths agree, and every hit contains
    every index-present query term."""
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, index_dir)
    for q in ("the alpha", "w1 w2", "needle the"):
        a = reader.search_wand(q, 20, mode="and")
        b = reader.search_wand_distributed(q, 20, mode="and")
        assert a == b, q
        ex = [(r["doc_id"], r["score"])
              for r in reader.score_exhaustive(q, 20, mode="and").collect()]
        assert [d for d, _ in ex] == [d for d, _ in a]
        for (d1, s1), (d2, s2) in zip(ex, a):
            assert s1 == pytest.approx(s2, rel=1e-12)
        # AND ⊆ OR with identical scores for shared docs
        or_hits = dict(reader.search_wand(q, 10_000))
        for d, s in a:
            assert or_hits[d] == s
    # strict Lucene +required: a required term absent from the index
    # matches NOTHING (on every path)
    assert reader.search_wand("the zzznotaword", 10, mode="and") == []
    assert reader.search_wand_distributed("the zzznotaword", 10, mode="and") == []
    assert reader.score_exhaustive("the zzznotaword", 10, mode="and").count() == 0


def test_filtered_search_identity(spark, index_dir):
    """fq visibility filter: all three paths agree; scores equal the
    unfiltered scores of the admitted docs (filters never score)."""
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, index_dir)
    where = "doc_id % 3 = 0"
    for q in ("the", "alpha beta"):
        a = reader.search_wand(q, 15, where=where)
        b = reader.search_wand_distributed(q, 15, where=where)
        assert a == b, q
        ex = [(r["doc_id"], r["score"])
              for r in reader.score_exhaustive(q, 15, where=where).collect()]
        assert [d for d, _ in ex] == [d for d, _ in a]
        assert all(d % 3 == 0 for d, _ in a)
        unfiltered = dict(reader.search_wand(q, 10_000))
        for d, s in a:
            assert unfiltered[d] == s
    # filter + AND compose
    c = reader.search_wand("the alpha", 15, mode="and", where=where)
    d = reader.search_wand_distributed("the alpha", 15, mode="and", where=where)
    assert c == d
    assert all(x % 3 == 0 for x, _ in c)


def test_filtered_distributed_never_materializes_ids_on_driver(spark, index_dir):
    """The r4 fq contract (VERDICT r3 item 2): the distributed walk's
    visibility filter is evaluated executor-side (docstore predicate scan
    cogrouped with the block scan on part) — the visible-id set must NEVER
    be collected to / broadcast from the driver, whatever the predicate's
    selectivity. ``allowed_ids`` (the driver-walk helper that does collect)
    is booby-trapped; the filtered distributed search must not touch it."""
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, index_dir)
    where = "doc_id % 3 = 0"
    expected = reader.search_wand("the alpha", 15, where=where)

    def _boom(where):
        if where is None:  # the no-filter no-op is not a collect
            return None
        raise AssertionError(
            "allowed_ids() collected the visible-id set on the driver"
        )

    reader.allowed_ids = _boom
    got = reader.search_wand_distributed("the alpha", 15, where=where)
    assert got == expected
    # the default path routes filtered queries distributed, so search()
    # with a where-filter also never driver-materializes the set
    got_df = reader.search("the alpha", 15, where=where)
    assert reader.last_path == "distributed"
    assert [(r["doc_id"], r["score"]) for r in got_df.collect()] == expected
    # unselective predicate (visible set ≈ whole corpus): still fine
    assert reader.search_wand_distributed("alpha", 5, where="doc_id >= 0") \
        == reader.search_wand("alpha", 5)


def test_search_autoselect_byte_threshold(spark, tmp_path):
    """search() routes by estimated fetch BYTES from build-time block
    metadata (termstats.bytes = Σ bin_bytes), not a posting-count constant:
    a long-posting (hot) term whose packed blocks exceed the threshold goes
    to the distributed walk, a rare term stays on the driver fast path."""
    from pyspark.sql import functions as F

    from rdf_indexer_spark.index.bm25 import IndexReader
    from rdf_indexer_spark.index.build import build_index

    # hot term in EVERY doc (long posting list), needle in one
    rows = [(i, "hot " * 8 + (f"w{i % 37} " * 10) + ("needle" if i == 3 else ""))
            for i in range(600)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = str(tmp_path / "idx")
    build_index(spark, docs, out, num_buckets=3, resume=False)

    # build-time metadata is exact: termstats.bytes == Σ blocks.bin_bytes
    # == Σ actual binary payload lengths
    blocks = spark.read.parquet(os.path.join(out, "blocks"))
    meas = (
        blocks.groupBy("term")
        .agg(
            F.sum("bin_bytes").alias("meta"),
            F.sum(
                F.length("ids_bin") + F.length("tfs_bin") + F.length("dls_bin")
            ).alias("actual"),
        )
    )
    assert meas.filter(F.col("meta") != F.col("actual")).count() == 0
    ts = {
        r["term"]: r["bytes"]
        for r in spark.read.parquet(os.path.join(out, "termstats")).collect()
    }
    assert ts["hot"] > ts["needle"]

    reader = IndexReader(spark, out)
    # threshold between the two terms' packed sizes → routing splits
    reader.DISTRIBUTED_FETCH_BYTES = (ts["hot"] + ts["needle"]) // 2
    reader.search("hot", 5)
    assert reader.last_path == "distributed"
    reader.search("needle", 5)
    assert reader.last_path == "driver"
    # both routes rank- and score-identical
    a = [(r["doc_id"], r["score"]) for r in reader.search("hot", 5, distributed=True).collect()]
    b = [(r["doc_id"], r["score"]) for r in reader.search("hot", 5, distributed=False).collect()]
    assert a == b


def test_search_single_termstats_scan(spark, index_dir):
    """ADVICE r3: auto-select used to scan termstats once for routing and
    once more for idfs. search() now fetches term stats exactly once and
    passes the derived idfs down to the chosen walk."""
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, index_dir)
    calls = {"n": 0}
    orig = reader.term_stats

    def counting(terms):
        calls["n"] += 1
        return orig(terms)

    reader.term_stats = counting
    reader.search("the alpha", 10)
    assert calls["n"] == 1
    calls["n"] = 0
    reader.search("needle", 10)
    assert calls["n"] == 1


def test_manifest_records_snapshot_ids(spark, index_dir):
    """VERDICT r3 item 6: every index mutation commits through the
    IndexWriter seam, and each manifest row records the snapshot id the
    commit staged (the Iceberg snapshot-id slot — see index/writer.py)."""
    from rdf_indexer_spark.index.manifest import Manifest

    recs = Manifest(os.path.join(index_dir, "manifest")).records()
    assert recs, "build produced no manifest rows"
    assert all(r.get("snapshot_id") for r in recs)
    # one snapshot per commit, never reused
    snaps = [r["snapshot_id"] for r in recs]
    assert len(set(snaps)) == len(snaps)


def test_search_many_batch_identity(spark, index_dir):
    """search_many runs a whole query set in ONE distributed job; per query
    it must be rank- and score-identical (bit-exact) to the single-query
    walks, across OR / AND / fq-filtered modes, with zero-hit and
    absent-term queries in the same batch."""
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, index_dir)
    qs = {
        "rare": "needle",
        "hot": "the",
        "mixed": "needle the",
        "multi": "alpha beta gamma",
        "none": "zzznothing",
    }
    got = reader.search_many(qs, 10)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    for qid, q in qs.items():
        want = reader.search_wand(q, 10)
        have = [(d, s) for _, d, s in sorted(by_q.get(qid, []))]
        assert have == want, qid
    assert "none" not in by_q

    # AND mode: identical to the single-query conjunctive walk; a query
    # containing an absent term matches nothing
    got_and = reader.search_many(
        {"a": "the alpha", "b": "the zzznotaword"}, 10, mode="and")
    rows = [(r["doc_id"], r["score"]) for r in
            got_and.filter("query_id = 'a'").orderBy("rank").collect()]
    assert rows == reader.search_wand("the alpha", 10, mode="and")
    assert got_and.filter("query_id = 'b'").count() == 0

    # fq filter: cogrouped executor-side, same as the single-query path
    where = "doc_id % 3 = 0"
    got_fq = reader.search_many({"x": "the alpha"}, 15, where=where)
    rows = [(r["doc_id"], r["score"]) for r in got_fq.orderBy("rank").collect()]
    assert rows == reader.search_wand("the alpha", 15, where=where)


def test_search_many_merge_is_distributed(spark, index_dir):
    """VERDICT r4 item 1: the global per-query merge of search_many must be
    a window-rank DataFrame job, not a driver collect+sort — the physical
    plan carries a Window(row_number) over the per-part walker output, and
    the result is NOT a LocalRelation materialized from driver rows."""
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, index_dir)
    out = reader.search_many({"a": "the alpha", "b": "needle"}, 5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan and "row_number" in plan
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" not in optimized and "LocalTableScan" not in plan
    # and it still returns the right rows (ordering is the caller's job)
    got = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"])
           for r in out.collect()}
    for qid, q in (("a", "the alpha"), ("b", "needle")):
        want = reader.search_wand(q, 5)
        assert [got[(qid, r + 1)] for r in range(len(want))] == want


def test_term_stats_null_bytes_survive(spark, index_dir, monkeypatch):
    """ADVICE r4 (medium): termstats rows whose ``bytes`` is NULL (appended
    pre-r4 blocks re-aggregated without bin_bytes) must surface as None —
    and search() must fall back to the postings-count routing, not crash."""
    from pyspark.sql import functions as F

    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, index_dir)
    real_read = spark.read.parquet

    class _Reader:
        def parquet(self, path):
            df = real_read(path)
            if path.endswith("termstats"):
                df = df.withColumn(
                    "bytes",
                    F.when(F.col("term") == "alpha", F.lit(None)).otherwise(
                        F.col("bytes")),
                )
            return df

    monkeypatch.setattr(type(spark), "read", property(lambda s: _Reader()))
    stats = reader.term_stats(["alpha", "the"])
    assert stats["alpha"]["bytes"] is None
    assert isinstance(stats["the"]["bytes"], int)
    out = reader.search("the alpha", 5)
    assert out.count() == 5


# -- phrase queries over the positional index (r5, VERDICT r4 item 4) -------

PHRASES = [
    "alpha beta",
    "needle the",
    "beta gamma",
    "the the",            # duplicated term: slots share one cursor
    "alpha beta gamma",
    "zzznothing alpha",   # absent required term → no hits
]

# phrases that MUST return hits on the planted corpus — guards the
# identity test against passing vacuously ([] == []), which is exactly
# how a broken exhaustive twin slipped past the first draft of this test
NONEMPTY_PHRASES = {"alpha beta", "needle the", "beta gamma",
                    "the the", "alpha beta gamma"}


def _phrase_docs(n=400):
    """The synth corpus with deterministic PLANTED phrase occurrences —
    random Zipfian text almost never produces a specific adjacent pair, so
    without planting every phrase test is vacuous."""
    rows = []
    for i, t in _synth_docs(n):
        if i % 13 == 0:
            t += " alpha beta gamma"
        if i % 29 == 0:
            t += " the the"
        if i % 41 == 0:
            t += " needle the"
        rows.append((i, t))
    return rows


@pytest.fixture(scope="module")
def pos_index_dir(spark, tmp_path_factory):
    from rdf_indexer_spark.index.build import build_index

    out = str(tmp_path_factory.mktemp("posidx"))
    docs = spark.createDataFrame(_phrase_docs(), ["doc_id", "text"])
    build_index(spark, docs, out, num_buckets=3, resume=False, positions=True)
    return out


@pytest.mark.parametrize("phrase", PHRASES)
def test_phrase_walk_equals_exhaustive(spark, pos_index_dir, phrase):
    """The position-list leapfrog (search_phrase) is rank- and
    score-identical to the declarative slot-shifted-join twin
    (score_phrase_exhaustive), and every hit really contains the
    consecutive token sequence in the source text."""
    from rdf_indexer_spark.analyzer import tokenize
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, pos_index_dir)
    walk = reader.search_phrase(phrase, 15)
    ex = [(r["doc_id"], r["score"])
          for r in reader.score_phrase_exhaustive(phrase, 15).collect()]
    assert [d for d, _ in ex] == [d for d, _ in walk]
    for (d1, s1), (d2, s2) in zip(ex, walk):
        assert s1 == pytest.approx(s2, rel=1e-9)
    if phrase in NONEMPTY_PHRASES:
        assert walk, f"planted phrase {phrase!r} found no hits"

    # ground truth straight from the corpus: the hit set (not just the
    # top-k members) must equal exact consecutive containment
    terms = tokenize(phrase)
    toks = {i: tokenize(t) for i, t in _phrase_docs()}
    want = {
        d for d, tl in toks.items()
        if any(tl[i:i + len(terms)] == terms
               for i in range(len(tl) - len(terms) + 1))
    }
    assert {d for d, _ in reader.search_phrase(phrase, 10_000)} == want


def test_phrase_hits_subset_of_and_with_phrase_scoring(spark, pos_index_dir):
    """Phrase hits ⊆ conjunctive hits on the same terms, and the phrase
    score uses pf ≤ min tf (so never exceeds the idf_sum-weighted AND-style
    saturation at the same doc)."""
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, pos_index_dir)
    ph = reader.search_phrase("alpha beta", 10_000)
    and_docs = {d for d, _ in reader.search_wand(
        "alpha beta", 10_000, mode="and")}
    assert {d for d, _ in ph} <= and_docs


def test_phrase_semantics_tiny(spark, tmp_path):
    """Hand-built corpus with known positions: pf counting, order
    sensitivity, overlapping matches, and the exact Lucene-shaped score
    (Σ idf with multiplicity) · pf/(pf + K(dl))."""
    import math

    from rdf_indexer_spark.index.bm25 import B, K1, IndexReader
    from rdf_indexer_spark.index.build import build_index

    corpus = [
        (0, "a b c a b"),      # "a b" pf=2
        (1, "b a"),            # reversed only
        (2, "a b a b a b"),    # pf=3
        (3, "c c c"),          # no a/b
        (4, "a a a"),          # "a a" pf=2 (overlapping starts at 0,1)
    ]
    out = str(tmp_path / "tiny")
    build_index(spark, spark.createDataFrame(corpus, ["doc_id", "text"]),
                out, num_buckets=1, resume=False, positions=True)
    reader = IndexReader(spark, out)

    hits = dict(reader.search_phrase("a b", 10))
    assert set(hits) == {0, 2}
    n = 5
    avgdl = (5 + 2 + 6 + 3 + 3) / 5
    stats = reader.term_stats(["a", "b"])
    idf = {t: math.log(1 + (n - stats[t]["df"] + 0.5) / (stats[t]["df"] + 0.5))
           for t in ("a", "b")}

    def want(pf, dl):
        return (idf["a"] + idf["b"]) * pf / (
            pf + K1 * (1 - B + B * dl / avgdl))

    assert hits[0] == pytest.approx(want(2, 5), rel=1e-9)
    assert hits[2] == pytest.approx(want(3, 6), rel=1e-9)

    # order matters: "b a" matches docs 0 (pos 1→... no: b@1,a@3? "a b c a b"
    # = a0 b1 c2 a3 b4 → "b a": b@1,a? pos2 is c — no; doc1 b0 a1 yes;
    # doc2 a0 b1 a2 b3 a4 b5 → b1a2, b3a4 → pf=2
    rev = dict(reader.search_phrase("b a", 10))
    assert set(rev) == {1, 2}

    # duplicated-term phrase: overlapping starts count
    aa = dict(reader.search_phrase("a a", 10))
    assert set(aa) == {4}
    assert aa[4] == pytest.approx(
        2 * idf["a"] * 2 / (2 + K1 * (1 - B + B * 3 / avgdl)), rel=1e-9)

    # single-term phrase degenerates to tf scoring of that term
    single = dict(reader.search_phrase("c", 10))
    assert set(single) == {0, 3}


def _brute_slop_pf(tl: list, terms: list, slop: int) -> int:
    """Independent enumeration oracle for the ordered near-match contract:
    pf = number of start positions q (occurrences of terms[0]) for which
    ANY strictly-increasing position chain of the remaining terms exists
    with total width ≤ slop — brute-force product search, no greedy."""
    import itertools

    occ = [[p for p, t in enumerate(tl) if t == term] for term in terms]
    if any(not o for o in occ):
        return 0
    pf = 0
    for q in occ[0]:
        for combo in itertools.product(*occ[1:]):
            seq = [q, *combo]
            if (all(b > a for a, b in zip(seq, seq[1:]))
                    and seq[-1] - q - (len(terms) - 1) <= slop):
                pf += 1
                break
    return pf


def test_phrase_slop_semantics_tiny(spark, tmp_path):
    """Sloppy phrases (ordered near-match, greedy-chain pf): hand-built
    corpus with known position layouts, checked doc-by-doc against the
    brute-force enumeration oracle and the exact score formula; reversed
    order NEVER matches (the documented in-order deviation from classic
    Lucene sloppy phrases)."""
    import math

    from rdf_indexer_spark.index.bm25 import B, K1, IndexReader
    from rdf_indexer_spark.index.build import build_index

    corpus = [
        (0, "a c b"),        # one intervening token: matches at slop ≥ 1
        (1, "b a"),          # reversed: never matches "a b" at any slop
        (2, "a c b a b"),    # starts a@0 (width 1) and a@3 (width 0)
        (3, "a c c c b"),    # width 3
        (4, "a c a c b"),    # greedy from a@0 width 3, from a@2 width 1
    ]
    out = str(tmp_path / "slop")
    build_index(spark, spark.createDataFrame(corpus, ["doc_id", "text"]),
                out, num_buckets=1, resume=False, positions=True)
    reader = IndexReader(spark, out)

    toks = {i: t.split() for i, t in corpus}
    for slop in (0, 1, 2, 3, 99):
        got = dict(reader.search_phrase("a b", 10, slop=slop))
        want_pf = {i: _brute_slop_pf(tl, ["a", "b"], slop)
                   for i, tl in toks.items()}
        assert set(got) == {i for i, pf in want_pf.items() if pf}, slop
        # exact score check: (Σ idf) · pf/(pf + K(dl))
        n, avgdl = 5, sum(len(t) for t in toks.values()) / 5
        stats = reader.term_stats(["a", "b"])
        idf_sum = sum(
            math.log(1 + (n - stats[t]["df"] + 0.5) / (stats[t]["df"] + 0.5))
            for t in ("a", "b"))
        for d, s in got.items():
            pf, dl = want_pf[d], len(toks[d])
            assert s == pytest.approx(
                idf_sum * pf / (pf + K1 * (1 - B + B * dl / avgdl)),
                rel=1e-9), (d, slop)
    assert 1 not in dict(reader.search_phrase("a b", 10, slop=99))

    # 3-term chains + duplicate-term phrase against the enumeration oracle
    for phrase, slop in (("a c b", 1), ("a a", 1), ("a c b", 0)):
        got = dict(reader.search_phrase(phrase, 10, slop=slop))
        terms = phrase.split()
        want = {i for i, tl in toks.items()
                if _brute_slop_pf(tl, terms, slop)}
        assert set(got) == want, (phrase, slop)


def test_phrase_slop_walks_and_surfaces(spark, pos_index_dir):
    """Slop rides every phrase surface identically: driver walk ≡
    distributed per-part walk ≡ search_lucene('"..."~N') ≡ the SQL
    surface's lucene mode; slop=0 ≡ the exact-phrase default; ground truth
    recomputed from the corpus."""
    from rdf_indexer_spark.analyzer import tokenize
    from rdf_indexer_spark.index.bm25 import IndexReader
    from rdf_indexer_spark.index.sqlsurface import register_sql_surface

    reader = IndexReader(spark, pos_index_dir)
    # planted "alpha beta gamma" → "alpha gamma" matches at slop ≥ 1
    drv = reader.search_phrase("alpha gamma", 10_000, slop=1,
                               distributed=False)
    dist = reader.search_phrase_distributed("alpha gamma", 10_000, slop=1)
    assert drv and drv == dist
    toks = {i: tokenize(t) for i, t in _phrase_docs()}
    want = {i for i, tl in toks.items()
            if _brute_slop_pf(tl, ["alpha", "gamma"], 1)}
    assert {d for d, _ in drv} == want
    # slop=0 ≡ exact default
    assert (reader.search_phrase("alpha beta", 50, slop=0)
            == reader.search_phrase("alpha beta", 50))
    # parser route + SQL surface
    luc = reader.search_lucene('"alpha gamma"~1', 10)
    assert luc == drv[:10]
    register_sql_surface(spark, pos_index_dir, name="bm25_search_slop")
    got = [(r["doc_id"], round(r["score"], 8)) for r in spark.sql(
        "SELECT * FROM bm25_search_slop('\"alpha gamma\"~1', 10, 'lucene') "
        "ORDER BY rank").collect()]
    assert got == [(d, round(s, 8)) for d, s in luc]


# -- phrases mixed into boolean queries (one scorer tree, r5) ----------------


def _brute_mixed(term_groups, should_terms, must_not, phrases, k=10,
                 pred=lambda i: True, not_phrases=()):
    """From-scratch mixed-clause BM25 over the _phrase_docs corpus:
    ``term_groups`` = [(terms, boost)] at-least-one-of MUST gates,
    ``should_terms`` = [(term, boost)] riders, ``phrases`` =
    [(tokens, required, boost, slop)] scored boost·(Σ idf w/ multiplicity)
    ·pf/(pf+K(dl)) with pf from the enumeration oracle."""
    import collections
    import math

    from rdf_indexer_spark.analyzer import tokenize

    docs = {i: tokenize(t) for i, t in _phrase_docs()}
    n = len(docs)
    dls = {i: len(ts) for i, ts in docs.items()}
    avgdl = sum(dls.values()) / n
    dfc = collections.Counter(t for ts in docs.values() for t in set(ts))

    def idf(t):
        return math.log(1 + (n - dfc[t] + 0.5) / (dfc[t] + 0.5))

    def K(i):
        return 1.2 * (1 - 0.75 + 0.75 * dls[i] / avgdl)

    def contrib(t, i, b=1.0):
        tf = docs[i].count(t)
        return b * idf(t) * tf / (tf + K(i))

    hits = []
    for i, ts in docs.items():
        s = set(ts)
        if not pred(i) or any(m in s for m in must_not):
            continue
        if any(_brute_slop_pf(docs[i], list(toks), slop) > 0
               for toks, slop in not_phrases):
            continue
        if any(not (set(g) & s) for g, _ in term_groups):
            continue
        pfs = [(toks, req, b, _brute_slop_pf(docs[i], list(toks), slop))
               for toks, req, b, slop in phrases]
        if any(req and pf == 0 for _, req, _, pf in pfs):
            continue
        has_should = (any(t in s for t, _ in should_terms)
                      or any(pf > 0 for _, req, _, pf in pfs if not req))
        if not term_groups and not any(req for _, req, _, _ in pfs) \
                and not has_should:
            continue
        score = (sum(contrib(t, i, b) for g, b in term_groups
                     for t in sorted(set(g)) if t in s)
                 + sum(contrib(t, i, b) for t, b in should_terms if t in s)
                 + sum(b * sum(idf(t) for t in toks) * pf / (pf + K(i))
                       for toks, _req, b, pf in pfs if pf > 0))
        hits.append((i, score))
    hits.sort(key=lambda x: (-x[1], x[0]))
    return [(i, round(sc, 8)) for i, sc in hits[:k]]


@pytest.mark.parametrize("q,groups,should,must_not,phrases", [
    # required phrase + should term
    ('+"alpha beta" gamma', [], [("gamma", 1.0)], [],
     [(("alpha", "beta"), True, 1.0, 0)]),
    # optional phrase + should term (no MUST → the OR walk)
    ('"alpha beta" needle', [], [("needle", 1.0)], [],
     [(("alpha", "beta"), False, 1.0, 0)]),
    # must term + boosted optional phrase
    ('+gamma "needle the"^2', [(["gamma"], 1.0)], [], [],
     [(("needle", "the"), False, 2.0, 0)]),
    # required phrase + prohibited term
    ('+"alpha beta" -needle', [], [], ["needle"],
     [(("alpha", "beta"), True, 1.0, 0)]),
    # two optional phrases in one tree
    ('"alpha beta" "needle the"', [], [], [],
     [(("alpha", "beta"), False, 1.0, 0),
      (("needle", "the"), False, 1.0, 0)]),
    # sloppy phrase inside the mix
    ('+"alpha gamma"~1 the', [], [("the", 1.0)], [],
     [(("alpha", "gamma"), True, 1.0, 1)]),
])
def test_mixed_phrase_boolean_matches_bruteforce(
        spark, pos_index_dir, q, groups, should, must_not, phrases):
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, pos_index_dir)
    want = _brute_mixed(groups, should, must_not, phrases)
    assert want, f"vacuous case {q!r}"
    for dist in (False, True):
        got = [(d, round(s, 8)) for d, s in
               reader.search_lucene(q, 10, distributed=dist)]
        assert got == want, (q, dist, got[:3], want[:3])


def test_prohibited_phrase(spark, pos_index_dir):
    """-"..." exclusions: docs containing the prohibited phrase vanish
    (order-sensitively — docs with the terms but not the phrase stay),
    slop applies to the exclusion, and all three routes agree."""
    from rdf_indexer_spark.index.bm25 import IndexReader
    from rdf_indexer_spark.index.sqlsurface import register_sql_surface

    reader = IndexReader(spark, pos_index_dir)
    cases = [
        # should term + prohibited exact phrase
        ('gamma -"alpha beta"', [], [("gamma", 1.0)], [],
         [], [(("alpha", "beta"), 0)]),
        # required phrase + prohibited phrase in one tree
        ('+"needle the" -"the the"', [], [], [],
         [(("needle", "the"), True, 1.0, 0)], [(("the", "the"), 0)]),
        # sloppy exclusion
        ('gamma -"alpha gamma"~1', [], [("gamma", 1.0)], [],
         [], [(("alpha", "gamma"), 1)]),
    ]
    for q, groups, should, mnot, phrases, nphrases in cases:
        want = _brute_mixed(groups, should, mnot, phrases,
                            not_phrases=nphrases)
        assert want, f"vacuous case {q!r}"
        for dist in (False, True):
            got = [(d, round(s, 8)) for d, s in
                   reader.search_lucene(q, 10, distributed=dist)]
            assert got == want, (q, dist, got[:3], want[:3])
    register_sql_surface(spark, pos_index_dir, name="bm25_search_np")
    q = 'gamma -"alpha beta"'
    want = [(d, round(s, 8)) for d, s in reader.search_lucene(q, 10)]
    got = [(r["doc_id"], round(r["score"], 8)) for r in spark.sql(
        f"SELECT * FROM bm25_search_np('{q}', 10, 'lucene') "
        "ORDER BY rank").collect()]
    assert got == want
    # pure-negative query matches nothing (Lucene)
    assert reader.search_lucene('-"alpha beta"', 10) == []
    # prohibited phrase with an unindexed term excludes nothing
    assert (reader.search_lucene('gamma -"alpha zzznope"', 10)
            == reader.search_lucene("gamma", 10))


def test_mixed_phrase_edges_and_boost(spark, pos_index_dir):
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, pos_index_dir)
    # lone BOOSTED phrase routes through the mixed walk and equals the
    # dedicated phrase walk with scores scaled by the boost
    base = reader.search_phrase("alpha beta", 10)
    boosted = reader.search_lucene('"alpha beta"^1.5', 10)
    assert [d for d, _ in boosted] == [d for d, _ in base]
    for (_, s0), (_, s1) in zip(base, boosted):
        assert s1 == pytest.approx(1.5 * s0, rel=1e-9)
    # required phrase with an unindexed member term → MatchNoDocs
    assert reader.search_lucene('+"alpha zzznope" gamma', 10) == []
    # unindexed MUST term kills the whole mixed query too
    assert reader.search_lucene('+zzznope "alpha beta"', 10) == []
    # optional phrase with an unindexed member just drops
    got = reader.search_lucene('"alpha zzznope" gamma', 10)
    want = reader.search_lucene("gamma", 10)
    assert got == want
    # fq composes on the mixed walk, both routes
    want = _brute_mixed([], [("gamma", 1.0)], [],
                        [(("alpha", "beta"), True, 1.0, 0)],
                        pred=lambda i: i % 2 == 0)
    for dist in (False, True):
        got = [(d, round(s, 8)) for d, s in reader.search_lucene(
            '+"alpha beta" gamma', 10, where="doc_id % 2 = 0",
            distributed=dist)]
        assert got == want


def test_sql_surface_mixed_phrase(spark, pos_index_dir):
    """The SQL surface runs the identical mixed scorer tree worker-side."""
    from rdf_indexer_spark.index.bm25 import IndexReader
    from rdf_indexer_spark.index.sqlsurface import register_sql_surface

    register_sql_surface(spark, pos_index_dir, name="bm25_search_mix")
    reader = IndexReader(spark, pos_index_dir)
    for q in ('+"alpha beta" gamma', '"alpha beta" needle',
              '+gamma "needle the"^2', '"alpha beta" "needle the"',
              '+"alpha gamma"~1 the'):
        want = [(d, round(s, 8)) for d, s in reader.search_lucene(q, 10)]
        got = [(r["doc_id"], round(r["score"], 8)) for r in spark.sql(
            f"SELECT * FROM bm25_search_mix('{q}', 10, 'lucene') "
            "ORDER BY rank").collect()]
        assert got == want, q
    q = '+"alpha beta" gamma'
    want = [(d, round(s, 8)) for d, s in
            reader.search_lucene(q, 10, where="doc_id % 2 = 0")]
    got = [(r["doc_id"], round(r["score"], 8)) for r in spark.sql(
        f"SELECT * FROM bm25_search_mix('{q}', 10, 'lucene', "
        "'doc_id % 2 = 0') ORDER BY rank").collect()]
    assert got == want


def test_phrase_filtered_and_tombstoned(spark, tmp_path):
    """fq `where` composes with phrase search (scores unchanged, hits
    filtered), and tombstoned docs vanish from both the walk and the
    exhaustive twin."""
    from rdf_indexer_spark.index.bm25 import IndexReader
    from rdf_indexer_spark.index.build import build_index
    from rdf_indexer_spark.index.maintain import delete_docs

    out = str(tmp_path / "idx")
    docs = spark.createDataFrame(_phrase_docs(120), ["doc_id", "text"])
    build_index(spark, docs, out, num_buckets=2, resume=False, positions=True)
    reader = IndexReader(spark, out)

    full = dict(reader.search_phrase("alpha beta", 10_000))
    assert full  # planted (docs 0, 13, ... carry "alpha beta gamma")
    where = "doc_id % 2 = 0"
    filt = reader.search_phrase("alpha beta", 10_000, where=where)
    assert all(d % 2 == 0 for d, _ in filt)
    for d, s in filt:
        assert s == full[d]
    ex = [(r["doc_id"], r["score"]) for r in
          reader.score_phrase_exhaustive(
              "alpha beta", None, where=where).collect()]
    assert [d for d, _ in ex] == [d for d, _ in filt]

    victims = [d for d in full][:2]
    delete_docs(spark, out, victims)
    r2 = IndexReader(spark, out)
    after = dict(r2.search_phrase("alpha beta", 10_000))
    assert set(after) == set(full) - set(victims)
    ex2 = {r["doc_id"] for r in
           r2.score_phrase_exhaustive("alpha beta", None).collect()}
    assert ex2 == set(after)


def test_phrase_requires_positional_index(spark, index_dir):
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, index_dir)
    with pytest.raises(ValueError, match="positional"):
        reader.search_phrase("alpha beta", 10)
    with pytest.raises(ValueError, match="positional"):
        reader.score_phrase_exhaustive("alpha beta", 10).count()


def test_sql_surface_phrase_identity(spark, pos_index_dir):
    """mode='phrase' on the SQL surface ≡ IndexReader.search_phrase
    (shared _phrase_topk walk), composes with fq, and fails clearly on a
    bag-of-words index."""
    from rdf_indexer_spark.index.bm25 import IndexReader
    from rdf_indexer_spark.index.sqlsurface import register_sql_surface

    register_sql_surface(spark, pos_index_dir, name="bm25_search_pos")
    reader = IndexReader(spark, pos_index_dir)
    for phrase in ("alpha beta", "the the", "alpha beta gamma"):
        want = reader.search_phrase(phrase, 10)
        got = [
            (r["doc_id"], r["score"])
            for r in spark.sql(
                f"SELECT * FROM bm25_search_pos('{phrase}', 10, 'phrase') "
                "ORDER BY rank").collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want], phrase
        for (d1, s1), (d2, s2) in zip(got, want):
            assert s1 == pytest.approx(s2, rel=1e-9)
        assert want, phrase  # planted: non-vacuous
    # q+fq composition in phrase mode
    want_f = reader.search_phrase("alpha beta", 10, where="doc_id % 2 = 0")
    got_f = [
        (r["doc_id"], r["score"])
        for r in spark.sql(
            "SELECT * FROM bm25_search_pos('alpha beta', 10, 'phrase', "
            "'doc_id % 2 = 0') ORDER BY rank").collect()
    ]
    assert [d for d, _ in got_f] == [d for d, _ in want_f]


def test_sql_surface_phrase_requires_positional(spark, index_dir):
    from rdf_indexer_spark.index.sqlsurface import _search_local

    with pytest.raises(ValueError, match="positional"):
        _search_local(index_dir, "alpha beta", 10, mode="phrase")


def test_phrase_distributed_identity(spark, pos_index_dir):
    """The executor-side phrase walk (per-part applyInPandas + driver
    merge) is rank- and score-identical (bit-exact) to the driver walk on
    every phrase, including with an fq filter; non-vacuous on planted
    phrases."""
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, pos_index_dir)
    for phrase in PHRASES:
        for k in (1, 10, 50):
            drv = reader.search_phrase(phrase, k, distributed=False)
            dist = reader.search_phrase_distributed(phrase, k)
            assert dist == drv, (phrase, k)  # docIDs AND exact doubles
        if phrase in NONEMPTY_PHRASES:
            assert reader.search_phrase_distributed(phrase, 10), phrase
    # fq composes executor-side
    where = "doc_id % 2 = 0"
    assert (reader.search_phrase_distributed("alpha beta", 20, where=where)
            == reader.search_phrase("alpha beta", 20, where=where,
                                    distributed=False))


def test_phrase_routing_and_filtered_goes_distributed(spark, pos_index_dir):
    """search_phrase auto-routing mirrors search(): filtered queries
    always take the distributed walk; explicit distributed=True/False are
    honored; the route is recorded in last_path."""
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, pos_index_dir)
    reader.search_phrase("alpha beta", 5, where="doc_id % 2 = 0")
    assert reader.last_path == "distributed"
    reader.search_phrase("alpha beta", 5, distributed=True)
    assert reader.last_path == "distributed"
    reader.search_phrase("alpha beta", 5, distributed=False)
    assert reader.last_path == "driver"


def test_phrase_distributed_requires_positional(spark, index_dir):
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, index_dir)
    with pytest.raises(ValueError, match="positional"):
        reader.search_phrase_distributed("alpha beta", 5)


# ---------------------------------------------------------------------------
# Solr serving-surface extensions (r5): facet counts + MoreLikeThis


def _facet_docs(n=90):
    rows = []
    for i in range(n):
        text = f"alpha w{i % 7} beta" + (" zeta" if i % 3 == 0 else "")
        rows.append((i, text, ["en", "fr", "de"][i % 3], f"s{i % 2}"))
    return rows


@pytest.fixture(scope="module")
def facet_index_dir(spark, tmp_path_factory):
    from rdf_indexer_spark.index.build import build_index

    out = str(tmp_path_factory.mktemp("fidx"))
    docs = spark.createDataFrame(
        _facet_docs(), "doc_id long, text string, lang string, source string")
    build_index(spark, docs, out, num_buckets=3, resume=False,
                meta_cols=("lang", "source"))
    return out


def _facets_as_dict(df):
    return {(r["facet_field"], r["facet_value"]): r["n"] for r in df.collect()}


def test_facet_counts_semantics(spark, facet_index_dir):
    """Facets count the FULL match set (not top-k), honor mode/where/top,
    and the expectations here are brute-forced from the corpus spec."""
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, facet_index_dir)
    docs = _facet_docs()

    # match-all browse
    got = _facets_as_dict(reader.facet_counts("*:*", ["lang", "source"]))
    want = {}
    for _, _, lang, src in docs:
        want[("lang", lang)] = want.get(("lang", lang), 0) + 1
        want[("source", src)] = want.get(("source", src), 0) + 1
    assert got == want

    # OR match: docs with 'zeta' (i % 3 == 0 → always lang 'en')
    got = _facets_as_dict(reader.facet_counts("zeta", ["lang", "source"]))
    zeta = [d for d in docs if "zeta" in d[1]]
    assert got[("lang", "en")] == len(zeta)
    assert ("lang", "fr") not in got
    assert got[("source", "s0")] + got[("source", "s1")] == len(zeta)

    # AND match + where
    got = _facets_as_dict(reader.facet_counts(
        "alpha zeta", ["source"], mode="and", where="doc_id < 30"))
    want_n = sum(1 for d in zeta if d[0] < 30)
    assert sum(got.values()) == want_n

    # dead term: OR drops it, AND empties the result
    assert _facets_as_dict(reader.facet_counts("zzz", ["lang"])) == {}
    assert _facets_as_dict(
        reader.facet_counts("alpha zzz", ["lang"], mode="and")) == {}

    # top truncation keeps the (count desc, value asc) head per field
    rows = reader.facet_counts("*:*", ["lang"], top=1).collect()
    assert len(rows) == 1 and rows[0]["facet_value"] == "de"


def test_facet_counts_tombstones_and_compaction(spark, tmp_path):
    """Deleted docs never count; counts are identical before and after
    compaction (facets read docstore+blocks, both of which compaction
    rewrites)."""
    from rdf_indexer_spark.index.build import build_index
    from rdf_indexer_spark.index.bm25 import IndexReader
    from rdf_indexer_spark.index.maintain import compact_index, delete_docs

    idx = str(tmp_path / "fidx2")
    docs = spark.createDataFrame(
        _facet_docs(), "doc_id long, text string, lang string, source string")
    build_index(spark, docs, idx, num_buckets=2, resume=False,
                meta_cols=("lang", "source"))
    delete_docs(spark, idx, [0, 3, 6])  # three 'zeta'/'en' docs
    reader = IndexReader(spark, idx)
    got = _facets_as_dict(reader.facet_counts("zeta", ["lang"]))
    alive_zeta = [d for d in _facet_docs()
                  if "zeta" in d[1] and d[0] not in (0, 3, 6)]
    assert got == {("lang", "en"): len(alive_zeta)}
    compact_index(spark, idx)
    got2 = _facets_as_dict(IndexReader(spark, idx).facet_counts(
        "zeta", ["lang"]))
    assert got2 == got


def test_facet_counts_plan_shape(spark, facet_index_dir):
    """The facet result is a lazy DataFrame whose plan has no driver
    funnel and whose docstore scan is pruned to (part, doc_id, facet
    fields) — content_sha256/dl never leave the parquet reader."""
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, facet_index_dir)
    df = reader.facet_counts("zeta", ["lang"], top=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    low = plan.lower()
    assert "collectlimit" not in low and "takeordered" not in low
    doc_scans = [ln for ln in plan.splitlines()
                 if "parquet" in ln.lower() and "docstore" in ln]
    assert doc_scans, plan
    for ln in doc_scans:
        assert "content_sha256" not in ln and "dl" not in \
            ln.split("ReadSchema")[-1], ln


def test_more_like_this_terms_and_exclusion(spark, facet_index_dir):
    """MLT's interesting-term pick equals the brute-forced tf·idf ranking
    (ties term-asc), the seed never appears in the hits, and the hits are
    exactly the standard distributed search over the picked terms."""
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, facet_index_dir)
    seed_id, seed_text = 0, _facet_docs()[0][1]  # "alpha w0 beta zeta"
    hits = reader.more_like_this(seed_text, 8, m_terms=2,
                                 exclude_doc_id=seed_id)
    # brute-force the term pick: tf = 1 for every token here, so the two
    # highest-idf (rarest) tokens win; ties broken term-asc
    import collections
    tf = collections.Counter(seed_text.split())
    idfs = reader.idfs(sorted(tf))
    want_terms = [t for _, t in sorted(
        ((-tf[t] * idfs[t], t) for t in idfs))[:2]]
    assert reader.last_mlt_terms == want_terms
    assert all(d != seed_id for d, _ in hits)
    twin = reader.search_wand_distributed(
        " ".join(want_terms), 8, where=f"doc_id != {seed_id}")
    assert hits == twin
    # a seed made of unknown tokens matches nothing
    assert reader.more_like_this("qqq zzz", 5) == []


def test_spell_suggest_semantics(spark, facet_index_dir):
    """Dictionary suggestions: ranked (dist asc, df desc, term asc), the
    input term never suggested, min_df/top honored, empty input → empty."""
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, facet_index_dir)
    got = [(r["term"], r["df"], r["dist"])
           for r in reader.suggest("bita", max_dist=2, top=5).collect()]
    # corpus vocab: alpha, beta (every doc), zeta (every 3rd), w0..w6
    assert got == [("beta", 90, 1), ("zeta", 30, 2)]
    # the term itself is excluded even when present in the dictionary
    got = [r["term"] for r in reader.suggest("beta", max_dist=1).collect()]
    assert "beta" not in got and "zeta" in got
    # min_df prunes low-frequency candidates; top truncates
    got = [r["term"] for r in
           reader.suggest("bita", max_dist=2, min_df=50).collect()]
    assert got == ["beta"]
    assert reader.suggest("bita", top=1).count() == 1
    assert reader.suggest("   ").count() == 0


def test_highlight_hits_semantics(spark):
    """Snippet = densest W-token window (ties earliest), query tokens
    wrapped, short docs return whole text, hit columns carried through."""
    from rdf_indexer_spark.highlight import highlight_hits

    docs = spark.createDataFrame(
        [
            # densest window is at the END (3 hits in 4 tokens)
            (1, "x x x x x x x x x x apple y apple apple z"),
            # tie between two single-hit windows → earliest start wins
            (2, "a apple b c d e f g h i j k apple l"),
            (3, "tiny apple doc"),               # shorter than the window
            (4, "nothing relevant here at all"),  # no match: first window
        ],
        "doc_id long, text string")
    hits = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)], "doc_id long, score double")
    out = {r["doc_id"]: r for r in
           highlight_hits(docs, hits, "apple", window=4).collect()}
    assert out[1]["snippet"] == "<em>apple</em> y <em>apple</em> <em>apple</em>"
    assert out[2]["snippet"].startswith("a <em>apple</em> b c")
    assert out[3]["snippet"] == "tiny <em>apple</em> doc"
    assert out[4]["snippet"] == "nothing relevant here at"
    assert out[2]["score"] == 2.0  # ranking columns survive the join


def test_qparse_clauses_and_errors():
    from rdf_indexer_spark.index.qparse import parse_query

    p = parse_query('+alpha -beta gamma^2 delta "exact phrase"')
    assert p.must == [("alpha", 1.0)]
    assert p.must_not == ["beta"]
    assert p.should == [("gamma", 2.0), ("delta", 1.0)]
    assert p.phrases == [(("exact", "phrase"), False, 1.0, 0)]
    assert p.boosts == {"gamma": 2.0}
    # a multi-token clause inherits its prefix/boost (analyzer splits it)
    p = parse_query("+Foo-Bar^3")
    assert p.must == [("foo", 3.0), ("bar", 3.0)]
    # prohibited phrases parse into their own clause list (slop rides)
    p = parse_query('alpha -"beta gamma"~1')
    assert p.should == [("alpha", 1.0)]
    assert p.not_phrases == [(("beta", "gamma"), 1)]
    for bad in ['a AND b', 'NOT a', 'title:x',
                '"unbalanced', '-"no boosted neg"^2']:
        with pytest.raises(ValueError):
            parse_query(bad)


def test_qparse_wildcard_fuzzy_slop():
    from rdf_indexer_spark.index.qparse import parse_query, wildcard_regex

    # wildcard clauses in all three occurs, boosts attached
    p = parse_query('+Wil*ard -suf?ix mid*dle^2')
    assert p.wildcards == [("wil*ard", "+", 1.0), ("suf?ix", "-", 1.0),
                           ("mid*dle", "", 2.0)]
    assert not p.must and not p.should and not p.must_not
    # fuzzy: bare ~ defaults to 2 edits, ~N pins, ~0 is the exact term
    p = parse_query('Fuzz~ +tabel~1^3 exact~0')
    assert p.fuzzies == [("fuzz", 2, "", 1.0), ("tabel", 1, "+", 3.0)]
    assert p.should == [("exact", 1.0)]
    # phrase slop
    p = parse_query('"a b"~2 "c d"~0 "e f"')
    assert [(ph[0], ph[3]) for ph in p.phrases] == [
        (("a", "b"), 2), (("c", "d"), 0), (("e", "f"), 0)]
    # regex translation is anchored and engine-neutral
    assert wildcard_regex("wi*d?") == "^wi.*d.$"
    for bad in ['*', '**', 'a~3', 'a~0.8', 'wil*d~2', 'a~1~2', 'wi*l d:x']:
        with pytest.raises(ValueError):
            parse_query(bad)


def _bool_corpus():
    return [(i, " ".join(filter(None, [
        "alpha" if i % 2 == 0 else "",
        "beta" if i % 3 == 0 else "",
        "gamma" if i % 5 == 0 else "",
        f"w{i % 7}", "base"]))) for i in range(120)]


@pytest.fixture(scope="module")
def bool_index_dir(spark, tmp_path_factory):
    from rdf_indexer_spark.index.build import build_index

    out = str(tmp_path_factory.mktemp("bidx"))
    docs = spark.createDataFrame(_bool_corpus(), ["doc_id", "text"])
    build_index(spark, docs, out, num_buckets=3, resume=False)
    return out


def _brute_boolean(must, should, must_not, boosts=None, k=10,
                   pred=lambda i: True, mm=0):
    """From-scratch BooleanQuery BM25 over the _bool_corpus spec; ``mm`` =
    minimumNumberShouldMatch (a doc must contain ≥ mm should terms)."""
    import collections
    import math

    boosts = boosts or {}
    toks = {i: t.split() for i, t in _bool_corpus()}
    n = len(toks)
    dls = {i: len(ts) for i, ts in toks.items()}
    avgdl = sum(dls.values()) / n
    dfc = collections.Counter(t for ts in toks.values() for t in set(ts))

    def contrib(t, i):
        tf = toks[i].count(t)
        idf = math.log(1 + (n - dfc[t] + 0.5) / (dfc[t] + 0.5))
        return (boosts.get(t, 1.0) * idf * tf
                / (tf + 1.2 * (1 - 0.75 + 0.75 * dls[i] / avgdl)))

    hits = []
    for i, ts in toks.items():
        s = set(ts)
        if any(m not in s for m in must) or any(m in s for m in must_not):
            continue
        matched_should = sum(1 for t in should if t in s)
        if matched_should < mm:
            continue
        if not pred(i) or not (must or matched_should >= 1):
            continue
        hits.append((i, sum(contrib(t, i) for t in must)
                     + sum(contrib(t, i) for t in should if t in s)))
    hits.sort(key=lambda x: (-x[1], x[0]))
    return [(i, round(sc, 8)) for i, sc in hits[:k]]


@pytest.mark.parametrize("must,should,must_not,boosts", [
    (["alpha"], ["gamma"], ["beta"], {}),
    (["alpha", "gamma"], [], [], {}),
    ([], ["alpha", "gamma"], ["beta"], {}),
    (["alpha"], ["gamma", "w3"], [], {"gamma": 2.0}),
])
def test_boolean_walk_matches_bruteforce_both_paths(
        spark, bool_index_dir, must, should, must_not, boosts):
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, bool_index_dir)
    want = _brute_boolean(must, should, must_not, boosts)
    for dist in (False, True):
        got = [(d, round(s, 8)) for d, s in reader.search_boolean(
            must, should, must_not, boosts=boosts, k=10, distributed=dist)]
        assert got == want, (dist, got[:3], want[:3])


def test_boolean_edges_and_lucene_routing(spark, bool_index_dir):
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, bool_index_dir)
    # pure-negative and unindexed-MUST queries match nothing
    assert reader.search_boolean([], [], ["alpha"]) == []
    assert reader.search_boolean(["zzznope"], ["alpha"], []) == []
    # fq composes with MUST_NOT
    got = [(d, round(s, 8)) for d, s in reader.search_boolean(
        ["alpha"], [], ["beta"], k=10, where="doc_id < 60")]
    assert got == _brute_boolean(["alpha"], [], ["beta"],
                                 pred=lambda i: i < 60)
    # the parsed surface routes to the same walk
    got = [(d, round(s, 8)) for d, s in
           reader.search_lucene("+alpha -beta gamma^2", 10)]
    assert got == _brute_boolean(["alpha"], ["gamma"], ["beta"],
                                 {"gamma": 2.0})
    # phrase+boolean mixes run the mixed walk, which needs positions —
    # on this bag-of-words index that is a loud ValueError, not a wrong
    # answer (the mixed path itself is tested on pos_index_dir)
    with pytest.raises(ValueError, match="positional"):
        reader.search_lucene('+alpha "beta gamma"', 5)


def test_sql_surface_lucene_mode(spark, bool_index_dir):
    """bm25_search(q, k, 'lucene') == search_lucene, including MUST_NOT
    and boosts, and the phrase route still works through the parser."""
    from rdf_indexer_spark.index.bm25 import IndexReader
    from rdf_indexer_spark.index.sqlsurface import register_sql_surface

    register_sql_surface(spark, bool_index_dir, name="bm25_search_luc")
    reader = IndexReader(spark, bool_index_dir)
    q = "+alpha -beta gamma^2"
    want = [(d, round(s, 8)) for d, s in reader.search_lucene(q, 10)]
    got = [(r["doc_id"], round(r["score"], 8)) for r in spark.sql(
        f"SELECT * FROM bm25_search_luc('{q}', 10, 'lucene') ORDER BY rank"
    ).collect()]
    assert got == want
    # fq composes in SQL too
    want = [(d, round(s, 8)) for d, s in
            reader.search_lucene(q, 10, where="doc_id < 60")]
    got = [(r["doc_id"], round(r["score"], 8)) for r in spark.sql(
        f"SELECT * FROM bm25_search_luc('{q}', 10, 'lucene', "
        f"'doc_id < 60') ORDER BY rank").collect()]
    assert got == want


def test_min_should_match(spark, bool_index_dir):
    """Lucene minimumNumberShouldMatch (Solr dismax mm): a doc must align
    ≥ mm SHOULD clauses — brute-force-twinned on both routes, through the
    parser surface and the SQL surface, with the Lucene
    fewer-clauses-than-mm → MatchNoDocs rule."""
    from rdf_indexer_spark.index.bm25 import IndexReader
    from rdf_indexer_spark.index.sqlsurface import register_sql_surface

    reader = IndexReader(spark, bool_index_dir)
    cases = [
        ([], ["alpha", "beta", "gamma"], [], 2),   # pure-should, mm=2
        ([], ["alpha", "beta", "gamma"], [], 3),   # all three required
        (["w0"], ["alpha", "gamma"], [], 1),       # must + gated should
        ([], ["alpha", "beta"], ["gamma"], 2),     # mm + MUST_NOT
    ]
    for must, should, mnot, mm in cases:
        want = _brute_boolean(must, should, mnot, mm=mm)
        assert want, f"vacuous case {(must, should, mm)}"
        for dist in (False, True):
            got = [(d, round(s, 8)) for d, s in reader.search_boolean(
                must, should, mnot, k=10, min_should_match=mm,
                distributed=dist)]
            assert got == want, (must, should, mm, dist)
    # mm > optional clause count matches nothing (Lucene's rule), and an
    # unindexed clause can never help reach the threshold
    assert reader.search_boolean([], ["alpha", "beta"],
                                 min_should_match=3) == []
    assert reader.search_boolean([], ["alpha", "zzznope"],
                                 min_should_match=2) == []
    # parser surface
    want = _brute_boolean([], ["alpha", "beta", "gamma"], [], mm=2)
    got = [(d, round(s, 8)) for d, s in
           reader.search_lucene("alpha beta gamma", 10,
                                min_should_match=2)]
    assert got == want
    with pytest.raises(ValueError, match="min_should_match"):
        reader.search_lucene('alpha "beta gamma"', 10, min_should_match=2)
    # SQL surface: 5th arg, both 'or' and 'lucene' modes
    register_sql_surface(spark, bool_index_dir, name="bm25_search_mm")
    for mode in ("or", "lucene"):
        got = [(r["doc_id"], round(r["score"], 8)) for r in spark.sql(
            "SELECT * FROM bm25_search_mm('alpha beta gamma', 10, "
            f"'{mode}', CAST(NULL AS STRING), 2) ORDER BY rank").collect()]
        assert got == want, mode


# -- wildcard / fuzzy expansion + grouped MUST walk (r5) ---------------------

W_TERMS = [f"w{i}" for i in range(7)]  # _bool_corpus's w0..w6 family


def test_expand_wildcard_fuzzy(spark, bool_index_dir):
    """Dictionary expansion: deterministic (df desc, term asc) order for
    wildcards, (dist asc, df desc, term asc) for fuzzy, caps honored.
    _bool_corpus plants w0 with df 18 (120 = 7·17+1) and w1..w6 with 17."""
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, bool_index_dir)
    assert reader.expand_wildcard("w?") == W_TERMS
    assert reader.expand_wildcard("alp*") == ["alpha"]
    assert reader.expand_wildcard("*eta") == ["beta"]  # no-prefix pattern
    assert reader.expand_wildcard("zzz*") == []
    assert reader.expand_wildcard("w?", max_expansions=3) == ["w0", "w1", "w2"]
    assert reader.expand_fuzzy("alpa", 1) == ["alpha"]
    assert reader.expand_fuzzy("w9", 1) == W_TERMS
    assert reader.expand_fuzzy("w9", 1, max_expansions=2) == ["w0", "w1"]
    # exact term is its own distance-0 candidate, ranked first
    assert reader.expand_fuzzy("w3", 1)[0] == "w3"


def _brute_grouped(groups, should, must_not, k=10, pred=lambda i: True):
    """From-scratch grouped BooleanQuery BM25 over the _bool_corpus spec:
    each (terms, boost) group is an at-least-one-of gate and every present
    member contributes boost·idf·tf-saturation."""
    import collections
    import math

    toks = {i: t.split() for i, t in _bool_corpus()}
    n = len(toks)
    dls = {i: len(ts) for i, ts in toks.items()}
    avgdl = sum(dls.values()) / n
    dfc = collections.Counter(t for ts in toks.values() for t in set(ts))

    def contrib(t, i, b=1.0):
        tf = toks[i].count(t)
        idf = math.log(1 + (n - dfc[t] + 0.5) / (dfc[t] + 0.5))
        return b * idf * tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dls[i] / avgdl))

    hits = []
    for i, ts in toks.items():
        s = set(ts)
        if any(not (set(g) & s) for g, _ in groups):
            continue
        if any(m in s for m in must_not) or not pred(i):
            continue
        if not (groups or any(t in s for t in should)):
            continue
        score = (sum(contrib(t, i, b) for g, b in groups
                     for t in sorted(set(g)) if t in s)
                 + sum(contrib(t, i) for t in should if t in s))
        hits.append((i, score))
    hits.sort(key=lambda x: (-x[1], x[0]))
    return [(i, round(sc, 8)) for i, sc in hits[:k]]


@pytest.mark.parametrize("q,groups,should,must_not", [
    ("w?", [], W_TERMS, []),                       # SHOULD wildcard
    ("+alp* beta", [(["alpha"], 1.0)], ["beta"], []),  # MUST singleton group
    ("+w? alpha", [(W_TERMS, 1.0)], ["alpha"], []),    # MUST 7-way group
    ("alpha -w0*", [], ["alpha"], ["w0"]),         # MUST_NOT wildcard
    ("w9~1 alpha", [], [*W_TERMS, "alpha"], []),   # SHOULD fuzzy
    ("+w9~1^2 alpha", [(W_TERMS, 2.0)], ["alpha"], []),  # boosted MUST fuzzy
])
def test_lucene_wildcard_fuzzy_matches_bruteforce(
        spark, bool_index_dir, q, groups, should, must_not):
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, bool_index_dir)
    want = _brute_grouped(groups, should, must_not)
    assert want, f"vacuous case {q!r}"
    for dist in (False, True):
        got = [(d, round(s, 8)) for d, s in
               reader.search_lucene(q, 10, distributed=dist)]
        assert got == want, (q, dist, got[:3], want[:3])


def test_lucene_expansion_edges(spark, bool_index_dir):
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, bool_index_dir)
    # empty MUST expansion = MatchNoDocs (Lucene's rewritten-clause rule)
    assert reader.search_lucene("+zzz* alpha", 10) == []
    # empty SHOULD expansion just drops the clause
    got = reader.search_lucene("zzz* alpha", 10)
    assert [d for d, _ in got] == [
        d for d, _ in reader.search_lucene("alpha", 10)]
    # fq composes with the grouped walk on both routes
    want = _brute_grouped([(W_TERMS, 1.0)], ["alpha"], [],
                          pred=lambda i: i < 60)
    for dist in (False, True):
        got = [(d, round(s, 8)) for d, s in reader.search_lucene(
            "+w? alpha", 10, where="doc_id < 60", distributed=dist)]
        assert got == want


def test_sql_surface_lucene_wildcard_fuzzy(spark, bool_index_dir):
    """The SQL surface's worker-side expansion (DuckDB dictionary scan) is
    rank- and score-identical to the driver path for wildcard, fuzzy and
    grouped-MUST queries, including under fq."""
    from rdf_indexer_spark.index.bm25 import IndexReader
    from rdf_indexer_spark.index.sqlsurface import register_sql_surface

    register_sql_surface(spark, bool_index_dir, name="bm25_search_exp")
    reader = IndexReader(spark, bool_index_dir)
    for q in ("w?", "+w? alpha", "w9~1 beta", "+w9~1^2 alpha",
              "alpha -w0*"):
        want = [(d, round(s, 8)) for d, s in reader.search_lucene(q, 10)]
        got = [(r["doc_id"], round(r["score"], 8)) for r in spark.sql(
            f'SELECT * FROM bm25_search_exp("{q}", 10, \'lucene\') '
            "ORDER BY rank").collect()]
        assert got == want, q
    q = "+w? alpha"
    want = [(d, round(s, 8)) for d, s in
            reader.search_lucene(q, 10, where="doc_id < 60")]
    got = [(r["doc_id"], round(r["score"], 8)) for r in spark.sql(
        f'SELECT * FROM bm25_search_exp("{q}", 10, \'lucene\', '
        "'doc_id < 60') ORDER BY rank").collect()]
    assert got == want


def test_search_sorted_and_grouped(spark, facet_index_dir):
    """Solr sort=<field> and group.field surfaces: field-ordered match-set
    page (no scoring) and per-group top docs, checked against the
    exhaustive scorer + python recomputation."""
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, facet_index_dir)
    docs = _facet_docs()

    # sort by stored field: zeta docs ordered by (source, doc_id)
    rows = reader.search_sorted("zeta", "source", k=5).collect()
    zeta_ids = [i for i, t, _, _ in docs if "zeta" in t]
    want = sorted(((f"s{i % 2}", i) for i in zeta_ids))[:5]
    assert [(r["source"], r["doc_id"]) for r in rows] == want
    # descending + where: source desc, doc_id asc
    rows = reader.search_sorted("zeta", "source", ascending=False, k=3,
                                where="doc_id < 30").collect()
    cand = [(f"s{i % 2}", i) for i in zeta_ids if i < 30]
    cand.sort(key=lambda x: (x[1],))
    cand.sort(key=lambda x: x[0], reverse=True)
    assert [(r["source"], r["doc_id"]) for r in rows] == cand[:3]

    # grouping: twin = exhaustive scores grouped in python
    scored = {r["doc_id"]: r["score"] for r in
              reader.score_exhaustive("alpha zeta", k=None).collect()}
    lang_of = {i: lg for i, _, lg, _ in docs}
    groups: dict[str, list] = {}
    for d, s in scored.items():
        groups.setdefault(lang_of[d], []).append((d, s))
    for g in groups:
        groups[g].sort(key=lambda x: (-x[1], x[0]))
    order = sorted(groups, key=lambda g: (-groups[g][0][1], g))[:2]
    want_rows = sorted(
        (g, d, round(s, 8), r + 1)
        for g in order for r, (d, s) in enumerate(groups[g][:2]))
    got = sorted(
        (r["lang"], r["doc_id"], round(r["score"], 8), r["doc_rank"])
        for r in reader.search_grouped(
            "alpha zeta", "lang", k_groups=2, k_per_group=2).collect())
    assert got == want_rows


def test_facet_range_and_field_stats(spark, tmp_path):
    """facet.range returns EVERY bucket (zeros included) with floor
    bucketing and [start,end) bounds; stats.field aggregates the match
    set. Expectations brute-forced from the corpus spec."""
    from rdf_indexer_spark.index.build import build_index
    from rdf_indexer_spark.index.bm25 import IndexReader

    idx = str(tmp_path / "ridx")
    rows = [(i, "alpha" + (" zeta" if i % 3 == 0 else ""), i * 7 % 100)
            for i in range(90)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, val long")
    build_index(spark, docs, idx, num_buckets=2, resume=False,
                meta_cols=("val",))
    reader = IndexReader(spark, idx)

    got = [(r["bucket_start"], r["n"]) for r in
           reader.facet_range("zeta", "val", 0, 100, 20).collect()]
    vals = [v for i, t, v in rows if "zeta" in t]
    want = [(float(b), sum(1 for v in vals if b <= v < b + 20))
            for b in range(0, 100, 20)]
    assert got == want and len(got) == 5
    # bounds are [start, end): values at/above end never count, and empty
    # buckets still appear
    got = [(r["bucket_start"], r["n"]) for r in
           reader.facet_range("zeta", "val", 0, 40, 10,
                              where="doc_id < 9").collect()]
    sub = [v for i, t, v in rows if "zeta" in t and i < 9]  # docs 0,3,6
    want = [(float(b), sum(1 for v in sub if b <= v < b + 10))
            for b in range(0, 40, 10)]
    assert got == want and any(n == 0 for _, n in got)

    s = reader.field_stats("zeta", "val").collect()[0]
    assert (s["n"], s["min"], s["max"], s["sum"]) == (
        len(vals), min(vals), max(vals), sum(vals))
    assert s["mean"] == round(sum(vals) / len(vals), 6)


# --- cursor paging / terms / pivot facets / rerank (r5 serving surfaces) ----


def test_cursor_paging_partitions_ranking(spark, index_dir):
    """searchAfter/cursorMark: consecutive pages concatenate to exactly the
    single-shot top-3k ranking — disjoint, ordered, no drift — on BOTH the
    driver and the distributed walk, and in and-mode."""
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, index_dir)

    def paged(fn, q, pages=3, k=10, **kw):
        out, after = [], None
        for _ in range(pages):
            p = fn(q, k, after=after, **kw)
            if not p:
                break
            out.extend(p)
            after = p[-1]
        return out

    def rounded(hits):
        return [(d, round(s, 9)) for d, s in hits]

    for q in ["the", "alpha beta gamma", "needle the"]:
        full = reader.search_wand(q, 30)
        assert rounded(paged(reader.search_wand, q)) == rounded(full)
        assert rounded(
            paged(reader.search_wand_distributed, q)) == rounded(full)

    # and-mode paging (hot Zipf-head terms so the conjunction is non-empty)
    full = reader.search_wand("w0 w1", 20, mode="and")
    assert len(full) == 20
    p1 = reader.search_wand("w0 w1", 10, mode="and")
    p2 = reader.search_wand("w0 w1", 10, mode="and", after=p1[-1])
    assert rounded(p1 + p2) == rounded(full)

    # paging past the end of the match set is empty, not an error
    tail = reader.search_wand("needle", 10 ** 6)
    assert reader.search_wand("needle", 10, after=tail[-1]) == []
    assert reader.search_wand_distributed("needle", 10, after=tail[-1]) == []

    # the search() front door threads the cursor through routing
    cursor = reader.search_wand("the", 10)[-1]
    page2 = reader.search("the", 10, after=cursor)
    want = reader.search_wand("the", 20)[10:]
    assert rounded([(r["doc_id"], r["score"]) for r in page2.collect()]) == \
        rounded(want)


def test_terms_component_semantics(spark, index_dir):
    """terms(): dictionary enumeration matches a from-corpus df recount,
    honors the prefix filter and the (df desc, term asc) top-N boundary."""
    from collections import Counter

    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, index_dir)
    df = Counter()
    for _, text in _synth_docs():
        df.update(set(text.split()))

    got = [(r["term"], r["df"]) for r in reader.terms("w1", limit=10).collect()]
    want = sorted(((t, c) for t, c in df.items() if t.startswith("w1")),
                  key=lambda x: (-x[1], x[0]))[:10]
    assert got == want

    got_all = [(r["term"], r["df"]) for r in reader.terms(limit=5).collect()]
    want_all = sorted(df.items(), key=lambda x: (-x[1], x[0]))[:5]
    assert got_all == want_all

    assert reader.terms("zzzmissing", limit=5).count() == 0


def test_facet_pivot_semantics(spark, facet_index_dir):
    """facet_pivot: per-parent nested counts over the FULL match set match
    a brute-force recount; honors mode / where / per-parent top cap."""
    from collections import Counter

    from rdf_indexer_spark.analyzer import tokenize
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, facet_index_dir)
    docs = _facet_docs()

    def brute(q_terms, mode="or", where_even=False, top=5):
        pairs = Counter()
        for doc_id, text, lang, source in docs:
            if where_even and doc_id % 2 != 0:
                continue
            toks = set(tokenize(text))
            if q_terms is not None:
                ok = (any(t in toks for t in q_terms) if mode == "or"
                      else all(t in toks for t in q_terms))
                if not ok:
                    continue
            pairs[(lang, source)] += 1
        by_parent: dict = {}
        for (p, v), n in pairs.items():
            by_parent.setdefault(p, []).append((v, n))
        out = {}
        for p, vs in by_parent.items():
            vs.sort(key=lambda x: (-x[1], x[0]))
            for v, n in vs[:top]:
                out[(p, v)] = n
        return out

    def got(df):
        return {(r["parent_value"], r["facet_value"]): r["n"]
                for r in df.collect()}

    q = "zeta w1"
    assert got(reader.facet_pivot(q, ["lang", "source"])) == brute(
        q.split())
    assert got(reader.facet_pivot(q, ["lang", "source"], mode="and")) == \
        brute(q.split(), mode="and")
    assert got(reader.facet_pivot("*:*", ["lang", "source"],
                                  where="doc_id % 2 = 0")) == \
        brute(None, where_even=True)
    # per-parent cap: top=1 keeps exactly one child per parent
    capped = got(reader.facet_pivot(q, ["lang", "source"], top=1))
    full = brute(q.split(), top=1)
    assert capped == full
    parents = {p for p, _ in capped}
    assert all(sum(1 for pp, _ in capped if pp == p) == 1 for p in parents)

    with pytest.raises(ValueError):
        reader.facet_pivot(q, ["lang"])
    with pytest.raises(ValueError):
        reader.facet_pivot(q, ["lang", "source"], mode="bad")


def test_search_reranked_semantics(spark, index_dir):
    """search_reranked: exact within the candidate window — equals a
    brute-force rescore of the BM25 top-rerank_k with the additive
    field boost; NULL/absent boost treated as 0."""
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, index_dir)
    q = "alpha beta"
    cands = reader.search_wand(q, 25)
    store = spark.read.parquet(os.path.join(index_dir, "docstore"))
    dls = {r["doc_id"]: r["dl"] for r in
           store.select("doc_id", "dl").collect()}
    want = sorted(((d, s + 0.01 * dls[d]) for d, s in cands),
                  key=lambda x: (-x[1], x[0]))[:10]
    got = reader.search_reranked(q, 10, rerank_k=25, boost_field="dl",
                                 boost_weight=0.01)
    assert [(d, round(s, 9)) for d, s in got] == \
        [(d, round(s, 9)) for d, s in want]

    # no matches → empty
    assert reader.search_reranked("zzznothing", 10, rerank_k=25,
                                  boost_field="dl") == []


def test_sql_surface_lateral_batch(spark, index_dir):
    """SQL-side BATCH serving: LATERAL-correlate the ``bm25_search`` UDTF
    against a query table — the SQL twin of ``IndexReader.search_many``
    (one statement answers a whole query set, one UDTF eval per query
    row, scheduled across the cluster with the query table's partitions).
    Per-query results must be rank- and score-identical to the Python
    batch surface, including the zero-hit query contributing no rows."""
    from rdf_indexer_spark.index.bm25 import IndexReader
    from rdf_indexer_spark.index.sqlsurface import register_sql_surface

    register_sql_surface(spark, index_dir)
    reader = IndexReader(spark, index_dir)
    qset = {"a": "the alpha", "b": "needle",
            "c": "beta gamma", "d": "zzznotaword"}
    spark.createDataFrame(sorted(qset.items()), ["qid", "qtext"]) \
        .createOrReplaceTempView("qset_lateral")
    got: dict[str, list] = {}
    for r in spark.sql(
        "SELECT q.qid, s.doc_id, s.score, s.rank "
        "FROM qset_lateral q, LATERAL bm25_search(q.qtext, 7) s"
    ).collect():
        got.setdefault(r["qid"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    want: dict[str, list] = {}
    for r in reader.search_many(qset, 7).collect():
        want.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    assert "d" not in got and "d" not in want
    assert set(got) == {"a", "b", "c"}
    for qid in sorted(got):
        assert sorted(got[qid]) == sorted(want[qid]), qid


def test_sql_surface_cursor_paging(spark, index_dir):
    """bm25_search(..., after_doc, after_score): SQL pages concatenate to
    the single-shot ranking in or- and and-mode; half a cursor or a
    non-or/and mode errors loudly."""
    from rdf_indexer_spark.index.bm25 import IndexReader
    from rdf_indexer_spark.index.sqlsurface import register_sql_surface

    register_sql_surface(spark, index_dir, name="bm25_cpage")
    reader = IndexReader(spark, index_dir)

    def rounded(pairs):
        return [(d, round(s, 9)) for d, s in pairs]

    for mode, q in (("or", "the alpha"), ("and", "w0 w1")):
        full = reader.search_wand(q, 20, mode=mode)
        p1 = spark.sql(
            f"SELECT * FROM bm25_cpage('{q}', 10, '{mode}')").collect()
        last = p1[-1]
        p2 = spark.sql(
            f"SELECT * FROM bm25_cpage('{q}', 10, '{mode}', NULL, 0, "
            f"{last['doc_id']}, {last['score']!r})").collect()
        got = rounded([(r["doc_id"], r["score"]) for r in p1 + p2])
        assert got == rounded(full)

    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    with pytest.raises((PythonException, Py4JJavaError)):
        spark.sql(
            "SELECT * FROM bm25_cpage('the', 5, 'or', NULL, 0, 3, NULL)"
        ).collect()


def test_search_collated(spark, index_dir):
    """spellcheck.collate: unknown terms are rewritten to the top
    suggestion, known terms stay, hopeless terms stay as typed, and the
    served ranking equals searching the collated string directly."""
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, index_dir)
    # 'neddle' is one edit from the planted 'needle'; 'alpha' is known
    collated, hits = reader.search_collated("neddle alpha", 10)
    assert collated == "needle alpha"
    want = reader.search_wand("needle alpha", 10)
    assert [(d, round(s, 9)) for d, s in hits] == \
        [(d, round(s, 9)) for d, s in want]
    # a term with no candidate within max_dist stays as typed
    collated2, hits2 = reader.search_collated("qqqqqqqqqq alpha", 10)
    assert collated2 == "qqqqqqqqqq alpha"
    assert [(d, round(s, 9)) for d, s in hits2] == \
        [(d, round(s, 9)) for d, s in reader.search_wand("alpha", 10)]


def test_facet_fields_validated_on_driver(spark, facet_index_dir):
    """Duplicate facet fields or fields colliding with the kernel's own
    columns (part/doc_id) fail fast with ValueError on the driver, not an
    opaque executor pandas error."""
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, facet_index_dir)
    with pytest.raises(ValueError, match="duplicate"):
        reader.facet_pivot("alpha", ["lang", "lang"])
    with pytest.raises(ValueError, match="collide"):
        reader.facet_pivot("alpha", ["doc_id", "lang"])
    with pytest.raises(ValueError, match="duplicate"):
        reader.facet_counts("alpha", ["lang", "lang"])
    with pytest.raises(ValueError, match="collide"):
        reader.facet_counts("alpha", ["part"])


def test_facet_queries_semantics(spark, facet_index_dir):
    """facet.query: per-subquery match-set counts vs brute force; zero
    counts are explicit rows; fq and tombstones apply."""
    from rdf_indexer_spark.analyzer import tokenize
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, facet_index_dir)
    docs = _facet_docs()

    def brute(q, mode="or", where_even=False):
        n = 0
        for doc_id, text, _lang, _src in docs:
            if where_even and doc_id % 2 != 0:
                continue
            toks = set(tokenize(text))
            qt = q.split()
            ok = (any(t in toks for t in qt) if mode == "or"
                  else all(t in toks for t in qt))
            n += bool(ok)
        return n

    got = {r["facet_query"]: r["n"] for r in reader.facet_queries(
        {"zeta": "zeta", "w1_or_w2": "w1 w2", "nope": "zzznotaword"}
    ).collect()}
    assert got == {"zeta": brute("zeta"), "w1_or_w2": brute("w1 w2"),
                   "nope": 0}
    got_and = {r["facet_query"]: r["n"] for r in reader.facet_queries(
        {"alpha_and_zeta": "alpha zeta"}, mode="and").collect()}
    assert got_and == {"alpha_and_zeta": brute("alpha zeta", mode="and")}
    got_fq = {r["facet_query"]: r["n"] for r in reader.facet_queries(
        {"zeta": "zeta"}, where="doc_id % 2 = 0").collect()}
    assert got_fq == {"zeta": brute("zeta", where_even=True)}
    with pytest.raises(ValueError):
        reader.facet_queries({})


def test_explain_query(spark, index_dir):
    """explain_query: planner-side debug — term stats, routing decision
    consistent with what search() actually does, missing terms, and-mode
    satisfiability."""
    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, index_dir)
    ex = reader.explain_query("the alpha zzznotaword")
    assert ex["missing_terms"] == ["zzznotaword"]
    assert ex["terms"]["zzznotaword"] is None
    assert ex["terms"]["the"]["df"] > 0 and ex["terms"]["the"]["idf"] > 0
    assert ex["route"] in ("driver", "distributed")
    reader.search("the alpha zzznotaword", 5).collect()
    assert reader.last_path == ex["route"]
    assert ex["and_unsatisfiable"] is False
    assert reader.explain_query(
        "the zzznotaword", mode="and")["and_unsatisfiable"] is True
    # all-missing-term queries report the path search() ACTUALLY takes
    none = reader.explain_query("zzznotaword")
    assert none["route"] == "driver" and none["est_fetch_bytes"] is None
    reader.search("zzznotaword", 5).collect()
    assert reader.last_path == none["route"]
    with pytest.raises(ValueError):
        reader.explain_query("the", mode="bogus")
    fq = reader.explain_query("the", where="doc_id % 2 = 0")
    assert fq["route"] == "distributed"


def test_search_synonyms(spark, index_dir):
    """SynonymQuery semantics: tf sums across group members, idf from max
    member df; driver == distributed; a doc using both spellings scores
    the concept ONCE (less than two independent terms would give it);
    all-unindexed groups vanish."""
    import math

    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, index_dir)
    syn = {"alpha": ["beta"]}
    drv = reader.search_synonyms("alpha the", syn, 15)
    dist = reader.search_synonyms_distributed("alpha the", syn, 15)
    assert [(d, round(s, 9)) for d, s in drv] == \
        [(d, round(s, 9)) for d, s in dist]
    assert drv, "synonym query found nothing"

    # brute-force the grouped scoring from the corpus
    docs = dict(_synth_docs())
    dfs = {}
    for t in ("alpha", "beta", "the"):
        dfs[t] = sum(1 for txt in docs.values() if t in txt.split())
    n = len(docs)
    avgdl = sum(len(t.split()) for t in docs.values()) / n

    def idf(df):
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    want = []
    for did, txt in docs.items():
        toks = txt.split()
        dl = len(toks)
        tf_g = toks.count("alpha") + toks.count("beta")
        tf_t = toks.count("the")
        sc = 0.0
        knorm = 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)
        if tf_g:
            sc += idf(max(dfs["alpha"], dfs["beta"])) * tf_g / (tf_g + knorm)
        if tf_t:
            sc += idf(dfs["the"]) * tf_t / (tf_t + knorm)
        if sc > 0:
            want.append((did, sc))
    want.sort(key=lambda x: (-x[1], x[0]))
    assert [(d, round(s, 6)) for d, s in drv] == \
        [(d, round(s, 6)) for d, s in want[:15]]

    # group with no indexed member contributes nothing (not an error)
    only_ghost = reader.search_synonyms("zzznothing", {"zzznothing": ["qqq"]}, 5)
    assert only_ghost == []
    # fq applies
    flt = reader.search_synonyms("alpha the", syn, 10, where="doc_id % 2 = 0")
    assert all(d % 2 == 0 for d, _ in flt)
    assert flt == reader.search_synonyms_distributed(
        "alpha the", syn, 10, where="doc_id % 2 = 0")


def test_sql_surface_facets(spark, facet_index_dir):
    """bm25_search_facets UDTF == IndexReader.facet_counts for or/and/
    match-all/fq shapes; bad field lists and modes error loudly."""
    from rdf_indexer_spark.index.bm25 import IndexReader
    from rdf_indexer_spark.index.sqlsurface import register_sql_surface

    register_sql_surface(spark, facet_index_dir, name="bm25_f")
    reader = IndexReader(spark, facet_index_dir)

    def sql(call):
        return {(r["facet_field"], r["facet_value"]): r["n"]
                for r in spark.sql(call).collect()}

    def api(df):
        return {(r["facet_field"], r["facet_value"]): r["n"]
                for r in df.collect()}

    assert sql("SELECT * FROM bm25_f_facets('zeta w1', 'lang,source', 5)") \
        == api(reader.facet_counts("zeta w1", ["lang", "source"], top=5))
    assert sql("SELECT * FROM bm25_f_facets('zeta w1', 'lang', 2, 'and')") \
        == api(reader.facet_counts("zeta w1", ["lang"], top=2, mode="and"))
    assert sql("SELECT * FROM bm25_f_facets('*:*', 'source', 5, 'or', "
               "'doc_id % 2 = 0')") \
        == api(reader.facet_counts("*:*", ["source"], top=5,
                                   where="doc_id % 2 = 0"))
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    with pytest.raises((PythonException, Py4JJavaError)):
        spark.sql("SELECT * FROM bm25_f_facets('zeta', '  ', 5)").collect()
    with pytest.raises((PythonException, Py4JJavaError)):
        spark.sql("SELECT * FROM bm25_f_facets('zeta', 'lang', 5, 'bad')"
                  ).collect()


def test_vectorized_walks_bit_identical_to_cursor_walks(
        spark, index_dir, pos_index_dir):
    """The columnar scoring core returns exactly the (doc, score) lists the
    doc-at-a-time cursor walks it replaced returned — same float sums
    (exact left-fold order), same masks, same (score desc, doc_id asc)
    tie-break. tests/fixtures/bm25_walk_golden.json holds the walks' output
    on these fixtures, floats written with repr; compared with ==."""
    import json

    from rdf_indexer_spark.index.bm25 import IndexReader

    path = os.path.join(os.path.dirname(__file__), "fixtures",
                        "bm25_walk_golden.json")
    with open(path) as f:
        golden = json.load(f)

    def same(name, want, got):
        assert got == [(d, s) for d, s in want], name

    r = IndexReader(spark, index_dir)
    page1 = r.search_wand("alpha beta", 3)
    assert page1
    terms = {
        "or": r.search_wand("alpha beta", 5),
        "and": r.search_wand("alpha beta", 5, mode="and"),
        "or_4terms": r.search_wand("the alpha gamma needle", 7),
        "or_where": r.search_wand("alpha", 5, where="doc_id % 2 = 0"),
        "or_after": r.search_wand("alpha beta", 5, after=page1[-1]),
        "boolean": r.search_boolean(["alpha"], ["beta", "gamma"], ["needle"],
                                    k=5, boosts={"beta": 2.0}),
        "boolean_mm2": r.search_boolean([], ["alpha", "beta", "gamma"], [],
                                        k=5, min_should_match=2),
        "grouped": r.search_lucene("+w1* alpha", 5),
        "synonyms": r.search_synonyms("alpha", {"alpha": ["beta"]}, 5),
    }
    assert terms.keys() == golden["index_dir"].keys()
    for name, got in terms.items():
        same(name, golden["index_dir"][name], got)

    p = IndexReader(spark, pos_index_dir)
    phrases = {
        "exact": lambda d: p.search_phrase("alpha beta", 50, distributed=d),
        "slop1": lambda d: p.search_phrase("alpha gamma", 50, slop=1,
                                           distributed=d),
        "slop2": lambda d: p.search_phrase("w0 w1", 50, slop=2,
                                           distributed=d),
        "dup_terms": lambda d: p.search_phrase("the the", 50, distributed=d),
        "required_phrase_term": lambda d: p.search_lucene(
            '+"alpha beta" gamma', 50, distributed=d),
        "optional_phrase_term": lambda d: p.search_lucene(
            '"alpha beta" needle', 50, distributed=d),
        "two_optional_phrases": lambda d: p.search_lucene(
            '"alpha beta" "needle the"', 50, distributed=d),
        "prohibited_phrase": lambda d: p.search_lucene(
            'gamma -"alpha beta"', 50, distributed=d),
        "phrase_where": lambda d: p.search_phrase(
            "alpha beta", 50, where="doc_id % 2 = 0", distributed=d),
    }
    assert phrases.keys() == golden["pos_index_dir"].keys()
    for name, run in phrases.items():
        want = golden["pos_index_dir"][name]
        assert want, f"vacuous golden case {name!r}"
        for dist in (False, True):
            same((name, dist), want, run(dist))
