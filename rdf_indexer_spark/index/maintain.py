"""Index maintenance: tombstone deletes + incremental append + in-place
update (delete+append composed, Lucene ``updateDocument`` semantics).

The reference's operational loop is *purge archive → re-post documents*
(``RDFIndexer.java:214-232`` purgeArchive + doIndexing; SolrClient delete-
by-query). The engine's equivalents, designed for the 100-TB posture:

* **Deletes are tombstones** (Lucene deleted-docs semantics): a parquet list
  of doc_ids consulted at query time. Postings/blocks are untouched; corpus
  statistics (N, avgdl, df) intentionally keep counting deleted docs until a
  rebuild ("compaction"), exactly like Lucene before segment merge — so a
  delete is O(deleted ids), never a rewrite of the index.

* **Appends are new buckets**: fresh documents land in NEW ``part``
  directories (dynamic partition overwrite never touches committed
  buckets), stats combine incrementally (counts/sums, no re-scan of old
  text), and termstats rebuild from block METADATA only (a column-pruned
  scan of (term, n, tf_sum) — no posting bytes are read, no re-tokenize).
  Per-bucket lineage rows land in the same manifest as the build
  (stage="append"), so interrupted appends resume like builds.

Invariant kept: per-part doc-id ranges stay disjoint and sorted (appended
docs get ids ≥ old N), so per-term block lists still concatenate into
globally sorted posting lists and both query routes work unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analyzer import tokenize_col
from .build import BLOCK_SCHEMA, IndexPaths, _group_metrics, _pack_stream
from .manifest import Manifest
from .writer import IndexWriter


def _stats_row(spark, n_docs: int, avgdl: float, total_tokens: int):
    """One-partition JVM-side stats row — createDataFrame([...]) would
    parallelize over defaultParallelism Python-backed slices and the
    coalesce(1) write would then evaluate them serially in one task
    (see build.py finalize)."""
    return spark.range(1).select(
        F.lit(int(n_docs)).cast("long").alias("n_docs"),
        F.lit(float(avgdl)).alias("avgdl"),
        F.lit(int(total_tokens)).cast("long").alias("total_tokens"),
    )

def delete_docs(spark: SparkSession, index_dir: str, doc_ids) -> int:
    """Tombstone the given doc ids (list[int] or a DataFrame with a
    ``doc_id`` column). Idempotent; returns the total tombstone count."""
    paths = IndexPaths(index_dir)
    tomb = os.path.join(paths.root, "tombstones")
    if isinstance(doc_ids, DataFrame):
        ids = doc_ids.select(F.col("doc_id").cast("long"))
    else:
        ids = spark.createDataFrame([(int(d),) for d in doc_ids], "doc_id long")
    writer = IndexWriter(Manifest(paths.manifest))
    writer.append_rows(ids, tomb)
    n = spark.read.parquet(tomb).select("doc_id").distinct().count()
    writer.commit("delete", f"n={n}")
    return n


def delete_by_query(spark: SparkSession, index_dir: str, predicate: str) -> int:
    """Purge-by-query (reference A-12 / SolrClient delete-by-query): every
    docstore row matching the SQL ``predicate`` is tombstoned."""
    paths = IndexPaths(index_dir)
    ids = spark.read.parquet(paths.docstore).filter(predicate).select("doc_id")
    return delete_docs(spark, index_dir, ids)


def update_documents(
    spark: SparkSession,
    updated_docs: DataFrame,
    index_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 4,
    meta_cols: tuple[str, ...] = (),
) -> dict:
    """RESOLVE-style re-post: replace existing documents in place, as one
    first-class index mutation (Lucene ``updateDocument`` semantics =
    delete + add). The reference rewrites resolved docs back into the index
    (``RDFIndexer.java:453-562`` posts the resolved object set over the old
    archive after purge); this is that loop behind the writer seam.

    ``updated_docs`` carries the OLD ``id_col`` values plus the new text.
    New versions are appended under fresh dense ids (``n_docs`` onward —
    old ids are never reused, keeping per-part id ranges disjoint/sorted),
    then the old ids are tombstoned. Append-before-delete: a crash between
    the two jobs leaves BOTH versions transiently visible (and the append
    resumable), never neither — the same exposure order Lucene's
    add-then-commit-deletes gives.

    Equivalence (asserted in tests/test_maintain.py): the updated index is
    rank- and score-identical ON EVERY QUERY PATH to a one-shot build over
    the union corpus (old docs + updated docs under the same new ids) with
    the old ids tombstoned. Corpus/term statistics keep counting the
    tombstoned versions until a rebuild — the module-level Lucene
    deleted-docs posture, identical to the delete path."""
    paths = IndexPaths(index_dir)
    from .docids import assign_doc_ids

    n_old = int(
        spark.read.parquet(paths.stats).collect()[0]["n_docs"])
    bounds = updated_docs.agg(
        F.max(F.col(id_col)).alias("hi"), F.count("*").alias("n"),
        F.count_distinct(F.col(id_col)).alias("nd"),
    ).collect()[0]
    if bounds["n"] == 0:
        return Manifest(paths.manifest).summary()
    if int(bounds["hi"]) >= n_old:
        raise ValueError(
            f"update targets unknown doc_id {bounds['hi']} >= n_docs {n_old}")
    if int(bounds["n"]) != int(bounds["nd"]):
        raise ValueError("duplicate doc_ids in update set")

    remapped = assign_doc_ids(
        updated_docs.select(
            F.col(id_col).cast("long").alias("_old_id"),
            F.col(text_col).alias(text_col),
            *[F.col(c) for c in meta_cols],
        ),
        ["_old_id"], out_col="_new_id",
    )
    new_docs = remapped.select(
        (F.col("_new_id") + F.lit(n_old)).alias("doc_id"),
        text_col, *[F.col(c) for c in meta_cols],
    )
    summary = append_documents(
        spark, new_docs, index_dir,
        num_buckets=num_buckets, meta_cols=meta_cols,
    )
    delete_docs(
        spark, index_dir,
        updated_docs.select(F.col(id_col).cast("long").alias("doc_id")),
    )
    return summary


def compact_index(spark: SparkSession, index_dir: str) -> dict:
    """Physically drop tombstoned docs — Lucene ``forceMergeDeletes`` /
    ``expungeDeletes``. Tombstone deletes are O(ids) but leave the dead
    docs inside the postings AND inside the corpus statistics (the
    documented Lucene deleted-docs posture: N/avgdl/df keep counting them
    until segments merge). Compaction closes that window: decode the
    packed blocks, drop deleted postings, re-pack, rewrite the docstore,
    REFRESH stats + termstats from the survivors, and clear the
    tombstones. After compaction the index is identical on every query
    path to a one-shot build over the visible corpus (asserted in
    tests/test_maintain.py), without ever needing the original text —
    everything rebuilds from the index's own binary payloads, which is
    what makes this runnable where the source corpus is long gone.

    Scale shape: one narrow decode of the query-index blocks (term-pruned
    reads don't apply — compaction is a full maintenance pass by nature),
    ONE shuffle of the surviving postings back to (part, hash(term))
    alignment (required: append generations leave multiple term-sorted
    files per part whose concatenation is not term-merged), the same
    vectorized ``_pack_stream`` packer as build/append, and metadata-only
    stats re-aggregation. Positional payloads survive compaction (the
    decode carries per-posting positions through the re-pack). Writes go
    through the writer seam as STATIC partitioned overwrites
    (``overwrite_partitioned`` — a fully-deleted bucket must disappear);
    Iceberg mapping: ``RewriteDataFilesAction`` + dropping the delete
    files in one commit."""
    from .bm25 import _decode_blocks_compact
    from .codec import unpack_positions  # noqa: F401 (executor import path)

    paths = IndexPaths(index_dir)
    manifest = Manifest(paths.manifest)
    tomb_path = os.path.join(paths.root, "tombstones")
    if not os.path.exists(tomb_path):
        return manifest.summary()
    tomb = spark.read.parquet(tomb_path).select("doc_id").distinct()
    n_tomb = tomb.count()
    if n_tomb == 0:
        return manifest.summary()
    # Tombstones are the small side at any realistic delete rate: broadcast
    # them so the anti-joins never shuffle the (huge) decoded postings
    # stream by doc_id — the only wide exchange in the whole pass stays the
    # single (part, hash(term)) re-alignment below. Guard on count so a
    # pathological mass-delete (where "drop and rebuild" is the right tool
    # anyway) falls back to a shuffled join instead of OOMing the driver.
    if n_tomb <= 10_000_000:
        tomb = F.broadcast(tomb)
    writer = IndexWriter(manifest)

    n_docs_after = spark.read.parquet(paths.docstore).join(
        tomb, "doc_id", "left_anti").count()
    if n_docs_after == 0:
        # an empty parquet table cannot round-trip (no files → no schema);
        # deleting everything is "drop the index dir", not a compaction
        raise ValueError("compaction would empty the index; drop it instead")

    blocks_df = spark.read.parquet(paths.blocks)
    first = blocks_df.select("pos_bin").limit(1).collect() \
        if "pos_bin" in blocks_df.columns else []
    positional = bool(first) and first[0]["pos_bin"] is not None

    schema = "part int, term string, doc_id long, tf long, dl long"
    cols = ["part", "term", "ids_bin", "tfs_bin", "dls_bin"]
    if positional:
        schema += ", positions array<long>"
        cols.append("pos_bin")
    survivors = (
        blocks_df.select(*cols)
        .mapInPandas(_decode_blocks_compact(positional), schema=schema)
        .join(tomb, "doc_id", "left_anti")
    )
    packed_src = (
        survivors.repartition(
            spark.sparkContext.defaultParallelism * 2,
            F.col("part"), F.xxhash64("term"))
        .sortWithinPartitions("part", "term", "doc_id")
    )
    new_blocks = packed_src.mapInPandas(_pack_stream, schema=BLOCK_SCHEMA)
    writer.overwrite_partitioned(new_blocks, paths.blocks)

    # docstore: same anti-join, static partitioned rewrite
    writer.overwrite_partitioned(
        spark.read.parquet(paths.docstore).join(tomb, "doc_id", "left_anti"),
        paths.docstore,
    )
    # optional postings debug table stays consistent when present
    if os.path.exists(paths.postings):
        writer.overwrite_partitioned(
            spark.read.parquet(paths.postings).join(
                tomb, "doc_id", "left_anti"),
            paths.postings,
        )

    # stats from the surviving docstore (dl is stored per doc — no text)
    row = spark.read.parquet(paths.docstore).agg(
        F.count("*").alias("n"), F.sum("dl").alias("tt")).collect()[0]
    n_docs, total_tokens = int(row["n"]), int(row["tt"] or 0)
    writer.overwrite(
        _stats_row(spark, n_docs,
                   (total_tokens / n_docs) if n_docs else 0.0, total_tokens),
        paths.stats, coalesce=1,
    )
    # termstats from the rewritten blocks' metadata (no binary reads)
    writer.overwrite(
        spark.read.parquet(paths.blocks)
        .groupBy("term")
        .agg(F.sum("n").alias("df"), F.sum("tf_sum").alias("cf"),
             F.sum("bin_bytes").alias("bytes")),
        paths.termstats,
    )
    # drop the delete files: compaction consumed them (Iceberg: the
    # RewriteDataFiles commit removes the applied delete files)
    import shutil

    shutil.rmtree(tomb_path, ignore_errors=True)
    writer.commit("compact", f"dropped={n_tomb}", n_docs=n_docs,
                  tokens=total_tokens)
    return manifest.summary()


def append_documents(
    spark: SparkSession,
    new_docs: DataFrame,
    index_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 4,
    meta_cols: tuple[str, ...] = (),
) -> dict:
    """Append ``new_docs`` as fresh buckets. ``id_col`` must continue the
    dense id space (first new id == current n_docs — asserted); pass ids
    from ``docids.assign_doc_ids`` offset by the reader's ``n_docs``.

    Returns the manifest summary. Search results over the combined index
    are rank- and score-identical to a one-shot build of the union corpus
    ONCE statistics agree — stats combine exactly (counts/sums), so they do
    (asserted in tests/test_maintain.py)."""
    paths = IndexPaths(index_dir)
    manifest = Manifest(paths.manifest)
    writer = IndexWriter(manifest)
    blocks_df = spark.read.parquet(paths.blocks)
    # positional-index auto-detect: if the existing blocks carry a real
    # pos_bin payload, appended buckets must too (else phrase queries would
    # silently miss appended docs); pre-positional indexes (no pos_bin
    # column at all) and positions=False builds (all-NULL) stay flat
    positional = (
        "pos_bin" in blocks_df.columns
        and blocks_df.filter(F.col("pos_bin").isNotNull()).limit(1).count() > 0
    )
    old = spark.read.parquet(paths.stats).collect()[0]
    n_old, tok_old = int(old["n_docs"]), int(old["total_tokens"])
    old_parts = [
        int(r["part"]) for r in
        spark.read.parquet(paths.blocks).select("part").distinct().collect()
    ]
    part_base = max(old_parts) + 1 if old_parts else 0

    bounds = new_docs.agg(
        F.min(F.col(id_col)).alias("lo"), F.count("*").alias("n")
    ).collect()[0]
    if int(bounds["lo"]) != n_old:
        raise ValueError(
            f"append ids must continue the dense space: first new id "
            f"{bounds['lo']} != current n_docs {n_old}"
        )
    n_new = int(bounds["n"])
    per = max((n_new + num_buckets - 1) // num_buckets, 1)

    part = (
        F.lit(part_base)
        + F.least(F.floor((F.col(id_col) - n_old) / per), F.lit(num_buckets - 1))
    ).cast("int")
    enriched = (
        new_docs.select(
            part.alias("part"),
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("text"),
            *[F.col(c) for c in meta_cols],
        )
        .repartition(spark.sparkContext.defaultParallelism * 2,
                     F.col("part"), F.pmod(F.col("doc_id"), F.lit(8)))
        .withColumn("toks", tokenize_col(F.col("text")))
        .select(
            "part", "doc_id",
            F.size("toks").alias("dl"),
            F.sha2(F.col("text"), 256).alias("content_sha256"),
            "toks",
            *[F.col(c) for c in meta_cols],
        )
    )
    group = list(range(part_base, part_base + num_buckets))
    # no persist / no Observation: same rationale as build_index — recompute
    # of the narrow tokenize chain beats caching token arrays, and the
    # per-bucket metrics come from a column-pruned re-scan of the freshly
    # written files instead of O(|group|) conditional aggregate buffers
    # riding the write (measured 30-40% of build wall-clock)
    writer.append_partitioned(enriched.drop("toks"), paths.docstore)

    if positional:
        exploded = enriched.select(
            "part", "doc_id", "dl", F.posexplode("toks").alias("tok_pos", "term"))
        aggs = [F.count("*").alias("tf"),
                F.sort_array(F.collect_list("tok_pos")).alias("positions")]
    else:
        exploded = enriched.select(
            "part", "doc_id", "dl", F.explode("toks").alias("term"))
        aggs = [F.count("*").alias("tf")]
    postings = (
        exploded.groupBy("part", "term", "doc_id", "dl").agg(*aggs)
        .repartition(spark.sparkContext.defaultParallelism * 2,
                     F.col("part"), F.xxhash64("term"))
        .sortWithinPartitions("part", "term", "doc_id")
    )
    blocks = postings.mapInPandas(_pack_stream, schema=BLOCK_SCHEMA)
    writer.append_partitioned(blocks, paths.blocks)

    if os.path.exists(paths.postings):
        writer.append_partitioned(postings, paths.postings)

    doc_m, post_m = _group_metrics(spark, paths, group)
    new_tokens = sum(int(doc_m.get(b, {}).get("tokens") or 0) for b in group)
    for b in group:
        dm = doc_m.get(b, {})
        writer.commit(
            "append", f"bucket={b:05d}",
            rows=int(dm.get("rows") or 0),
            tokens=int(dm.get("tokens") or 0),
            postings=int(post_m.get(b) or 0),
            sha_agg=str(dm.get("sha") or 0),
        )

    # stats combine EXACTLY (no re-scan of old text)
    n_docs = n_old + n_new
    total_tokens = tok_old + new_tokens
    writer.overwrite(
        _stats_row(spark, n_docs, total_tokens / n_docs, total_tokens),
        paths.stats, coalesce=1,
    )
    # termstats from block metadata only (column-pruned scan; no binary
    # columns read — bin_bytes is a metadata long)
    writer.overwrite(
        spark.read.parquet(paths.blocks)
        .groupBy("term")
        .agg(F.sum("n").alias("df"), F.sum("tf_sum").alias("cf"),
             F.sum("bin_bytes").alias("bytes")),
        paths.termstats,
    )
    writer.commit("finalize", f"append_stats_n={n_docs}")
    return manifest.summary()
