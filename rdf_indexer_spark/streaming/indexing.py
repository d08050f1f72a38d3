"""Continuous indexing: a document stream feeding the inverted index.

The reference's ingestion is batch re-posts over HTTP (RDFIndexer.java
doIndexing → SolrClient.postFile); the Spark-first continuous equivalent is
Structured Streaming with ``foreachBatch`` committing each micro-batch
through the SAME append path interactive maintenance uses
(:func:`..index.maintain.append_documents`) — so a streamed index is at
every commit point byte-equivalent to a batch index over the documents seen
so far, and every query surface (driver/distributed routes, phrase,
SQL UDTF, fq) works mid-stream with no special cases.

Why foreachBatch and not a custom streaming sink: appends must (a) assign
dense doc ids from the CURRENT index size — a cross-batch transactional
read — and (b) commit docstore+blocks+stats atomically per batch through
the writer seam. That is exactly the idempotent-batch contract foreachBatch
exists for; Spark's own docs steer multi-table transactional sinks there.
Exactly-once: the streaming checkpoint records the last committed batch id;
``append_documents`` is resumable/idempotent per bucket via the index
manifest, and replays of a fully-committed batch are detected by the
stream's own checkpoint.

At 100-TB posture each micro-batch lands as NEW part buckets (dynamic
partition overwrite never touches committed ones) and stats combine as
counts/sums, so commit cost scales with the batch, never the index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def index_stream(
    stream_docs: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    *,
    text_col: str = "text",
    key_cols: tuple[str, ...] = (),
    num_buckets_per_batch: int = 2,
    trigger: dict | None = None,
    queryName: str = "index-stream",
):
    """Start a streaming query appending ``stream_docs`` to the index at
    ``index_dir`` (which must already exist — seed it with an initial
    ``build_index`` over the bootstrap corpus; positional indexes stay
    positional, the append path auto-detects).

    ``key_cols``: optional natural-key columns for run-stable in-batch id
    assignment (ids are ``current n_docs + dense rank over key_cols``; with
    no keys, arrival order within the batch is used via a monotonic id —
    fine when the source is replayable/ordered like Kafka partitions).
    Returns the StreamingQuery handle."""

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        from ..index.docids import assign_doc_ids
        from ..index.maintain import append_documents

        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        if key_cols:
            # scale path: parallel bucketed dense ids over the natural key
            withid = assign_doc_ids(
                batch_df, list(key_cols), out_col="_bid")
        else:
            # convenience path: arrival-order ids via one global window —
            # a single-task sort BOUNDED BY THE MICRO-BATCH (never the
            # index); pass key_cols for large batches
            withid = batch_df.withColumn(
                "_bid", F.row_number().over(
                    Window.orderBy(F.monotonically_increasing_id())) - 1)
        from ..index.build import IndexPaths

        n_old = int(spark.read.parquet(
            IndexPaths(index_dir).stats).collect()[0]["n_docs"])
        docs = withid.select(
            (F.col("_bid") + F.lit(n_old)).alias("doc_id"),
            F.col(text_col).alias("text"),
        )
        append_documents(
            spark, docs, index_dir, num_buckets=num_buckets_per_batch)

    writer = (
        stream_docs.writeStream
        .queryName(queryName)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_commit)
        .outputMode("append")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
