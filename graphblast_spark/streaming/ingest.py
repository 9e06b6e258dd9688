"""Incremental pages→edges distillation — the streaming build path.

Batch build (sources/distill.py) is a full-table pass; at web scale
pages arrive continuously, so this runs the SAME extraction and pair
cleaning (``extract_columns`` → ``outlink_pairs``) per micro-batch via
``foreachBatch`` and appends the (src_url, dst_url) pairs to a parquet
edge log. Cross-batch dedup is deferred to ``Graph.build`` (which drops
duplicate (src,dst) pairs anyway — reference build semantics,
util.hpp:263-329), so the streaming writer stays append-only and
idempotent per batch id — the Iceberg-style pattern where the log is
cheap to write and compaction is a reader concern. The rebuild
(``edge_log_graph``) joins the log to dense ids with the batch path's
``dense_edges``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from graphblast_spark.sources.distill import dense_edges, extract_columns, outlink_pairs

PAGE_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def stream_pages(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(PAGE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def streaming_distill(
    pages_stream: DataFrame,
    edges_out: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Start the incremental distillation; returns the StreamingQuery.

    Each micro-batch: html → outlinks → explode → self-loop filter →
    within-batch dedup (the batch path's own functions) → append to
    ``edges_out``.
    """

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        outlink_pairs(extract_columns(batch_df)).write.mode("append").parquet(edges_out)

    writer = (
        pages_stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def edge_log_graph(spark: SparkSession, edges_log: str):
    """Close the streaming loop: (append-only url edge log) → (Graph,
    url_map). The vertex universe is every url OBSERVED in the log
    (sources or targets — dangling targets keep vertices, PR teleport
    semantics); ids are dense in url sort order via the same two-pass
    rank the batch distiller uses, so a rebuild after another append
    yields a superset corpus whose ranks warm-start via
    ``algorithms.pagerank.remap_ranks`` (url is the stable key).
    Cross-batch duplicate pairs from the idempotent append log are
    dropped inside ``Graph.build`` (they share src, so the dedup rides
    the layout shuffle)."""
    from graphblast_spark.matrix import Graph

    edges, url_map = dense_edges(spark.read.parquet(edges_log))
    return Graph.build(edges, vertices=url_map.select("id")), url_map
