"""Structured Streaming ingest of the pages table.

The reference is batch-only (its async API is a forked batch worker,
reference api.R:105-279 — SURVEY.md §2.7), so streaming is a graft
extension, not a parity requirement: a crawl feed lands as files, the
engine ingests micro-batches with exactly-once file-source semantics,
runs the SAME extraction/geometry/tiling pipeline (the pandas UDFs are
streaming-safe: stateless per batch), and maintains watermarked
windowed tile counts for late-arriving pages.

Checkpointing: the stream checkpoint (file-source offsets + sink
commit log) is Spark's own; it composes with the engine's chunk
manifest (checkpoint.py) which covers batch reprocessing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def read_pages_stream(
    spark: SparkSession, input_dir: str, glob: str | None = None
) -> DataFrame:
    """File-source stream over a directory pages land in (exactly-once
    per file via the source's file ledger). `glob` filters file names
    when the directory holds other tables too."""
    r = spark.readStream.schema(PAGES_SCHEMA).option("maxFilesPerTrigger", 4)
    if glob:
        r = r.option("pathGlobFilter", glob)
    return r.parquet(input_dir)


def pages_stream_to_points(stream: DataFrame) -> DataFrame:
    """The batch pipeline's extract -> point -> project -> tile prefix
    applied to a streaming DataFrame (the same pipeline.with_points
    stage)."""
    from fgcspark.cells import grid
    from fgcspark.extract import with_extracted
    from fgcspark.pipeline import with_points

    df = with_points(with_extracted(stream)).select("url", "warc_ts", "e", "n")
    return df.withColumn("cell_10km", grid.cell_id(F.col("e"), F.col("n"), 10))


def ingest_points(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    glob: str | None = None,
):
    """Ingest all currently-available files as micro-batches into a
    parquet sink, then stop (Trigger.AvailableNow — drains the backlog
    with streaming semantics, the right shape for cron-style crawls)."""
    pts = pages_stream_to_points(read_pages_stream(spark, input_dir, glob))
    q = (
        pts.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def windowed_tile_counts(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
):
    """Watermarked tumbling-window doc counts per 10 km tile — the
    streaming twin of tile_counts (late pages beyond the watermark are
    dropped; append mode emits only finalized windows)."""
    pts = pages_stream_to_points(read_pages_stream(spark, input_dir))
    agg = (
        pts.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("cell_10km"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("cell_10km"),
            F.col("n_docs"),
        )
    )
    q = (
        agg.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def streaming_pip(
    spark: SparkSession,
    input_dir: str,
    polygons: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    cell_km: int = 50,
    glob: str | None = None,
):
    """Streaming point-in-polygon: pages stream -> extract/point/
    project -> stream-static join against the executor-built (cell,
    poly) cover -> exact refine -> parquet sink (AvailableNow).

    The plan is the batch pip_join itself: the layer side is static,
    so Spark picks broadcast or shuffle by its size exactly as in
    batch, and the stream-static join is stateless per micro-batch (no
    watermark needed). Identical inputs give identical rows to the
    batch path (asserted in tests)."""
    from fgcspark.joins.pip import pip_join

    pts = pages_stream_to_points(read_pages_stream(spark, input_dir, glob))
    joined = pip_join(
        spark, pts.select("url", "e", "n"), polygons, cell_km=cell_km
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q

