"""Structured Streaming over a WARC landing zone: continuous crawl ingest.

Batch mode ingests a finished crawl (``sources/warc.py::pages_from_warc_dir``);
a live crawl instead DROPS ``*.warc.gz`` files into a landing directory as
crawlers finish them (the Common-Crawl CC-NEWS pattern).  This module is the
streaming twin: ``readStream.format("binaryFile")`` discovers new WARC files
per micro-batch, the SAME member-gzip parser and extraction operator run over
them (both are stateless per file/row, so batch and stream share one code
path), and the sink checkpoint replaces the reference's queue ack/replay
(``rag/svr/task_executor.py:172-210``).

Scale/exactly-once design:
  * File discovery state is the stream checkpoint (seen-file log) — a file is
    processed once even across job restarts; one WARC file = one task, same
    sharding unit as batch.
  * The parquet sink's commit log makes extraction output exactly-once.
  * The WET sink runs in ``foreachBatch``; re-running a failed batch is
    idempotent because shard bytes are a pure function of (batch rows) and
    each shard is published by atomic rename — a replay overwrites identical
    bytes rather than duplicating records.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, LongType, StringType, StructField,
                               StructType, TimestampType)

from ..operators.extract import extract_pages
from ..sources.warc import pages_from_warc, write_wet_files

# binaryFile's schema is fixed by the source; streaming file sources require
# it stated explicitly (no inference on a stream).
BINARY_FILE_SCHEMA = StructType([
    StructField("path", StringType(), False),
    StructField("modificationTime", TimestampType(), False),
    StructField("length", LongType(), False),
    StructField("content", BinaryType(), True),
])


def read_warc_stream(spark: SparkSession, input_dir: str,
                     glob: str = "*.warc.gz",
                     max_files_per_trigger: int = 4) -> DataFrame:
    """Unbounded ``pages`` table from a WARC landing directory.

    maxFilesPerTrigger bounds micro-batch size: CC-MAIN files are ~1 GB
    gzipped, so N files/trigger × 1 file/task keeps executor memory flat
    regardless of how many files pile up between triggers."""
    files = (spark.readStream.format("binaryFile")
             .option("pathGlobFilter", glob)
             .option("maxFilesPerTrigger", max_files_per_trigger)
             .schema(BINARY_FILE_SCHEMA)
             .load(input_dir)
             .select(F.lit(0).cast("int").alias("file_id"),
                     F.lit(0).cast("int").alias("n_records"),
                     F.col("content").alias("data")))
    return pages_from_warc(files)


def run_warc_extract_stream(spark: SparkSession, input_dir: str,
                            out_dir: str, checkpoint_dir: str,
                            chunk_token_num: int = 128,
                            once: bool = True):
    """WARC landing zone → extraction → exactly-once parquet sink.
    availableNow drains what's there and stops (tests / scheduled drains);
    once=False leaves it running against a live crawl."""
    ext = extract_pages(read_warc_stream(spark, input_dir),
                        chunk_token_num).drop("chunks")
    writer = (ext.writeStream
              .format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_warc_to_wet_stream(spark: SparkSession, input_dir: str,
                           wet_dir: str, checkpoint_dir: str,
                           chunk_token_num: int = 128,
                           n_shards: int = 4,
                           once: bool = True):
    """WARC landing zone → extraction → WET shards, one shard set per
    micro-batch (``wet-b{batch:05d}-*.warc.wet.gz``).  Batch-scoped shard
    names keep the sink append-only across triggers; within a batch the
    write is idempotent (deterministic bytes + atomic rename), which is
    exactly the contract foreachBatch's at-least-once replay needs."""
    ext = extract_pages(read_warc_stream(spark, input_dir),
                        chunk_token_num).drop("chunks")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        write_wet_files(batch_df, wet_dir, n_files=n_shards,
                        prefix=f"wet-b{batch_id:05d}").collect()

    writer = (ext.writeStream
              .foreachBatch(sink)
              .option("checkpointLocation", checkpoint_dir))
    if once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_warc_to_cdx_stream(spark: SparkSession, input_dir: str,
                           cdx_dir: str, checkpoint_dir: str,
                           once: bool = True):
    """WARC landing zone → CDX capture index, one sorted parquet shard set
    per micro-batch — how a continuous crawl (CC-NEWS) keeps its index
    current without re-scanning old shards.  Each batch publishes its own
    ``b{batch:05d}`` subdirectory by rename (``publish_dir``), so
    foreachBatch's at-least-once replay is idempotent (a replayed batch
    keeps the identical complete shard set; a crashed attempt's partial
    one never shows).  The union of batch directories is the live index;
    a periodic compaction into ``cluster.idx`` order is a plain batch job
    over the same rows.

    ``filename`` carries the real landing-zone file name (the CDX field a
    consumer feeds to a range request); file identity inside the walk is
    crc32(path) — deterministic, so replays agree."""
    from ..pipeline.snapshot_cache import publish_dir
    from ..sources.cdx import cdx_entries_df, surt_expr

    files = (spark.readStream.format("binaryFile")
             .option("pathGlobFilter", "*.warc.gz")
             .option("maxFilesPerTrigger", 4)
             .schema(BINARY_FILE_SCHEMA)
             .load(input_dir)
             .select("path",
                     # crc32 is a 32-bit unsigned bigint — a bare
                     # .cast("int") overflows (CAST_OVERFLOW kills the
                     # task) for half of all paths; mask to 31 bits
                     F.crc32("path").bitwiseAND(F.lit(0x7FFFFFFF))
                      .cast("int").alias("file_id"),
                     F.lit(0).cast("int").alias("n_records"),
                     F.col("content").alias("data")))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        entries = cdx_entries_df(
            batch_df.select("file_id", "n_records", "data"))
        names = batch_df.select(
            "file_id",
            F.element_at(F.split("path", "/"), -1).alias("filename"))
        out = (entries.join(F.broadcast(names), "file_id")
               .withColumn("surt", surt_expr(F.col("url")))
               .sortWithinPartitions("surt"))
        # a replayed batch re-reads the same files: a complete shard
        # from the crashed attempt is already right and is kept
        with publish_dir(f"{cdx_dir}/b{batch_id:05d}") as tmp:
            out.write.parquet(tmp)

    writer = (files.writeStream
              .foreachBatch(sink)
              .option("checkpointLocation", checkpoint_dir))
    if once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
