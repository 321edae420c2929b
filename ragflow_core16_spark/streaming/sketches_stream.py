"""Streaming cardinality sketch: windowed HyperLogLog over an unbounded
event stream.

The batch sketch (``operators/sketches.py``) documents that register maxes
merge losslessly; this module is that claim made executable.  Topology:

  readStream (events parquet drops)
    → watermark on event time
    → groupBy(window, group, register) max(rho)     [the mergeable state]
    → sink (update/append)                          [register table]
  … and a FINALIZE pass over the sink re-merges registers (max of maxes)
  and applies the integer estimate — identical arithmetic to batch, so a
  stream ingested in any micro-batch partitioning produces byte-identical
  estimates to one batch pass over the same rows (asserted in
  ``tests/test_streaming.py::TestHllStream``).

Why this shape at 100 TB: the state store carries ≤ 64 registers per
(window, group) — constant per group, independent of ingest rate — where
a streaming ``approx_count_distinct`` per window would be opaque and a
``dropDuplicates`` dedup-count would hold every distinct key in state.
Restart/replay safety is the same property as mergeability: re-ingesting
a file can only re-max the same registers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import hll_estimate_from_registers, hll_registers


def finalize_register_sink(spark: SparkSession, sink_dir: str) -> DataFrame:
    """Estimate per (window, event_type) from a register sink.

    The sink may hold several partial rows per register (one per update
    emission / per restart); the finalizer's re-merge max makes that
    harmless — which is the whole reason the state is mergeable."""
    regs = spark.read.parquet(sink_dir)
    out = hll_estimate_from_registers(regs, ["w", "event_type"])
    return (out.select(F.col("w.start").alias("window_start"),
                       "event_type", "n_registers", "hll_estimate")
            .orderBy("window_start", "event_type"))


EVENTS_SCHEMA = ("event_id bigint, ts timestamp, user_id bigint, "
                 "event_type string, value double, props string")


def run_hll_stream(spark: SparkSession, input_dir: str, sink_dir: str,
                   checkpoint_dir: str, window: str = "1 hour",
                   max_files_per_trigger: int = 2) -> None:
    """Drain the input directory into a parquet register sink and block
    until done.

    Pattern: ``foreachBatch`` computes each micro-batch's register
    PARTIALS (one tiny groupBy over the batch) and appends them — no
    state store at all.  Mergeability does the cross-batch work at
    finalize time, the same way per-executor partials merge inside one
    batch job.  Exactly-once: the checkpoint's batch id gates the append
    (Spark's foreachBatch replay contract), and even a replayed append
    is harmless because re-maxing the same registers is idempotent —
    the sketch analogue of the lineage-last commit rule in
    ``pipeline/run.py``."""
    stream = (spark.readStream
              .schema(EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(input_dir))

    def emit(batch_df: DataFrame, _batch_id: int) -> None:
        windowed = batch_df.withColumn("w", F.window("ts", window))
        (hll_registers(windowed, "user_id", ["w", "event_type"])
         .write.mode("append").parquet(sink_dir))

    (stream.writeStream
     .foreachBatch(emit)
     .option("checkpointLocation", checkpoint_dir)
     .trigger(availableNow=True)
     .start()
     .awaitTermination())


# ---------------------------------------------------------- streaming Bloom
#
# Same contract as the HLL registers, for MEMBERSHIP: each micro-batch
# appends its bloom word PARTIALS; bit_or at finalize merges them
# losslessly, and a replayed append is idempotent (re-OR-ing the same
# bits).  At 10^12 urls this is the incremental-crawl "seen" index built
# as crawl drops land, with no state store and no full-corpus rebuild.

DOCS_SCHEMA = ("doc_id bigint, text string, lang string, source string, "
               "n_chars bigint")


def run_bloom_stream(spark: SparkSession, input_dir: str, sink_dir: str,
                     checkpoint_dir: str,
                     max_files_per_trigger: int = 2) -> None:
    """Drain document drops into a parquet bloom-word sink (append-only
    partials; exactly-once by the foreachBatch replay contract plus
    bit_or idempotence)."""
    from ..operators.sketches import _bloom_url, bloom_build

    stream = (spark.readStream
              .schema(DOCS_SCHEMA)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(input_dir))

    def emit(batch_df: DataFrame, _batch_id: int) -> None:
        urls = batch_df.select(_bloom_url("doc_id").alias("url"))
        bloom_build(urls).write.mode("append").parquet(sink_dir)

    (stream.writeStream
     .foreachBatch(emit)
     .option("checkpointLocation", checkpoint_dir)
     .trigger(availableNow=True)
     .start()
     .awaitTermination())


def finalize_bloom_sink(spark: SparkSession, sink_dir: str) -> DataFrame:
    """(word, bits) after re-merging all appended partials with bit_or —
    byte-identical to one batch ``bloom_build`` over the union of drops."""
    return (spark.read.parquet(sink_dir)
            .groupBy("word").agg(F.expr("bit_or(bits)").alias("bits")))
