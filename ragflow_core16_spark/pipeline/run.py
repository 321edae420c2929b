"""End-to-end extraction job: pages → extracted + chunks + metrics + lineage.

Replaces the reference's Redis-queue / progress / ack machinery
(``rag/svr/task_executor.py:141-210,619-649``) with Spark scheduling plus
transactional-append output tables (SURVEY.md §3.1 Spark equivalent):

  * ``extracted/``  one row per page (EXTRACTED_SCHEMA, incl. chunks array)
  * ``chunks/``     exploded flat chunk table
  * ``metrics/``    per-(run, spark-partition) rollup: rows, ok/err/oversize,
                    bytes in, chunks out  — the analogue of the reference's
                    progress messages + per-doc counts
  * ``lineage/``    per-run manifest of committed urls (url + url_hash) used
                    for checkpoint-resume via LEFT ANTI join

Resume semantics: a rerun with ``resume=True`` anti-joins the input against
committed lineage, so only not-yet-extracted pages are processed — the
parquet-level emulation of the Iceberg snapshot + MERGE pattern (Iceberg jars
are not shipped in this sandbox; the table layout, commit-last ordering, and
anti-join resume logic are identical in shape).

Write ordering makes the commit atomic-enough without a table format:
extracted/chunks/metrics land first; lineage — the resume marker — lands
LAST.  A crash mid-job leaves at most orphan data rows that a resumed run
re-writes deterministically (same input → same bytes, same chunk ids).
"""

from __future__ import annotations

import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_pages, chunks_table
from .partitioning import repartition_by_size


def run_extraction(spark: SparkSession, pages: DataFrame, out_dir: str,
                   run_id: str | None = None, resume: bool = True,
                   chunk_token_num: int = 128,
                   delimiter: str = "\n!?。；！？",
                   target_partition_bytes: int = 64 * 1024 * 1024) -> dict:
    """Run (or resume) the extraction pipeline; returns run summary."""
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.time()

    lineage_path = f"{out_dir}/lineage"
    if resume:
        try:
            done = spark.read.parquet(lineage_path).select("url")
            # LEFT ANTI on the committed manifest = resume from checkpoint.
            # At 10^12 rows both sides are hash-partitioned on url by the
            # shuffle; with Iceberg this would be a MERGE-on-read predicate.
            pages = pages.join(done, "url", "left_anti")
        except AnalysisException as e:
            # first run: no lineage/ yet, or only a crashed first write's
            # debris (no data file).  A lineage that exists but cannot be
            # read must not turn into a silent full re-extract.
            if e.getCondition() not in ("PATH_NOT_FOUND",
                                        "UNABLE_TO_INFER_SCHEMA"):
                raise

    pages = repartition_by_size(pages, target_partition_bytes)

    extracted = (extract_pages(pages, chunk_token_num, delimiter)
                 .withColumn("run_id", F.lit(run_id))
                 .withColumn("part_id", F.spark_partition_id()))

    # Single pass: persist extracted, derive chunks + metrics from it.
    extracted.write.mode("append").parquet(f"{out_dir}/extracted")
    extracted = spark.read.parquet(f"{out_dir}/extracted") \
        .filter(F.col("run_id") == run_id)

    chunks = chunks_table(extracted)
    chunks.write.mode("append").parquet(f"{out_dir}/chunks")

    metrics = (extracted.groupBy("run_id", "part_id")
               .agg(F.count(F.lit(1)).alias("n_rows"),
                    F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("n_ok"),
                    F.sum(F.when(F.col("status") == "error", 1).otherwise(0)).alias("n_error"),
                    F.sum(F.when(F.col("status") == "oversize", 1).otherwise(0)).alias("n_oversize"),
                    F.sum("bytes_in").alias("bytes_in"),
                    F.sum("n_chunks").alias("chunks_out"),
                    F.sum("n_tokens").alias("tokens_out"))
               .withColumn("committed_at", F.current_timestamp()))
    metrics.write.mode("append").parquet(f"{out_dir}/metrics")

    # lineage LAST — the resume marker commits only after data is down
    (extracted.select("url", F.xxhash64("url").alias("url_hash"),
                      "run_id", "part_id")
     .write.mode("append").parquet(lineage_path))

    wall = time.time() - t0
    summary_row = (extracted.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("ok"),
        F.sum(F.when(F.col("status") == "error", 1).otherwise(0)).alias("error"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("n_chunks").alias("chunks")).collect()[0])
    return {"run_id": run_id, "wall_sec": wall,
            "rows": summary_row["rows"], "ok": summary_row["ok"],
            "error": summary_row["error"],
            "bytes_in": summary_row["bytes_in"],
            "chunks": summary_row["chunks"]}


def run_extraction_snapshotted(spark: SparkSession, pages: DataFrame,
                               table_dir: str, run_id: str | None = None,
                               resume: bool = True,
                               chunk_token_num: int = 128,
                               delimiter: str = "\n!?。；！？",
                               target_partition_bytes: int = 64 * 1024 * 1024
                               ) -> dict:
    """The same pipeline on transactional footing: ONE snapshot table
    holds the extracted rows (chunks ride as the array column and the
    flat chunk view is derived on read), and the atomic manifest commit
    IS the resume marker — there is no separate lineage table to order
    after the data, because data that isn't committed is invisible to the
    resume anti-join by construction.  A crash mid-run leaves the table
    at its previous snapshot plus vacuumable orphan files; a rerun
    re-extracts exactly the uncommitted pages (deterministic bytes, same
    chunk ids).  Time travel (``SnapshotTable.as_of``) addresses every
    prior corpus state for reproducing a training-data cut."""
    from .snapshots import SnapshotTable
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.time()
    table = SnapshotTable(spark, table_dir)
    if resume and table.current_version() > 0:
        pages = pages.join(table.read().select("url"), "url", "left_anti")
    pages = repartition_by_size(pages, target_partition_bytes)
    extracted = (extract_pages(pages, chunk_token_num, delimiter)
                 .withColumn("run_id", F.lit(run_id))
                 .withColumn("part_id", F.spark_partition_id()))
    version = table.commit_append(extracted)
    committed = table.read(version).filter(F.col("run_id") == run_id)
    row = committed.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("ok"),
        F.sum(F.when(F.col("status") == "error", 1).otherwise(0))
        .alias("error"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("n_chunks").alias("chunks")).collect()[0]
    return {"run_id": run_id, "version": version,
            "wall_sec": time.time() - t0, "rows": row["rows"],
            "ok": row["ok"], "error": row["error"],
            "bytes_in": row["bytes_in"], "chunks": row["chunks"]}
