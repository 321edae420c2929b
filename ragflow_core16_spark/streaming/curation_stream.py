"""Structured Streaming twin of the day-2 index maintenance: a documents
landing zone drives the curation/dedup/retrieval snapshot tables through
the SAME delta merges as ``jobs/curate_job.py --incremental``.

Each micro-batch of parquet files dropped into the landing directory
plays the role of a daily batch.  The sink (``foreachBatch``) keeps a
chain of corpus VERSIONS under a state directory: a version's
``documents.parquet`` HARD-LINKS the previous version's part files plus
the batch's (snapshot composition without copying a byte), and its
snapshot tables come from ``pipeline.incremental.incremental_update`` —
so the streamed state is byte-comparable to a batch build over the same
corpus, which the replay test asserts.

Crash and replay:
  * The stream checkpoint holds file discovery: a landing file joins
    exactly one micro-batch, and a batch whose sink did not finish is
    replayed with the same files.
  * A version is COMPLETE exactly when all nine delta tables
    (``pipeline.incremental.DELTA_KINDS``) carry ``_SUCCESS`` under its
    corpus fingerprint; there is no marker or pointer file.
    ``latest_version`` serves the complete version with the highest
    batch id, so after a crash the previous complete version serves
    until the replay completes the new one.
  * Applying a batch is idempotent per batch_id: a complete version is
    skipped, the batch's document copy is published once (a rewrite
    would change mtimes and orphan the fingerprint-keyed tables), and
    ``materialize`` never rebuilds a complete table — a replay builds
    only the missing tables and reaches the same end state.
  * A micro-batch that RE-DELIVERS ids already in the corpus (a re-crawl
    feed) is an upsert day: the surviving previous rows are rewritten
    once into a compacted corpus (hard links cannot drop rows), published
    by rename, and the delta runs with ``allow_recrawl=True``.  A replay
    of such a batch redoes the compaction, which changes the version
    fingerprint, so it rebuilds every table under the new fingerprint and
    leaves the crashed attempt's tables unreferenced.

A query session reads the serving version's directory like any sf_dir.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

#: the documents-table schema (streaming file sources require it stated)
DOCUMENTS_SCHEMA = StructType([
    StructField("doc_id", LongType(), True),
    StructField("text", StringType(), True),
    StructField("lang", StringType(), True),
    StructField("source", StringType(), True),
    StructField("n_chars", LongType(), True),
])


def _link_tree(src_docs: str, dst_docs: str) -> None:
    """Hard-link every data file of ``src_docs`` into ``dst_docs`` —
    snapshot composition without copying bytes.  Links share mtime with
    the source file, so the composed corpus fingerprint is stable across
    replays.  Existing links are left alone (idempotent)."""
    os.makedirs(dst_docs, exist_ok=True)
    for name in os.listdir(src_docs):
        if name.startswith(("_", ".")):
            continue
        dst = os.path.join(dst_docs, name)
        if not os.path.exists(dst):
            os.link(os.path.join(src_docs, name), dst)


def _full_build(spark: SparkSession, sf_dir: str) -> None:
    from ..operators.dedup import materialize_dedup_index
    from ..operators.retrieval import materialize_retrieval_index
    from ..operators.training import materialize_decon_index
    from ..operators.webclean import materialize_web_decisions
    materialize_dedup_index(spark, sf_dir)
    materialize_web_decisions(spark, sf_dir)
    materialize_decon_index(spark, sf_dir)
    materialize_retrieval_index(spark, sf_dir)


def _apply_batch(spark: SparkSession, batch_df: DataFrame, batch_id: int,
                 state_dir: str) -> None:
    from ..pipeline.incremental import incremental_update
    from ..pipeline.snapshot_cache import publish_dir, read_table
    vdir = os.path.join(state_dir, "versions", f"v{batch_id:05d}")
    if _version_complete(vdir) or batch_df.isEmpty():
        return  # replayed batch already fully applied, or nothing new
    # 1. the batch's own document copy (write once; a replay reuses it)
    bdir = os.path.join(state_dir, "batches", f"b{batch_id:05d}")
    bdocs = os.path.join(bdir, "documents.parquet")
    if not os.path.exists(os.path.join(bdocs, "_SUCCESS")):
        with publish_dir(bdocs) as tmp:
            batch_df.write.parquet(tmp)
    # 2. compose the new corpus version from the previous one + the batch
    prev = latest_version(state_dir, before=batch_id)
    vdocs = os.path.join(vdir, "documents.parquet")
    if prev is None:
        _link_tree(bdocs, vdocs)
        _full_build(spark, vdir)
        return
    # a crawl feed may RE-DELIVER ids it crawled before; detect via the
    # previous version's per-doc stats (no document scan)
    prev_ids = read_table(spark, "doc_stats", prev).select("doc_id")
    recrawl = not (spark.read.parquet(bdocs).select("doc_id")
                   .join(prev_ids, "doc_id").isEmpty())
    if recrawl:
        # upsert day: the new version's corpus must be COMPACTED (old
        # rows of re-delivered ids dropped), which a hard-link
        # composition cannot express — rewrite the surviving prev rows
        # once, link the batch files in, and swap the result into place.
        # A lakehouse format takes delete vectors instead; this is the
        # plain-parquet equivalent, paid only on re-delivery days.
        surv = (spark.read.parquet(os.path.join(prev, "documents.parquet"))
                .join(spark.read.parquet(bdocs).select("doc_id"),
                      "doc_id", "anti"))
        with publish_dir(vdocs, replace=True) as tmp:
            surv.write.parquet(tmp)
            _link_tree(bdocs, tmp)
    else:
        _link_tree(bdocs, vdocs)
        _link_tree(os.path.join(prev, "documents.parquet"), vdocs)
    incremental_update(spark, prev, bdir, vdir, allow_recrawl=recrawl)


def _version_complete(vdir: str) -> bool:
    from ..pipeline.incremental import DELTA_KINDS
    from ..pipeline.snapshot_cache import cache_root, corpus_fingerprint
    fp = corpus_fingerprint(vdir)  # one walk of the version's part files
    return all(os.path.exists(os.path.join(cache_root(), k, fp, "_SUCCESS"))
               for k in DELTA_KINDS)


def latest_version(state_dir: str, before: int | None = None) -> str | None:
    """The serving corpus-version dir (usable as an sf_dir): the complete
    version with the highest batch id (below ``before`` if given), or
    None.  Entries whose name is not ``v<batch id>`` are ignored."""
    vroot = os.path.join(state_dir, "versions")
    names = os.listdir(vroot) if os.path.isdir(vroot) else []
    versions = sorted(((int(n[1:]), n) for n in names
                       if n[:1] == "v" and n[1:].isdecimal()), reverse=True)
    for b, name in versions:
        vdir = os.path.join(vroot, name)
        if (before is None or b < before) and _version_complete(vdir):
            return vdir
    return None


def run_curation_index_stream(spark: SparkSession, input_dir: str,
                              state_dir: str, checkpoint_dir: str,
                              once: bool = True,
                              max_files_per_trigger: int = 8):
    """Documents landing zone → versioned snapshot-table chain.  With
    ``once`` (availableNow) this drains the zone and stops — the cron
    shape; a live deployment runs it continuously."""
    docs = (spark.readStream
            .schema(DOCUMENTS_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _apply_batch(spark, batch_df, batch_id, state_dir)

    writer = (docs.writeStream
              .foreachBatch(sink)
              .option("checkpointLocation", checkpoint_dir))
    if once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
