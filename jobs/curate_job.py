#!/usr/bin/env python
"""spark-submit entrypoint for the training-data curation pipeline.

Runs the composed corpus materialization (`operators/webclean`:
Gopher repetition gate ∧ C4 line survival ∧ dedup-cluster survivorship ∧
benchmark decontamination ∧ robots/blocklist/meta-robots crawl gates,
eval split excluded) over a documents table and materializes the
full per-document decision table (every component column plus the
composed corpus_keep/web_keep verdicts), the kept corpus, and the
snapshot-fingerprinted cache table that turns later ``web_keep`` /
``corpus_keep`` queries into pure scans:

    zip -r ragflow_core16_spark.zip ragflow_core16_spark
    spark-submit --py-files ragflow_core16_spark.zip \
        jobs/curate_job.py \
        --input  <dir containing documents.parquet> \
        --output <warehouse dir for keep/ corpus/> \
        [--no-corpus] [--run-id r42]

Master/executor topology comes from spark-submit, like the extraction
job; the same invocation runs at N and 4N executors.  The write order is
transactional in the same sense as the extraction pipeline: the kept
corpus lands first and the decision table (the thing downstream reads to
trust a run) lands LAST.  Each output is built in a temp sibling and
renamed into place (``pipeline/snapshot_cache.publish_dir``), so a
crashed run leaves the previous run's tables whole and a rerun replaces
them.

Prints ONE JSON line: rows, kept, kept_pct, wall_sec.
"""

from __future__ import annotations

import argparse
import json
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="documents → keep decisions + kept corpus")
    ap.add_argument("--input", required=True,
                    help="dir containing documents.parquet")
    ap.add_argument("--output", required=True,
                    help="output warehouse dir (keep/ corpus/)")
    ap.add_argument("--no-corpus", action="store_true",
                    help="write only the decision table, skip the kept-doc copy")
    ap.add_argument("--incremental", action="store_true",
                    help="day-2 delta maintenance: merge the batch into the "
                         "base snapshot's index tables instead of a full "
                         "rebuild (requires --base and --batch; --input is "
                         "the COMBINED corpus dir whose documents.parquet "
                         "holds base + batch part files)")
    ap.add_argument("--base", default=None,
                    help="(incremental) day-1 corpus dir with complete "
                         "curate/index tables")
    ap.add_argument("--batch", default=None,
                    help="(incremental) dir containing only the new batch's "
                         "documents.parquet")
    ap.add_argument("--allow-recrawl", action="store_true",
                    help="(incremental) treat batch doc_ids that already "
                         "exist in the base as re-crawls: retire their "
                         "stale index rows and merge the new versions "
                         "(--input must hold the compacted corpus)")
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args(argv)
    if args.incremental and not (args.base and args.batch):
        ap.error("--incremental requires --base and --batch")

    from pyspark.sql import SparkSession, functions as F
    spark = (SparkSession.builder.appName("ragflow_core16_spark.curate")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())

    from ragflow_core16_spark.pipeline.snapshot_cache import (
        materialize, publish_dir)

    t0 = time.time()
    inp = args.input.rstrip("/")
    if args.incremental:
        # day-2 path: merge the batch into the base snapshot's dedup
        # index / decision table / retrieval postings without rescanning
        # day-1 documents (pipeline/incremental.py); the merged tables
        # land under the combined corpus fingerprint, so every routed
        # query over --input serves them immediately
        from ragflow_core16_spark.pipeline.incremental import (
            incremental_update)
        paths = incremental_update(spark, args.base.rstrip("/"),
                                   args.batch.rstrip("/"), inp,
                                   allow_recrawl=args.allow_recrawl)
        extra = {"mode": "incremental", "tables": sorted(paths)}
    else:
        from ragflow_core16_spark.operators.dedup import (
            materialize_dedup_index)
        from ragflow_core16_spark.operators.training import (
            materialize_decon_index)
        from ragflow_core16_spark.operators.webclean import (
            materialize_site_boilerplate, web_decisions_unordered)
        # dedup index first (signatures / verified pairs / cluster labels
        # / simhash fingerprints): the decision table's dedup_kept column
        # then scans the just-written labels, and later pair/cluster
        # queries are scans too — at 100 TB the signature+CC jobs run
        # once per snapshot, never per query
        materialize_dedup_index(spark, inp)
        # the site-frequency boilerplate lexicon is a curation-side
        # corpus statistic (fit once, strip against the frozen table)
        materialize_site_boilerplate(spark, inp)
        # the decontamination index (bench gram set + train-gram
        # posting): the state a later --incremental run needs to
        # re-check day-1 docs against a grown benchmark set without
        # re-gramming day-1 text
        materialize_decon_index(spark, inp)
        # the decision table carries EVERY per-component column
        # (gopher_pass, c4_pass, dedup_kept, clean, corpus_keep, allowed,
        # blocked, indexable, web_keep), so downstream web_keep /
        # corpus_keep queries are pure scans of it
        paths = {"web_decisions": materialize(
            spark, "web_decisions", inp,
            lambda: web_decisions_unordered(spark, inp))}
        extra = {}
    # the snapshot table is published first; the run's own outputs are
    # read from it, kept corpus then decision table LAST (its presence
    # certifies a complete run), each swapped in whole
    dec = spark.read.parquet(paths["web_decisions"])
    if not args.no_corpus:
        docs = spark.read.parquet(f"{inp}/documents.parquet")
        kept = docs.join(dec.filter(F.col("corpus_keep"))
                         .select("doc_id"), "doc_id")
        with publish_dir(f"{args.output}/corpus", replace=True) as tmp:
            kept.write.parquet(tmp)
    with publish_dir(f"{args.output}/keep", replace=True) as tmp:
        dec.write.parquet(tmp)
    rows = dec.count()
    kept_n = dec.filter(F.col("corpus_keep")).count()
    print(json.dumps({
        "run_id": args.run_id, **extra,
        "rows": rows, "kept": kept_n,
        "kept_pct": round(100.0 * kept_n / rows, 2) if rows else 0.0,
        "wall_sec": round(time.time() - t0, 2)}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
