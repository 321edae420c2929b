"""Size-targeted repartitioning for the extraction stage.

North-rule requirement: "explicit partition / shuffle / skew handling …
size-targeted repartitioning by (url-hash, warc_ts), salting of skewed
hosts".  The extraction stage is embarrassingly parallel per row, so the
skew that matters is *byte-size* skew (a few giant pages / hot hosts
serializing into one task), not key skew in a join (SURVEY.md §4.2).
Host-level aggregations salt hot keys where they group
(``domain_cap``'s two-stage top-K, ``salted_source_agg``).

Strategy:
  * ``repartition_by_size``: one cheap JVM-side pre-pass
    ``agg(count, sum(length(html)))`` — column-pruned to the html length,
    no Python — then ``repartition(n, xxhash64(url), warc_ts)`` with
    ``n = clamp(total_bytes / target_partition_bytes)``.  Hashing on
    (url, warc_ts) spreads any single hot host across partitions because
    url already contains the per-doc path; adding warc_ts guards against
    url-duplicate hot keys (recrawls of one url land in different
    partitions).
  * At 100 TB with 128 MB targets this yields ~800k partitions — beyond
    the default scheduler comfort zone, so the clamp caps at ``max_partitions``
    and AQE coalescing handles the low end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def repartition_by_size(pages: DataFrame,
                        target_partition_bytes: int = 64 * 1024 * 1024,
                        min_partitions: int = 1,
                        max_partitions: int = 1 << 20) -> DataFrame:
    """Repartition so each partition carries ≈target bytes of html payload."""
    stats = pages.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.length("html")), F.lit(0)).alias("total_bytes"),
    ).collect()[0]
    if stats["n"] == 0:
        return pages
    n_parts = int(max(min_partitions,
                      min(max_partitions,
                          (stats["total_bytes"] + target_partition_bytes - 1)
                          // target_partition_bytes)))
    # default parallelism floor so small inputs still use the whole cluster
    sc_default = pages.sparkSession.sparkContext.defaultParallelism
    n_parts = max(n_parts, min(sc_default, int(stats["n"]) or 1))
    return pages.repartition(n_parts, F.xxhash64("url"), F.col("warc_ts"))
