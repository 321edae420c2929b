"""CDX(J) capture index over member-gzip WARC files.

A web-scale crawl archive is unusable without its capture index: Common
Crawl publishes, next to every WARC shard set, SURT-sorted ``cdx-*.gz``
files (one line per capture → ``filename, offset, length`` of the
single-record gzip member, plus url/timestamp/mime/status/digest) and a
``cluster.idx`` over them.  The reference repo ingests documents
one-by-one through a task queue (``rag/svr/task_executor.py``) and never
needs one; at 10^12 pages the index IS the random-access path, so this
module builds it distributively and proves seekability.

Scale design
  * The index build is ONE streaming pass per WARC file inside the same
    ``mapInPandas`` shape as ``warc_records_df`` — offsets fall out of the
    gzip member framing that parsing walks anyway, no second scan.
  * SURT is a pure JVM column expression over ``url`` (regexp_extract +
    reverse/array_join — no Python in the hot path), applied AFTER the
    Python parse so it rides whole-stage codegen.
  * The global SURT sort is presentation-only here (driver compare); at
    production scale the index is written ``repartitionByRange(surt)``
    + ``sortWithinPartitions`` so each output shard is a sorted cdx file
    and the shard boundaries form ``cluster.idx``.

SURT (Sort-friendly URI Reordering Transform), pywb/CC canonicalization:
lowercase; strip scheme and userinfo; drop a default :80/:443 port; fold a
leading ``www.``; reverse host labels joined by commas; then ``)`` + path,
with query parameters sorted behind ``?``.
``https://www.Example.COM:443/a/b?z=1&a=2`` → ``com,example)/a/b?a=2&z=1``.

Digest is the Common Crawl convention: base-32 SHA-1 of the HTTP payload
bytes (computed during the parse walk while the payload is in memory).
"""

from __future__ import annotations

import base64
import hashlib

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, LongType, StringType,
                               StructField, StructType)

from .warc import _EPOCH, _iter_members, iter_warc_records

CDX_SCHEMA = StructType([
    StructField("file_id", IntegerType(), False),
    StructField("rec_seq", IntegerType(), False),
    StructField("url", StringType(), True),
    StructField("ts_micros", LongType(), True),
    StructField("http_status", IntegerType(), True),
    StructField("content_type", StringType(), True),
    StructField("payload_len", LongType(), True),
    StructField("offset", LongType(), False),
    StructField("length", LongType(), False),
    StructField("digest", StringType(), True),
])


def sha1_b32(payload: bytes) -> str:
    return base64.b32encode(hashlib.sha1(payload).digest()).decode("ascii")


def cdx_entries_df(files: DataFrame) -> DataFrame:
    """One CDX entry per response capture: WARC framing fields plus the
    (offset, length) of the capture's own gzip member and the payload
    SHA-1.  Non-response members (warcinfo) are walked but not indexed,
    exactly as Common Crawl's cdx files skip them."""
    def parse(batches):
        for pdf in batches:
            out = []
            for fid, data in zip(pdf["file_id"], pdf["data"]):
                data = bytes(data)
                seq = 0
                for member, merr, off, clen in _iter_members(data):
                    if merr is not None:
                        break
                    # CC convention: one record per member — parse just it
                    for r in iter_warc_records(member):
                        if r["type"] != "response":
                            continue
                        tsm = (None if r["ts"] is None else
                               (r["ts"] - _EPOCH)
                               // pd.Timedelta(microseconds=1))
                        pl = r["payload"]
                        out.append((int(fid), seq, r["url"], tsm,
                                    r["http_status"], r["content_type"],
                                    None if pl is None else len(pl),
                                    off, clen,
                                    None if pl is None else sha1_b32(pl)))
                        seq += 1
            yield pd.DataFrame(out, columns=[f.name for f in
                                             CDX_SCHEMA.fields])

    return files.mapInPandas(parse, CDX_SCHEMA)


def surt_expr(url: Column) -> Column:
    """SURT key as a single JVM column expression (no UDF).

    Default-port drop is scheme-aware (http:80 / https:443 only — an
    explicit :443 on an http url names a DIFFERENT origin and must keep
    its port), and the query extraction anchors before any ``#`` so a
    ``?`` inside the fragment cannot leak fragment content into the key."""
    u = F.lower(url)
    scheme = F.regexp_extract(u, r"^([a-z][a-z0-9+.\-]*)://", 1)
    # authority = after scheme://, after userinfo@, up to /?#
    auth = F.regexp_extract(u, r"^[a-z][a-z0-9+.\-]*://(?:[^/?#@]*@)?([^/?#]*)", 1)
    host = F.regexp_replace(auth, r":\d+$", "")
    port = F.regexp_extract(auth, r":(\d+)$", 1)
    host = F.regexp_replace(host, r"^www\.", "")
    revhost = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    keep_port = (port != "") & ~((scheme == "http") & (port == "80")) \
        & ~((scheme == "https") & (port == "443"))
    hostkey = F.when(keep_port, F.concat(revhost, F.lit(":"), port)) \
               .otherwise(revhost)
    path = F.regexp_extract(u, r"^[a-z][a-z0-9+.\-]*://[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(u, r"^[^#]*\?([^#]*)", 1)
    qsorted = F.array_join(F.array_sort(F.split(query, "&")), "&")
    return F.concat(hostkey, F.lit(")"), path,
                    F.when(query == "", F.lit(""))
                     .otherwise(F.concat(F.lit("?"), qsorted)))


import re as _re

_SCHEME_RX = _re.compile(r"^([a-z][a-z0-9+.\-]*)://")
_AUTH_RX = _re.compile(r"^[a-z][a-z0-9+.\-]*://(?:[^/?#@]*@)?([^/?#]*)")
_PATH_RX = _re.compile(r"^[a-z][a-z0-9+.\-]*://[^/?#]*([^?#]*)")
_QUERY_RX = _re.compile(r"^[^#]*\?([^#]*)")


def surt(url: str) -> str:
    """Pure-Python twin of ``surt_expr`` — the differential-fuzz reference
    (tests/test_warc.py): both implementations must agree on every url the
    generator grammar can produce."""
    u = url.lower()
    m = _SCHEME_RX.match(u)
    scheme = m.group(1) if m else ""
    m = _AUTH_RX.match(u)
    auth = m.group(1) if m else ""
    pm = _re.search(r":(\d+)$", auth)
    port = pm.group(1) if pm else ""
    host = _re.sub(r":\d+$", "", auth)
    host = _re.sub(r"^www\.", "", host)
    revhost = ",".join(reversed(host.split(".")))
    if port and (scheme, port) not in (("http", "80"), ("https", "443")):
        revhost += ":" + port
    m = _PATH_RX.match(u)
    path = (m.group(1) if m else "") or "/"
    m = _QUERY_RX.match(u)
    query = m.group(1) if m else ""
    if query:
        return revhost + ")" + path + "?" + "&".join(sorted(query.split("&")))
    return revhost + ")" + path


def read_capture(data: bytes, offset: int, length: int) -> dict:
    """Random access: decompress exactly one member at (offset, length) and
    return its single parsed record — the consumer side of the CDX contract
    (an HTTP range request against the WARC shard at archive scale)."""
    recs = [r for r in iter_warc_records(data[offset:offset + length])]
    if len(recs) != 1:
        raise ValueError(f"expected 1 record in member, got {len(recs)}")
    return recs[0]


def compact_cdx(spark, in_glob: str, out_dir: str,
                n_shards: int = 4):
    """Compact accumulated per-batch CDX shards into the published layout:
    globally range-partitioned by SURT, sorted within each shard, plus a
    ``cluster.idx`` relation (first/last SURT and row count per shard
    file) — the two-level index Common Crawl consumers binary-search.

    Scale shape: ONE range shuffle (sampling-based boundaries — the only
    global coordination a sorted publish needs) and one pass back over
    the written files' footers for the cluster index; no driver-side
    collection of index rows."""
    from pyspark.sql import functions as F

    from ..pipeline.snapshot_cache import publish_dir
    df = spark.read.parquet(in_glob)
    with publish_dir(out_dir, replace=True) as tmp:
        (df.repartitionByRange(n_shards, "surt", "ts_micros", "url")
           .sortWithinPartitions("surt", "ts_micros", "url")
           .write.parquet(tmp))
    shards = (spark.read.parquet(out_dir)
              .withColumn("shard", F.element_at(
                  F.split(F.input_file_name(), "/"), -1)))
    idx = (shards.groupBy("shard")
           .agg(F.min("surt").alias("first_surt"),
                F.max("surt").alias("last_surt"),
                F.count(F.lit(1)).alias("n_captures"))
           .orderBy("first_surt"))
    with publish_dir(f"{out_dir}.cluster_idx", replace=True) as tmp:
        idx.coalesce(1).write.parquet(tmp)
    return idx
