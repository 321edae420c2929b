"""Output hashes, computed identically in Python and in Spark SQL.

Each row hashes to the first 15 hex digits of an md5 over its
``\\x00``-joined fields, as a non-negative 60-bit integer; a table hash
is the bit-xor over its rows (order-insensitive, so partitioning and
task order cannot move it).  Row counts are checked beside every xor,
since a duplicated row would cancel out of it.

* text hash:  (url, extracted_text, status) — the repo's pinned form;
* chunk hash: (url, chunk_seq, chunk_id, chunk_text, content_ltks,
  content_sm_ltks, token_cnt), so a tokenizer, BPE-count or chunk-id
  change fails the check even when the text is unchanged.
"""

from __future__ import annotations

import hashlib


def _h(parts) -> int:
    return int(hashlib.md5("\x00".join(parts).encode("utf-8"))
               .hexdigest()[:15], 16)


def text_row_hash(url, text, status) -> int:
    return _h((url, text or "", status))


def chunk_row_hash(url, seq, cid, text, ltks, sm_ltks, tcnt) -> int:
    return _h((url, str(seq), cid, text, ltks or "", sm_ltks or "",
               str(tcnt)))


def _md5_60(*cols):
    from pyspark.sql import functions as F
    return F.conv(F.substring(F.md5(F.concat_ws("\x00", *cols)), 1, 15),
                  16, 10).cast("long")


def text_hash_col():
    from pyspark.sql import functions as F
    return _md5_60("url", F.coalesce("extracted_text", F.lit("")), "status")


def chunk_hash_col(prefix: str = ""):
    """Row hash over a flat chunk relation (``prefix='c.'`` for the
    exploded ``chunks`` array)."""
    from pyspark.sql import functions as F
    p = prefix
    return _md5_60("url", F.col(f"{p}chunk_seq").cast("string"),
                   F.col(f"{p}chunk_id"), F.col(f"{p}chunk_text"),
                   F.coalesce(F.col(f"{p}content_ltks"), F.lit("")),
                   F.coalesce(F.col(f"{p}content_sm_ltks"), F.lit("")),
                   F.col(f"{p}token_cnt").cast("string"))


def extracted_hashes(df) -> dict:
    """Text and chunk hashes (+ row counts) of an EXTRACTED_SCHEMA frame,
    chunks taken from its ``chunks`` array (ok rows, as ``chunks_table``)."""
    from pyspark.sql import functions as F
    t = df.select(text_hash_col().alias("h")).agg(
        F.expr("bit_xor(h)").alias("x"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    c = chunk_table_hash(df.filter(F.col("status") == "ok")
                         .select("url", F.explode("chunks").alias("c")),
                         prefix="c.")
    return {"text_hash": str(t["x"] or 0), "rows": int(t["n"]), **c}


def chunk_table_hash(df, prefix: str = "") -> dict:
    from pyspark.sql import functions as F
    r = df.select(chunk_hash_col(prefix).alias("h")).agg(
        F.expr("bit_xor(h)").alias("x"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    return {"chunk_hash": str(r["x"] or 0), "chunk_rows": int(r["n"])}


def per_url_hashes(df, urls) -> dict:
    """{url: (text_hash, sorted chunk hashes)} for the given urls, in the
    shape ``harness.run_harness`` returns its reference rows."""
    from pyspark.sql import functions as F
    sub = df.filter(F.col("url").isin(list(urls)))
    text = {r["url"]: int(r["h"]) for r in
            sub.select("url", text_hash_col().alias("h")).collect()}
    chunks: dict = {u: [] for u in text}
    for r in (sub.filter(F.col("status") == "ok")
              .select("url", F.explode("chunks").alias("c"))
              .select("url", chunk_hash_col("c.").alias("h")).collect()):
        chunks[r["url"]].append(int(r["h"]))
    return {u: (text[u], sorted(chunks[u])) for u in text}


def value_hash(df) -> dict:
    """Column-order-insensitive value hash of any table: xor of md5 over
    the JSON of each row's columns in name order."""
    from pyspark.sql import functions as F
    cols = sorted(df.columns)
    r = df.select(_md5_60(F.to_json(F.struct(*cols))).alias("h")).agg(
        F.expr("bit_xor(h)").alias("x"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    return {"hash": str(r["x"] or 0), "rows": int(r["n"])}
