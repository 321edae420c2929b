"""Single-process, no-Spark layer harness.

Runs the extraction path over a page sample by calling each layer's
public function in turn, exactly as ``operators.extract`` composes them
(codec sniff + decode → DOM parse + readability → textify → naive merge
with token counting → rag / fine-grained tokenize → batched chunk-id
hash → pandas frame), timing every call.  It yields two things:

* per-layer milliseconds per document (the split of the Python UDF);
* reference output rows, the independent oracle the Spark run's
  per-url text and chunk hashes are compared against.
"""

from __future__ import annotations

import time

import pandas as pd

from ragflow_core16_spark.chunkers.naive import naive_merge_with_counts
from ragflow_core16_spark.html.dom import parse_html
from ragflow_core16_spark.html.readability import Document
from ragflow_core16_spark.html.textify import extract_text_from_node
from ragflow_core16_spark.operators.extract import EXTRACTED_SCHEMA
from ragflow_core16_spark.textnorm.codec import find_codec
from ragflow_core16_spark.textnorm.rag_tokenizer import (fine_grained_tokenize,
                                                         tokenize)
from ragflow_core16_spark.textnorm.xxh64 import xxh64_hex_batch

from checks import chunk_row_hash, text_row_hash

CHUNK_TOKEN_NUM = 128           # extract_pages defaults
DELIMITER = "\n!?。；！？"
BATCH = 64                      # spark.sql.execution.arrow.maxRecordsPerBatch

LAYERS = ("textnorm.codec", "html.dom", "html.readability", "html.textify",
          "chunkers.naive", "textnorm.rag_tokenizer.tokenize",
          "textnorm.rag_tokenizer.fine", "textnorm.xxh64",
          "operators.extract.frame")
_COLUMNS = [f.name for f in EXTRACTED_SCHEMA]


class _Clock:
    """Accumulates per-layer seconds; records one span per call when a
    tracer is given."""

    def __init__(self, tracer, parent):
        self.total = dict.fromkeys(LAYERS, 0.0)
        self.tracer, self.parent = tracer, parent

    def __call__(self, layer, fn, *args):
        t0 = time.time()
        out = fn(*args)
        t1 = time.time()
        self.total[layer] += t1 - t0
        if self.tracer is not None:
            self.tracer.add(layer, t0, t1, parent=self.parent)
        return out


def _sections(clock, html: bytes):
    codec = clock("textnorm.codec", find_codec, html)
    txt = clock("textnorm.codec", html.decode, codec, "ignore")
    # the DOM parse is timed on its own; readability re-parses inside
    # summary_node (as production does), so its share is net of one parse
    clock("html.dom", parse_html, txt)
    doc = Document(txt)
    article = clock("html.readability", doc.summary_node)
    title = clock("html.readability", doc.title)
    content = clock("html.textify", extract_text_from_node, article)
    return codec, [s for s in f"{title}\n{content}".split("\n") if s]


def run_harness(pages, tracer=None, parent=None) -> dict:
    """``pages``: list of (url, warc_ts, html, lang).  Returns per-layer
    totals, counters and the reference rows ``{url: (text_hash,
    chunk_hashes)}``."""
    clock = _Clock(tracer, parent)
    rows_out: dict = {}
    n_chunks = n_calls = n_ids = 0
    seen: set = set()
    n_tok = n_repeat = 0
    t_start = time.time()
    for b in range(0, len(pages), BATCH):
        rows, pending = [], []
        for url, ts, html, lang in pages[b:b + BATCH]:
            base = dict(url=url, warc_ts=ts, lang=lang, error=None,
                        title=None, extracted_text=None, codec=None,
                        n_sections=0, n_chunks=0, n_tokens=0,
                        bytes_in=len(html or b""), chunks=[])
            if not html:
                rows.append({**base, "status": "empty"})
                continue
            try:
                codec, sections = _sections(clock, bytes(html))
                cks, counts = clock("chunkers.naive", naive_merge_with_counts,
                                    [(s, "") for s in sections],
                                    CHUNK_TOKEN_NUM, DELIMITER)
                chunks = []
                for i, (ck, tcnt) in enumerate(zip(cks, counts)):
                    ltks = clock("textnorm.rag_tokenizer.tokenize",
                                 tokenize, ck)
                    sm = clock("textnorm.rag_tokenizer.fine",
                               fine_grained_tokenize, ltks)
                    for tok in ltks.split():
                        n_tok += 1
                        if tok in seen:
                            n_repeat += 1
                        else:
                            seen.add(tok)
                    c = {"chunk_id": None, "chunk_seq": i, "chunk_text": ck,
                         "content_ltks": ltks, "content_sm_ltks": sm,
                         "token_cnt": tcnt}
                    chunks.append(c)
                    pending.append((c, (ck + url).encode("utf-8")))
                rows.append({**base, "status": "ok", "title": sections[0],
                             "codec": codec,
                             "extracted_text": "\n".join(sections),
                             "n_sections": len(sections),
                             "n_chunks": len(chunks),
                             "n_tokens": sum(counts), "chunks": chunks})
            except Exception as e:  # mirrors the operator's error rows
                rows.append({**base, "status": "error",
                             "error": f"{type(e).__name__}: {e}"})
        if pending:
            ids = clock("textnorm.xxh64", xxh64_hex_batch,
                        [p for _, p in pending])
            n_calls += 1
            n_ids += len(ids)
            for (c, _), hx in zip(pending, ids):
                c["chunk_id"] = hx
        clock("operators.extract.frame", pd.DataFrame, rows, None, _COLUMNS)
        for r in rows:
            n_chunks += len(r["chunks"] or ())
            rows_out[r["url"]] = (
                text_row_hash(r["url"], r["extracted_text"], r["status"]),
                sorted(chunk_row_hash(r["url"], c["chunk_seq"],
                                      c["chunk_id"], c["chunk_text"],
                                      c["content_ltks"],
                                      c["content_sm_ltks"], c["token_cnt"])
                       for c in r["chunks"] or ()))
    wall = time.time() - t_start
    n = len(pages)
    return {"docs": n, "wall_s": wall, "layer_s": clock.total,
            "chunks": n_chunks, "xxh64_calls": n_calls, "xxh64_ids": n_ids,
            "tokens": n_tok, "repeat_tokens": n_repeat, "rows": rows_out}


def layer_metrics(res: dict) -> dict:
    """Per-layer metrics (name → value) from one ``run_harness`` result.
    ``harness.ms_per_doc`` is the production-equivalent path: every layer
    except the stand-alone DOM parse, which readability repeats."""
    n = res["docs"]
    ms = {k: 1000.0 * v / n for k, v in res["layer_s"].items()}
    dom = ms["html.dom"]
    per_doc = sum(v for k, v in ms.items() if k != "html.dom")
    return {
        "html.dom.ms_per_doc": dom,
        "html.readability.ms_per_doc": ms["html.readability"] - dom,
        "html.textify.ms_per_doc": ms["html.textify"],
        "chunkers.naive.ms_per_doc": ms["chunkers.naive"],
        "chunkers.naive.chunks_per_doc": res["chunks"] / n,
        "textnorm.rag_tokenizer.tokenize_ms_per_doc":
            ms["textnorm.rag_tokenizer.tokenize"],
        "textnorm.rag_tokenizer.fine_ms_per_doc":
            ms["textnorm.rag_tokenizer.fine"],
        "textnorm.rag_tokenizer.repeat_token_share":
            res["repeat_tokens"] / max(1, res["tokens"]),
        "textnorm.codec.ms_per_doc": ms["textnorm.codec"],
        "textnorm.xxh64.ms_per_doc": ms["textnorm.xxh64"],
        "textnorm.xxh64.ids_per_call":
            res["xxh64_ids"] / max(1, res["xxh64_calls"]),
        "operators.extract.frame_ms_per_doc": ms["operators.extract.frame"],
        "harness.ms_per_doc": per_doc,
        "harness.docs_per_s": 1000.0 / per_doc if per_doc else 0.0,
    }
