"""Full-pipeline containment fuzz: arbitrary bytes through the extraction
operator must ALWAYS produce a schema-valid row and NEVER raise.

The reference's task executor wraps each document in a try/except so one
bad file cannot kill a run (rag/svr/task_executor.py:217-376); our
``_extract_one`` carries the same contract (operators/extract.py:117-118)
and at 10^12 documents it IS the crash surface — every byte sequence the
crawl can contain eventually arrives.  The HTML-tree fuzz in
``test_html.py`` pins parser *identity*; this file pins end-to-end
*containment*: decode → readability → sections → naive_merge → tokenize
over hostile inputs, checking the row invariants the downstream tables
rely on (status vocabulary, n_* consistency, chunk token arithmetic).

All corpora are fixed-seed — failures reproduce exactly.
"""

from __future__ import annotations

import random

from ragflow_core16_spark.operators.extract import _extract_one

DELIM = "\n!?。；！？"


def _row(html: bytes, lang: str = "en"):
    r = _extract_one("https://fuzz.example.com/x", None, html, lang,
                     128, DELIM)
    _check_invariants(r, html)
    # the density strategy carries the identical containment contract:
    # any input yields a schema-valid row, never a raise
    rd = _extract_one("https://fuzz.example.com/x", None, html, lang,
                      128, DELIM, strategy="density")
    _check_invariants(rd, html)
    return r


def _check_invariants(r: dict, html: bytes | None):
    assert r["status"] in ("ok", "error", "empty"), r["status"]
    assert r["bytes_in"] == (len(html) if html else 0)
    if r["status"] != "ok":
        assert r["n_chunks"] == 0 and r["n_tokens"] == 0
        return
    chunks = r["chunks"]
    assert r["n_chunks"] == len(chunks)
    assert r["n_tokens"] == sum(c["token_cnt"] for c in chunks)
    for i, c in enumerate(chunks):
        assert c["chunk_seq"] == i
        assert isinstance(c["chunk_text"], str) and c["chunk_text"]
        assert c["token_cnt"] >= 0
        # index columns must be strings (chunk-doc assembly contract,
        # rag/nlp/__init__.py:251-255)
        assert isinstance(c["content_ltks"], str)
        assert isinstance(c["content_sm_ltks"], str)
    if r["extracted_text"] is not None:
        assert isinstance(r["extracted_text"], str)


class TestRandomBytes:
    def test_pure_random_bytes(self):
        rng = random.Random(1234)
        for _ in range(400):
            n = rng.randint(0, 4096)
            _row(bytes(rng.getrandbits(8) for _ in range(n)))

    def test_random_utf8ish(self):
        rng = random.Random(5678)
        pool = ("abc def <p>xyz</p> é中文\U0001f600 &amp; "
                "<div>\n\t\r\x00\x0b</div>")
        for _ in range(400):
            s = "".join(rng.choice(pool) for _ in range(rng.randint(0, 300)))
            _row(s.encode("utf-8", errors="ignore"))

    def test_empty_and_null(self):
        assert _row(b"")["status"] == "empty"
        r = _extract_one("u", None, None, "en", 128, DELIM)
        assert r["status"] == "empty"
        _row(b"\x00" * 64)


class TestTruncatedEncodings:
    """Multi-byte encodings chopped mid-sequence — the classic crawl
    corruption (truncated fetch, wrong Content-Length)."""

    def test_truncated_multibyte(self):
        doc = ("<html><title>Título 中文</title><body><p>"
               + "café 中文段落 " * 40
               + "</p></body></html>")
        for enc in ("utf-8", "utf-16", "gbk", "big5", "shift_jis",
                    "euc_kr"):
            b = doc.encode(enc, errors="ignore")
            for cut in (1, 7, len(b) // 3, len(b) - 1):
                _row(b[:cut])

    def test_bom_stubs(self):
        for bom in (b"\xef\xbb\xbf", b"\xff\xfe", b"\xfe\xff",
                    b"\xff\xfe\x00\x00", b"\x00\x00\xfe\xff"):
            _row(bom)
            _row(bom + b"<p>hi</p>")
            _row(bom[:-1])


class TestHostileStructure:
    def test_mutated_real_pages(self):
        """Take generator pages (known-good) and corrupt them: byte
        flips, splices, duplicated tails — containment must hold."""
        from ragflow_core16_spark.datagen.pages import generate_page
        rng = random.Random(42)
        for d in range(60):
            h = bytearray(generate_page(d)[2])
            for _ in range(rng.randint(1, 8)):
                op = rng.randrange(3)
                i = rng.randrange(len(h))
                if op == 0:
                    h[i] = rng.getrandbits(8)
                elif op == 1:
                    del h[i:i + rng.randint(1, 50)]
                else:
                    h[i:i] = bytes(rng.getrandbits(8)
                                   for _ in range(rng.randint(1, 30)))
            _row(bytes(h))

    def test_pathological_nesting(self):
        # dom.py caps depth at MAX_DEPTH=256; beyond it must contain,
        # not recurse to death
        _row(b"<div>" * 6000 + b"deep text" + b"</div>" * 6000)
        _row(b"<p>" * 6000 + b"x")
        _row(b"<table>" * 500 + b"<td>cell" + b"</table>" * 499)

    def test_enormous_single_token(self):
        # one 2 MB unbroken word: pre-tokenizer, merge loop, tokenizer
        # and chunker all see a single giant piece
        _row(b"<p>" + b"a" * (2 * 1024 * 1024) + b"</p>")

    def test_long_y_run_page_extracts(self):
        # a 1,500-char "y" run reaches the Porter stemmer as one English
        # token; it must stem like any word, not fail the whole page
        run = "y" * 1500
        r = _row(b"<html><body><p>The " + run.encode()
                 + b" said hello to everyone here.</p></body></html>")
        assert r["status"] == "ok", r["error"]
        assert run in r["extracted_text"]
        assert run[:-1] + "i" in r["chunks"][0]["content_ltks"]

    def test_attribute_bombs(self):
        _row(b"<p " + b"a='x' " * 20000 + b">t</p>")
        _row(b"<p class='" + b"y " * 50000 + b"'>t</p>")

    def test_comment_cdata_script_unterminated(self):
        for frag in (b"<!-- never closed <p>hidden</p>",
                     b"<![CDATA[ stuck ",
                     b"<script>var x = '<p>not html</p>'",
                     b"<style>p{color:red}",
                     b"<?php echo 'x'; ",
                     b"<!doctype",
                     b"</closes-nothing></also>"):
            _row(frag + b"<p>after</p>")


class TestStatusVocabulary:
    def test_ok_on_clean_page(self):
        from ragflow_core16_spark.datagen.pages import generate_page
        r = _row(generate_page(3)[2])
        assert r["status"] == "ok" and r["n_chunks"] >= 1

    def test_every_template_routes_contained(self):
        # non-naive templates go through SECTION_TEMPLATES — same
        # containment contract
        for tpl in ("naive", "one", "book"):
            r = _extract_one("u", None, b"\xff\xfe<p>x</p>\x81\x81",
                             "en", 128, DELIM, template=tpl)
            _check_invariants(r, b"\xff\xfe<p>x</p>\x81\x81")
