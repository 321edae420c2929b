"""Deterministic token counting for chunk budgeting.

Reference: ``rag/utils/__init__.py:77-90`` uses tiktoken's ``cl100k_base``
encoding for ``num_tokens_from_string``.  The DEFAULT here is the real
thing: tiktoken's exact byte-level BPE algorithm (``textnorm/bpe.py`` —
cl100k pre-tokenizer regex + lowest-rank-first merge loop) over a shipped
ranks file.  Resolution order:

1. ``RAG_TIKTOKEN_VOCAB`` — a genuine ``cl100k_base.tiktoken`` dump (or
   any .tiktoken ranks file); with it, counts match tiktoken
   byte-for-byte.  The cl100k file itself is a ~1.6 MB runtime-fetched
   artifact (the same class of stripped asset as the reference's
   ``huqie.txt``), so it cannot ship from this sandbox — but everything
   about the loader is ready for it.
2. The shipped default vocabulary
   (``textnorm/assets/webspark_bpe.tiktoken``), trained by
   ``tools/train_vocab.py`` with cl100k's structural design (all
   1-3-digit strings are single tokens; merges never cross letter /
   digit / punctuation / whitespace classes).
3. ``RAG_TOKEN_APPROX=1`` (or an unreadable ranks file) falls back to the
   round-1/2 chars-per-token approximation kept below.

The per-url extracted *text* bytes — the north-rule invariant — do not
depend on token counts; chunk boundaries do, and they are deterministic
given whichever counter is active.

Performance: called per section inside Arrow-batched UDFs.  The encoder
memoizes per-piece counts (Zipf text ⇒ dict hit per piece), so the hot
path is the pre-tokenizer regex scan, same as the approximation.
"""

from __future__ import annotations

import re
from math import ceil

# cl100k_base pre-tokenizer pattern, re-expressed for stdlib `re`
# (original uses \p{L}/\p{N}; here [^\W\d_] = unicode letters, \d = digits).
_PIECE = re.compile(
    r"'(?:[sdmt]|ll|ve|re)"          # English contractions
    r"| ?[^\W\d_]+"                   # optional space + letter run
    r"| ?\d{1,3}"                     # optional space + up to 3 digits
    # optional space + punctuation run — cl100k's class is
    # [^\s\p{L}\p{N}], which INCLUDES '_' (and Pc connectors); stdlib
    # [^\s\w] alone would drop them since '_' is \w
    r"| ?(?:[^\s\w]|_)+[\r\n]*"
    r"|\s*[\r\n]+"                    # newlines
    r"|\s+"                           # other whitespace
    r"|\S",                           # totality: BPE encodes every byte
    re.UNICODE,
)

# CJK unified ideographs + extensions + kana + hangul: cl100k encodes most
# common CJK chars as 1 token, rarer ones as 2-3; 1/char is the deterministic
# approximation used here.
_CJK = re.compile(
    r"[぀-ヿ㐀-䶿一-鿿가-힯豈-﫿]"
)


def _piece_tokens(piece: str) -> int:
    cjk = 0 if piece.isascii() else len(_CJK.findall(piece))
    rest = len(piece) - cjk
    n = cjk
    if rest > 0:
        # ~4.4 chars/token for English incl. the attached leading space;
        # short pieces are single tokens.
        n += 1 if rest <= 5 else ceil(rest / 4.4)
    return max(n, 1)


def _count_native(s: str) -> int:
    if not s:
        return 0
    pieces = _PIECE.findall(s)
    if s.isascii():
        # hot path (most web text): no CJK scan per piece; same arithmetic
        # (float ceil kept deliberately — int math differs at exact
        # multiples, e.g. ceil(22/4.4) == 6 in float)
        n = 0
        for p in pieces:
            lp = len(p)
            n += 1 if lp <= 5 else ceil(lp / 4.4)
        return n
    return sum(_piece_tokens(p) for p in pieces)


def _default_counter():
    """Exact BPE by default: RAG_TIKTOKEN_VOCAB if set, else the shipped
    ranks file; the chars/token approximation only on explicit request
    (RAG_TOKEN_APPROX=1) or if no ranks file is readable."""
    import os
    if os.environ.get("RAG_TOKEN_APPROX"):
        return _count_native
    try:
        from .bpe import default_encoder
        return default_encoder().count
    except Exception:
        return _count_native


# resolved lazily on first use so RAG_TIKTOKEN_VOCAB set after import (the
# normal driver order) still routes to the real BPE
_counter = None


def num_tokens_from_string(s: str) -> int:
    """Mirror of rag/utils/__init__.py:83-88 (returns 0 on error)."""
    global _counter
    if _counter is None:
        _counter = _default_counter()
    try:
        return _counter(s)
    except Exception:
        return 0
