"""tiktoken-compatible byte-level BPE — the real algorithm, natively.

The reference counts tokens with tiktoken's ``cl100k_base``
(``rag/utils/__init__.py:77-90``).  The cl100k VOCABULARY is a ~1.6 MB
runtime-fetched asset (the same class of stripped artifact as
``huqie.txt``), so it cannot ship here — but the ALGORITHM can: this
module implements tiktoken's exact encoding scheme (regex pre-tokenizer →
per-piece byte-level merge loop over a rank table), so deployment parity
becomes a data-file drop-in:

    export RAG_TIKTOKEN_VOCAB=/path/to/cl100k_base.tiktoken

(the standard dump format: ``base64(token_bytes) rank`` per line).  When
the env var is set, ``textnorm/tokens.py`` routes
``num_tokens_from_string`` through this encoder and chunk-boundary counts
match tiktoken byte-for-byte; without it the documented approximation
stays in force.

The merge loop mirrors tiktoken's ``byte_pair_merge``: repeatedly merge
the adjacent pair with the lowest rank (the leftmost on a tie) until no
merge applies, re-ranking only the pairs beside each merge.  Pinned by
tests on a toy vocabulary (``tests/test_textnorm.py::TestBpe``) and
against the rescan-every-pair loop (``TestBpeMergeDifferential``).
"""

from __future__ import annotations

import base64
import re

# cl100k_base pre-tokenizer pattern (published in the tiktoken source),
# translated for the stdlib `re` module ([^\W\d_] ~ \p{L}, \d ~ \p{N}).
# cl100k: '(?i:[sdmt]|ll|ve|re) | [^\r\n\p{L}\p{N}]?+\p{L}+ | \p{N}{1,3}
#         | ?[^\s\p{L}\p{N}]++[\r\n]* | \s*[\r\n]+ | \s+(?!\S) | \s+
# stdlib translation: \p{L} → [^\W\d_]; "non-letter-non-digit" → [^\w]|_
_PRETOK = re.compile(
    r"'(?i:[sdmt]|ll|ve|re)"
    r"|(?:[^\w\r\n]|_)?[^\W\d_]+"
    r"|\d{1,3}"
    r"| ?(?:[^\s\w]|_)+[\r\n]*"
    r"|\s*[\r\n]+"
    r"|\s+(?!\S)"
    r"|\s+",
    re.UNICODE,
)


_BYTE = tuple(bytes((b,)) for b in range(256))
_NO_RANK = float("inf")


def load_vocab(path: str) -> dict[bytes, int]:
    """Parse the standard ``.tiktoken`` dump: ``base64(bytes) rank``."""
    ranks: dict[bytes, int] = {}
    with open(path, "rb") as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            tok_b64, rank = line.split()
            ranks[base64.b64decode(tok_b64)] = int(rank)
    return ranks


class BpeEncoder:
    def __init__(self, ranks: dict[bytes, int]):
        self.ranks = ranks
        # rank of every two-byte pair, [first byte][second byte]: a
        # piece's initial pair ranks without a bytes object per pair
        get = ranks.get
        self._pair_rank = [[get(bytes((a, b)), _NO_RANK) for b in range(256)]
                           for a in range(256)]
        # piece -> token count memo, reset rather than evicted when full
        # (the common pieces repopulate it at once).  It absorbs repeated
        # pieces, but on long-tail web text ~170 pieces per page are new
        # to a warm worker, and those misses (encode_piece) are most of
        # count()'s time.
        self._cache: dict[str, int] = {}

    def count(self, text: str) -> int:
        cache = self._cache
        get = cache.get
        n = 0
        # findall: no match objects allocated (pattern has no capture
        # groups, so it yields the full pieces directly)
        for p in _PRETOK.findall(text):
            v = get(p)
            if v is None:
                v = len(self.encode_piece(p.encode("utf-8")))
                if len(cache) >= 200_000:
                    cache.clear()
                cache[p] = v
            n += v
        return n

    def encode_piece(self, piece: bytes) -> list[bytes]:
        """Token byte-sequences for one pre-tokenized piece.

        tiktoken's ``byte_pair_merge``: the rank of every adjacent pair is
        looked up once; a merge then re-ranks only the two pairs beside
        it, and the leftmost lowest rank is found with ``min``/``index``.
        Same tokens as rescanning every pair after each merge."""
        ranks = self.ranks
        if piece in ranks:
            return [piece]
        get = ranks.get
        pair_rank = self._pair_rank
        pair_ranks = [pair_rank[a][b] for a, b in zip(piece, piece[1:])]
        parts = list(map(_BYTE.__getitem__, piece))
        while pair_ranks:
            r = min(pair_ranks)
            if r == _NO_RANK:
                break
            i = pair_ranks.index(r)
            merged = parts[i] + parts.pop(i + 1)
            parts[i] = merged
            del pair_ranks[i]
            if i:
                pair_ranks[i - 1] = get(parts[i - 1] + merged, _NO_RANK)
            if i < len(pair_ranks):
                pair_ranks[i] = get(merged + parts[i + 1], _NO_RANK)
        return parts


# the shipped default vocabulary (trained by tools/train_vocab.py on the
# repo's committed documentation: class-pure letter merges + all 1-3-digit
# tokens, cl100k's structural design).  RAG_TIKTOKEN_VOCAB overrides it
# with a real cl100k_base.tiktoken dump at deployment.
_default: tuple[str, BpeEncoder] | None = None


def default_encoder() -> BpeEncoder:
    """Process-wide encoder over RAG_TIKTOKEN_VOCAB if set, else the
    shipped ranks file.  Cached per resolved path, so flipping the env
    var mid-process re-routes.  Raises (FileNotFoundError/ValueError)
    only if the resolved file is unreadable — the caller decides the
    fallback."""
    global _default
    import os
    path = os.environ.get("RAG_TIKTOKEN_VOCAB") or os.path.join(
        os.path.dirname(__file__), "assets", "webspark_bpe.tiktoken")
    if _default is None or _default[0] != path:
        _default = (path, BpeEncoder(load_vocab(path)))
    return _default[1]


def vocab_from_merges(merges: list[tuple]) -> dict[bytes, int]:
    """Rank table from a trained merge list (``operators/training.py::
    bpe_train`` rows: (rank, left, right, merged, pair_freq)).

    All 256 single bytes get ranks 0-255 (the byte-level base alphabet,
    as in every tiktoken vocabulary), and each merged token lands at
    ``256 + merge_rank`` — rank order mirrors creation order, which is
    what makes the encoder's lowest-rank-first merge loop reproduce
    sequential application of the merge list.
    """
    ranks = {bytes([b]): b for b in range(256)}
    for rank, _left, _right, merged, _freq in merges:
        # two rounds can surface the same merged string from different
        # pairs (('ab','c') and ('a','bc') → 'abc'); the EARLIEST rank
        # must win or the encoder applies the merge later than the
        # trainer did
        ranks.setdefault(merged.encode("utf-8"), 256 + int(rank))
    return ranks


def dump_vocab(ranks: dict[bytes, int], path: str) -> None:
    """Write the standard ``.tiktoken`` dump (``base64(bytes) rank``) —
    the file format ``RAG_TIKTOKEN_VOCAB`` loads, so a corpus-trained
    vocabulary can be routed into token counting like a real cl100k
    dump."""
    with open(path, "wb") as f:
        for tok, rank in sorted(ranks.items(), key=lambda kv: kv[1]):
            f.write(base64.b64encode(tok) + b" " + str(rank).encode()
                    + b"\n")
