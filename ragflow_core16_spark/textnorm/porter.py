"""Porter stemming algorithm — from-scratch implementation of the published
algorithm (M.F. Porter, "An algorithm for suffix stripping", Program 1980).

The reference uses NLTK's PorterStemmer (``rag/nlp/rag_tokenizer.py:66``);
NLTK is not available here, so this is the classic 5-step algorithm.  Note
NLTK's default mode adds some extensions to the 1980 paper (e.g. special
handling of words ending in 'y' after step 1c); this implements the original
published algorithm, which matches NLTK ORIGINAL_ALGORITHM mode.

Consonant/vowel classes come from one left-to-right pass per string
(``_sig``): a character other than a, e, i, o, u is a consonant, except
a ``y`` that follows a consonant.  A character's class depends only on
the characters before it, so the signature of a prefix is the prefix of
the signature, and the measure m of the form [C](VC)^m[V] is the number of
"vc" pairs in it.

``stem`` keeps no memo of its own: its one hot caller,
``RagTokenizer._en_norm``, memoizes ``stem(lemmatize(t))``.  What
stemming costs is that memo's misses, words a worker has not seen yet,
~150 per page on long-tail web text.
"""

from __future__ import annotations

# one byte per character: b"v" for a, e, i, o, u, b"c" for anything else
# (a character outside ASCII encodes as one b"?" first)
_C, _V = b"cv"
_CV = bytes(_V if chr(b) in "aeiou" else _C for b in range(256))

_STEP2 = (
    ("ational", "ate"), ("tional", "tion"), ("enci", "ence"),
    ("anci", "ance"), ("izer", "ize"), ("abli", "able"), ("alli", "al"),
    ("entli", "ent"), ("eli", "e"), ("ousli", "ous"), ("ization", "ize"),
    ("ation", "ate"), ("ator", "ate"), ("alism", "al"), ("iveness", "ive"),
    ("fulness", "ful"), ("ousness", "ous"), ("aliti", "al"),
    ("iviti", "ive"), ("biliti", "ble"),
)
_STEP3 = (
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ful", ""), ("ness", ""),
)
# longest first; sorted() is stable, so equal lengths keep this order
_STEP4 = tuple(sorted(
    ("al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
     "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize"),
    key=len, reverse=True))
_STEP2_SUFFIXES = tuple(s for s, _ in _STEP2)
_STEP3_SUFFIXES = tuple(s for s, _ in _STEP3)


def _sig(s: str) -> bytes | bytearray:
    """b"c"/b"v" per character of ``s``."""
    sig = s.encode("ascii", "replace").translate(_CV)
    i = s.find("y", 1)
    if i < 0:
        return sig
    out = bytearray(sig)
    while i > 0:
        if out[i - 1] == _C:            # "y" after a consonant is a vowel
            out[i] = _V
        i = s.find("y", i + 1)
    return out


def _measure(s: str) -> int:
    return _sig(s).count(b"vc")


def _cvc(w: str, sig: bytes | bytearray) -> bool:
    return sig[-3:] == b"cvc" and w[-1] not in "wxy"


def stem(word: str) -> str:
    if len(word) <= 2:
        return word
    w = word

    # Step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]

    # Step 1b
    flag_1b = False
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    elif w.endswith("ed"):
        if b"v" in _sig(w[:-2]):
            w = w[:-2]
            flag_1b = True
    elif w.endswith("ing"):
        if b"v" in _sig(w[:-3]):
            w = w[:-3]
            flag_1b = True
    if flag_1b:
        if w.endswith(("at", "bl", "iz")):
            w += "e"
        else:
            sig = _sig(w)
            if (len(w) >= 2 and w[-1] == w[-2] and sig[-1] == _C
                    and not w.endswith(("l", "s", "z"))):
                w = w[:-1]
            elif sig.count(b"vc") == 1 and _cvc(w, sig):
                w += "e"

    # Step 1c
    if w.endswith("y") and b"v" in _sig(w[:-1]):
        w = w[:-1] + "i"

    # Step 2
    if w.endswith(_STEP2_SUFFIXES):
        for suf, rep in _STEP2:
            if w.endswith(suf):
                stem_ = w[: -len(suf)]
                if _measure(stem_) > 0:
                    w = stem_ + rep
                break

    # Step 3
    if w.endswith(_STEP3_SUFFIXES):
        for suf, rep in _STEP3:
            if w.endswith(suf):
                stem_ = w[: -len(suf)]
                if _measure(stem_) > 0:
                    w = stem_ + rep
                break

    # Step 4
    if w.endswith(_STEP4):
        for suf in _STEP4:
            if w.endswith(suf):
                stem_ = w[: -len(suf)]
                if suf == "ion" and not stem_.endswith(("s", "t")):
                    continue
                if _measure(stem_) > 1:
                    w = stem_
                break

    # Step 5a
    if w.endswith("e"):
        stem_ = w[:-1]
        sig = _sig(stem_)
        m = sig.count(b"vc")
        if m > 1 or (m == 1 and not _cvc(stem_, sig)):
            w = stem_
    # Step 5b ("l" is always a consonant, so the double-consonant test
    # is the "ll" ending)
    if w.endswith("ll") and _measure(w) > 1:
        w = w[:-1]

    return w


# noun lemmatization lives in textnorm/morphy.py (exact WordNet-morphy
# algorithm with a pluggable lexicon)
