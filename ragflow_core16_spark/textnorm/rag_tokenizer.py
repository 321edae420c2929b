"""Bidirectional max-match tokenizer — structural port of
``rag/nlp/rag_tokenizer.py`` (same control flow, native dependencies).

Pipeline (reference ``tokenize``, rag_tokenizer.py:291-361):
  1. ``\\W+`` → space, full-width→half-width (Q2B), lowercase,
     traditional→simplified (built-in map here; HanziConv absent);
  2. split into language runs (``SPLIT_CHAR`` regex + CJK/non-CJK runs);
  3. English runs → word split + lemmatize + Porter stem (native
     implementations — NLTK absent);
  4. CJK runs → forward & backward max-match over the frequency trie;
     agreeing prefix spans taken directly, disagreeing spans re-segmented
     by scored DFS (score = B/len(tks) + L + F, rag_tokenizer.py:181-191);
  5. ``merge_``: re-join adjacent tokens whose concatenation (with split
     chars) is in the dictionary.

Dictionary: the reference's ``rag/res/huqie.txt`` is a stripped large blob
in the reference repo itself (SURVEY.md §0), so the trie here loads from an
optional path (``RAG_TOKENIZER_DICT`` env) and falls back to a small
built-in lexicon — enough to exercise every code path in tests.  Extracted
chunk *text* never depends on the dictionary (HTML path); only the
``content_ltks`` index columns degrade to per-char CJK granularity without
the full dict.
"""

from __future__ import annotations

import math
import os
import re

from .morphy import lemmatize
from .porter import stem

# built-in CJK lexicon (word, freq, pos): common general + tech vocabulary,
# enough for realistic bidirectional max-match; a full huqie-style dict
# still loads via RAG_TOKENIZER_DICT (the reference's own huqie.txt is a
# stripped blob, SURVEY.md §0)
_BUILTIN_DICT = [
    ("中国", 600000, "ns"), ("人民", 120000, "n"), ("共和国", 50000, "ns"),
    ("中华", 80000, "nz"), ("中华人民共和国", 30000, "ns"),
    ("数据", 150000, "n"), ("处理", 90000, "v"), ("数据处理", 20000, "n"),
    ("引擎", 40000, "n"), ("大规模", 30000, "b"), ("集群", 25000, "n"),
    ("市场", 110000, "n"), ("需求", 70000, "n"), ("增长", 60000, "v"),
    ("研究", 100000, "v"), ("人员", 80000, "n"), ("研究人员", 15000, "n"),
    ("分析", 70000, "v"), ("结论", 30000, "n"), ("系统", 120000, "n"),
    ("吞吐", 5000, "v"), ("吞吐量", 8000, "n"), ("政策", 60000, "n"),
    ("行业", 50000, "n"), ("影响", 80000, "v"), ("产品", 90000, "n"),
    ("供应", 40000, "n"), ("供应链", 12000, "n"), ("稳定", 50000, "a"),
    # --- general high-frequency words ---
    ("我们", 500000, "r"), ("他们", 300000, "r"), ("自己", 250000, "r"),
    ("可以", 400000, "v"), ("没有", 350000, "v"), ("就是", 300000, "d"),
    ("知道", 200000, "v"), ("现在", 250000, "t"), ("时候", 220000, "n"),
    ("什么", 300000, "r"), ("这个", 280000, "r"), ("一个", 450000, "m"),
    ("不是", 260000, "v"), ("因为", 200000, "c"), ("所以", 180000, "c"),
    ("但是", 190000, "c"), ("如果", 170000, "c"), ("已经", 200000, "d"),
    ("还是", 160000, "d"), ("或者", 90000, "c"), ("而且", 80000, "c"),
    ("问题", 220000, "n"), ("时间", 240000, "n"), ("工作", 230000, "vn"),
    ("生活", 180000, "vn"), ("学习", 150000, "v"), ("发展", 200000, "vn"),
    ("经济", 180000, "n"), ("社会", 190000, "n"), ("国家", 230000, "n"),
    ("世界", 180000, "n"), ("企业", 150000, "n"), ("公司", 200000, "n"),
    ("政府", 130000, "n"), ("管理", 140000, "vn"), ("服务", 150000, "vn"),
    ("建设", 120000, "vn"), ("提高", 100000, "v"), ("提供", 110000, "v"),
    ("通过", 140000, "p"), ("进行", 160000, "v"), ("实现", 90000, "v"),
    ("使用", 120000, "v"), ("需要", 170000, "v"), ("重要", 130000, "a"),
    ("主要", 120000, "b"), ("情况", 130000, "n"), ("方面", 110000, "n"),
    ("方法", 100000, "n"), ("技术", 160000, "n"), ("信息", 150000, "n"),
    ("网络", 130000, "n"), ("计算", 60000, "v"), ("计算机", 70000, "n"),
    ("科学", 90000, "n"), ("教育", 110000, "vn"), ("文化", 100000, "n"),
    ("历史", 90000, "n"), ("环境", 100000, "n"), ("资源", 80000, "n"),
    ("安全", 100000, "an"), ("标准", 70000, "n"), ("质量", 80000, "n"),
    ("项目", 90000, "n"), ("内容", 100000, "n"), ("用户", 110000, "n"),
    ("平台", 80000, "n"), ("模型", 60000, "n"), ("算法", 40000, "n"),
    ("程序", 60000, "n"), ("软件", 70000, "n"), ("硬件", 30000, "n"),
    ("互联网", 60000, "n"), ("人工", 40000, "b"), ("智能", 50000, "an"),
    ("人工智能", 35000, "n"), ("机器", 50000, "n"), ("学习率", 3000, "n"),
    ("机器学习", 20000, "n"), ("深度", 40000, "n"), ("深度学习", 15000, "n"),
    ("神经", 20000, "n"), ("神经网络", 18000, "n"), ("训练", 40000, "v"),
    ("测试", 50000, "vn"), ("运行", 50000, "v"), ("执行", 45000, "v"),
    ("存储", 35000, "v"), ("内存", 30000, "n"), ("文件", 70000, "n"),
    ("数据库", 40000, "n"), ("查询", 30000, "v"), ("索引", 20000, "n"),
    ("分布", 30000, "vn"), ("分布式", 15000, "b"), ("并行", 12000, "d"),
    ("任务", 70000, "n"), ("节点", 20000, "n"), ("性能", 40000, "n"),
    ("效率", 45000, "n"), ("优化", 30000, "v"), ("版本", 40000, "n"),
    ("功能", 60000, "n"), ("应用", 90000, "vn"), ("开发", 80000, "v"),
    ("设计", 80000, "vn"), ("结构", 60000, "n"), ("过程", 80000, "n"),
    ("结果", 100000, "n"), ("报告", 60000, "n"), ("监督", 30000, "v"),
    ("办法", 50000, "n"), ("规定", 60000, "n"), ("法律", 60000, "n"),
    ("条例", 20000, "n"), ("部门", 70000, "n"), ("机构", 60000, "n"),
    ("主管", 20000, "n"), ("主管部门", 8000, "n"), ("依法", 20000, "d"),
    ("履行", 15000, "v"), ("职责", 20000, "n"), ("适用", 20000, "v"),
    ("相关", 70000, "v"), ("总则", 5000, "n"), ("目录", 20000, "n"),
    ("章节", 8000, "n"), ("第一", 150000, "m"), ("第二", 100000, "m"),
    ("第三", 80000, "m"), ("成立", 40000, "v"), ("摘要", 10000, "n"),
    ("引言", 5000, "n"), ("背景", 30000, "n"), ("关键", 40000, "a"),
    ("关键词", 10000, "n"), ("前言", 6000, "n"),
]

# traditional→simplified fold (HanziConv replacement): the ~1700-entry
# curated table in textnorm/t2s.py
from .t2s import T2S_TABLE as _T2S

SPLIT_CHAR = r"([ ,\.<>/?;:'\[\]\\`!@#$%^&*\(\)\{\}\|_+=《》，。？、；‘’：“”【】~！￥%……（）——-]+|[a-zA-Z0-9,\.-]+)"
_SPLIT_RE = re.compile(SPLIT_CHAR)
_W_RE = re.compile(r"\W+")
# ascii \W → " " as a C-speed translate table: for a pure-ascii line,
# translate+split ≡ _W_RE.sub(" ", line).split() (run collapsing is moot
# under split), and "_" membership is unchanged by either
_ASCII_W_TABLE = {i: " " for i in range(128)
                  if re.match(r"\W", chr(i), re.UNICODE)}
# precompiled hot-path character-class probes (the inline re.match(str, …)
# form pays a compile-cache dict probe per call — ~80k calls per 1k docs)
_EN_TOKEN_RE = re.compile(r"[a-zA-Z_-]+$")
_ASCII_WORD_RE = re.compile(r"[a-z\.-]+$")
_NUM_RUN_RE = re.compile(r"[0-9\.-]+$")
_FG_NUM_RE = re.compile(r"[0-9,\.-]+$")
DENOMINATOR = 1000000

# full-width → half-width fold as a translate table (fast _strQ2B)
_Q2B_TABLE = {0x3000: 0x0020}
_Q2B_TABLE.update({0xFF01 + i: 0x21 + i for i in range(0x5E)})


def is_chinese(c: str) -> bool:
    return "一" <= c <= "鿥"


class _Trie:
    """Minimal datrie replacement: dict + prefix set."""

    def __init__(self):
        self._d: dict[str, tuple] = {}
        self._prefixes: set[str] = set()

    def __setitem__(self, k, v):
        self._d[k] = v
        for i in range(1, len(k) + 1):
            self._prefixes.add(k[:i])

    def __getitem__(self, k):
        return self._d[k]

    def __contains__(self, k):
        return k in self._d

    def has_keys_with_prefix(self, k):
        return k in self._prefixes


class RagTokenizer:
    def __init__(self, dict_path: str | None = None):
        self.trie_ = _Trie()
        # plain-str lookup tables for the hot freq()/tag() path (key_()'s
        # encode round trip is too slow for merge_'s per-window probes)
        self._freq_str: dict[str, int] = {}
        self._tag_str: dict[str, str] = {}
        from .cjk_lexicon import LEXICON
        entries = list(_BUILTIN_DICT)
        seen = {w for w, _f, _t in entries}
        entries.extend(e for e in LEXICON if e[0] not in seen)
        path = dict_path or os.environ.get("RAG_TOKENIZER_DICT")
        if path and os.path.exists(path):
            entries = self._read_dict(path)
        for word, freq, tag in entries:
            k = self.key_(word)
            F = int(math.log(float(freq) / DENOMINATOR) + .5)
            if k not in self.trie_ or self.trie_[k][0] < F:
                self.trie_[k] = (F, tag)
                w = word.lower()
                self._freq_str[w] = int(math.exp(F) * DENOMINATOR + 0.5)
                self._tag_str[w] = tag
            self.trie_[self.rkey_(word)] = (1, "")
        # first-char gate for merge_: a merged dict word must start with the
        # window's first character
        self._first_chars = {w[0] for w in self._freq_str}
        # every proper prefix of every dict word (lowercased): merge_'s
        # window probe can stop growing the moment the concatenation is no
        # longer a prefix of ANY dict word — for web text this gates almost
        # every English token out of the probe loop entirely
        self._merge_prefixes = {w[:i] for w in self._freq_str
                                for i in range(1, len(w) + 1)}

    def add_word(self, word: str, freq: int, tag: str = "n"):
        """Register one extra dictionary word at runtime (the reference's
        user-dict seam, ``rag/nlp/rag_tokenizer.py loadUserDict``).  Keeps
        every derived index (trie, freq/tag tables, first-char gate, merge
        prefix set) consistent — callers must never mutate ``_freq_str``
        directly, or merge_'s prefix gate goes stale."""
        k = self.key_(word)
        F = int(math.log(float(freq) / DENOMINATOR) + .5)
        if k not in self.trie_ or self.trie_[k][0] < F:
            self.trie_[k] = (F, tag)
            w = word.lower()
            self._freq_str[w] = int(math.exp(F) * DENOMINATOR + 0.5)
            self._tag_str[w] = tag
            self._first_chars.add(w[0])
            self._merge_prefixes.update(w[:i] for i in range(1, len(w) + 1))
        self.trie_[self.rkey_(word)] = (1, "")

    @staticmethod
    def _read_dict(path):
        out = []
        with open(path, encoding="utf-8") as f:
            for line in f:
                parts = re.split(r"[ \t]", line.strip())
                if len(parts) >= 3:
                    out.append((parts[0], float(parts[1]), parts[2]))
        return out

    def key_(self, line):
        # char-level key (the reference keys its datrie on the bytes-repr of
        # utf-8; both utf-8 and per-byte escaping are prefix-preserving
        # injections, so a char-keyed trie answers the same prefix/member
        # queries without an encode+repr round trip per probe)
        return line.lower()

    def rkey_(self, line):
        return "DD" + line[::-1].lower()

    # -- scoring ---------------------------------------------------------
    def freq(self, tk):
        return self._freq_str.get(tk.lower(), 0)

    def tag(self, tk):
        return self._tag_str.get(tk.lower(), "")

    def score_(self, tfts):
        B = 30
        F, L, tks = 0, 0, []
        for tk, (freq, tag) in tfts:
            F += freq
            L += 0 if len(tk) < 2 else 1
            tks.append(tk)
        L = L / len(tks)
        return tks, B / len(tks) + L + F

    def sortTks_(self, tkslist):
        res = [self.score_(tfts) for tfts in tkslist]
        return sorted(res, key=lambda x: x[1], reverse=True)

    # -- max match -------------------------------------------------------
    # NOTE: maxForward_/maxBackward_/dfs_ are only ever called on text that
    # tokenize() has already lowercased (and fine_grained_tokenize on
    # tokenize()'s own output), so the probes below use the substring
    # directly instead of key_()'s re-lower — one allocation per probe on
    # the hottest loop in extraction.
    def maxForward_(self, line):
        trie = self.trie_
        has_pref = trie.has_keys_with_prefix
        res = []
        s = 0
        n = len(line)
        while s < n:
            e = s + 1
            t = line[s:e]
            while e < n and has_pref(t):
                e += 1
                t = line[s:e]
            while e - 1 > s and t not in trie:
                e -= 1
                t = line[s:e]
            if t in trie:
                res.append((t, trie[t]))
            else:
                res.append((t, (0, "")))
            s = e
        return self.score_(res)

    def maxBackward_(self, line):
        trie = self.trie_
        has_pref = trie.has_keys_with_prefix
        res = []
        s = len(line) - 1
        while s >= 0:
            e = s + 1
            t = line[s:e]
            while s > 0 and has_pref("DD" + t[::-1]):
                s -= 1
                t = line[s:e]
            while s + 1 < e and t not in trie:
                s += 1
                t = line[s:e]
            if t in trie:
                res.append((t, trie[t]))
            else:
                res.append((t, (0, "")))
            s -= 1
        return self.score_(res[::-1])

    def dfs_(self, chars, s, preTks, tkslist):
        trie = self.trie_
        has_pref = trie.has_keys_with_prefix
        res = s
        if len(tkslist) >= 2048:
            return res
        if s >= len(chars):
            tkslist.append(preTks)
            return res
        S = s + 1
        if s + 2 <= len(chars):
            t1, t2 = "".join(chars[s:s + 1]), "".join(chars[s:s + 2])
            if has_pref(t1) and not has_pref(t2):
                S = s + 2
        if len(preTks) > 2 and len(preTks[-1][0]) == 1 \
                and len(preTks[-2][0]) == 1 and len(preTks[-3][0]) == 1:
            t1 = preTks[-1][0] + "".join(chars[s:s + 1])
            if has_pref(t1):
                S = s + 2
        for e in range(S, len(chars) + 1):
            t = "".join(chars[s:e])
            if e > s + 1 and not has_pref(t):
                break
            if t in trie:
                pretks = [list(x) for x in preTks]
                pretks.append((t, trie[t]))
                res = max(res, self.dfs_(chars, e, pretks, tkslist))
        if res > s:
            return res
        t = "".join(chars[s:s + 1])
        if t in trie:
            preTks.append((t, trie[t]))
        else:
            preTks.append((t, (-12, "")))
        return self.dfs_(chars, s + 1, preTks, tkslist)

    # -- normalization ---------------------------------------------------
    @staticmethod
    def _strQ2B(ustring):
        if ustring.isascii():
            return ustring
        return ustring.translate(_Q2B_TABLE)

    @staticmethod
    def _tradi2simp(line):
        return line.translate(_T2S)

    _EN_NORM_CACHE: dict[str, str] = {}

    @classmethod
    def _en_norm(cls, t: str) -> str:
        """stem(lemmatize(t)) with a bounded memo (both functions are pure).
        On long-tail web text the misses, words this worker has not seen
        yet, cost more than the hits: ~150 per page on the benchmark's
        ``job_longtail`` pages, ~0.5 ms of a ~5.5 ms page on one core of a
        4-vCPU VM.  Like every memo here it is reset when full, so words
        first seen late still get cached."""
        c = cls._EN_NORM_CACHE
        v = c.get(t)
        if v is None:
            v = stem(lemmatize(t))
            if len(c) >= 200_000:
                c.clear()
            c[t] = v
        return v

    def english_normalize_(self, tks):
        cg = self._EN_NORM_CACHE.get
        en = self._en_norm
        m = _EN_TOKEN_RE.match
        # cg(t) or en(t): miss → None → compute+cache ("" recompute is
        # harmless — the functions are pure and "" never stores anyway)
        return [(cg(t) or en(t)) if m(t) else t for t in tks]

    def _split_by_lang(self, line):
        pairs = []
        for a in _SPLIT_RE.split(line):
            if not a:
                continue
            if a.isascii():  # fast path: no CJK possible
                pairs.append((a, False))
                continue
            s, e = 0, 1
            zh = is_chinese(a[0])
            while e < len(a):
                _zh = is_chinese(a[e])
                if _zh == zh:
                    e += 1
                    continue
                pairs.append((a[s:e], zh))
                s, e, zh = e, e + 1, _zh
            if s < len(a):
                pairs.append((a[s:e], zh))
        return pairs

    def merge_(self, tks_str):
        """Public entry: case-insensitive like the reference (probes are
        lowered, output keeps the caller's casing).  Lowercase input —
        every in-repo tokenize path — takes the list fast path directly."""
        tks = tks_str.split()
        # islower() is False both for upper-case strings and for caseless
        # ones; the second probe separates those (caseless ⇒ fast path)
        if tks_str.islower() or not tks_str.lower().islower():
            return " ".join(self._merge_list(tks))
        res = []
        s = 0
        n = len(tks)
        freq = self._freq_str
        first = self._first_chars
        prefixes = self._merge_prefixes
        while s < n:
            t0 = tks[s]
            if not t0 or t0[0].lower() not in first \
                    or t0.lower() not in prefixes:
                res.append(t0)
                s += 1
                continue
            E = s + 1
            tk = t0
            for e in range(s + 2, min(n + 1, s + 6)):
                tk = tk + tks[e - 1]
                low = tk.lower()
                if low in freq and _SPLIT_RE.search(tk):
                    E = e
                if low not in prefixes:
                    break   # no dict word extends this concatenation
            res.append(t0 if E == s + 1 else "".join(tks[s:E]))
            s = E
        return " ".join(res)

    def _merge_list(self, tks):
        """merge_ over an already-split token list — the tokenize fast path
        feeds its list directly, skipping a full-string join+re-split.
        Tokens must be lowercase (every tokenize path lowers before merge;
        ``_freq_str``/``_first_chars`` keys are stored lowered)."""
        prefixes = self._merge_prefixes
        # C-speed gate: if no token is a prefix of any dict word, no merge
        # window can open anywhere — the common case for English text
        if prefixes.isdisjoint(tks):
            return tks
        res = []
        s = 0
        n = len(tks)
        freq = self._freq_str
        while s < n:
            t0 = tks[s]
            if not t0 or t0 not in prefixes:
                # t0 is not a prefix of any dict word → no merged dict word
                # can start with it → no merge possible (strictly stronger
                # than the first-char gate; on web text this skips nearly
                # every English token)
                res.append(t0)
                s += 1
                continue
            E = s + 1
            tk = t0
            # grow the candidate incrementally (the original sliced+joined
            # tks[s:e] afresh per window and re-probed the clamped duplicate
            # when e overran n).  SPLIT_CHAR matches any ascii-alnum or punct
            # run, so the regex gate only excludes pure-CJK concats with no
            # dict hit; the dict probe is the cheap dominant filter — first
            for e in range(s + 2, min(n + 1, s + 6)):
                tk = tk + tks[e - 1]
                if tk in freq and _SPLIT_RE.search(tk):
                    E = e
                if tk not in prefixes:
                    break   # no dict word extends this concatenation
            res.append(t0 if E == s + 1 else "".join(tks[s:E]))
            s = E
        return res

    # -- public API ------------------------------------------------------
    def tokenize(self, line: str) -> str:
        if line.isascii():
            # ascii input: \W+→" " via the translate table (C speed; run
            # collapsing is moot under split()).  Underscore membership is
            # unchanged by either form, so the routing below is identical.
            if "_" not in line:
                cg = self._EN_NORM_CACHE.get
                en = self._en_norm
                return " ".join(self._merge_list(
                    [cg(t) or en(t)
                     for t in line.translate(_ASCII_W_TABLE).lower()
                     .split()]))
            line = _W_RE.sub(" ", line)
        else:
            line = _W_RE.sub(" ", line)
        if line.isascii() and "_" not in line:
            # pure-ascii fast path: Q2B and tradi→simp are identity maps and
            # every space-separated token is a single alnum run — same output
            # as the general path, minus two full-string translates.  ("_"
            # survives \W+ but is a SPLIT_CHAR separator, so underscore
            # lines take the general path.)
            cg = self._EN_NORM_CACHE.get
            en = self._en_norm
            return " ".join(self._merge_list(
                [cg(t) or en(t) for t in line.lower().split()]))
        line = self._strQ2B(line).lower()
        line = self._tradi2simp(line)
        res = []
        cg = self._EN_NORM_CACHE.get
        en = self._en_norm
        for L, zh in self._split_by_lang(line):
            if not zh:
                res.extend(cg(t) or en(t) for t in L.split())
                continue
            res.extend(self._zh_span(L))
        return self.merge_(" ".join(res))

    _ZH_SPAN_CACHE: dict[str, tuple] = {}

    def _zh_span(self, L: str) -> tuple:
        """CJK-span resolution (forward/backward max-match agreement +
        scored-DFS disagreement repair) with a bounded memo: the pieces
        appended to the result stream are a pure function of the span, and
        web text repeats spans (boilerplate, names, UI strings) heavily —
        at bench the synthetic corpus resolves 6.7k span hits to 17
        distinct strings."""
        c = self._ZH_SPAN_CACHE
        hit = c.get(L)
        if hit is None:
            hit = tuple(self._zh_span_pieces(L))
            if len(c) >= 100_000:
                c.clear()
            c[L] = hit
        return hit

    def _zh_span_pieces(self, L: str) -> list:
        res = []
        if len(L) < 2 or _ASCII_WORD_RE.match(L) or _NUM_RUN_RE.match(L):
            res.append(L)
            return res
        tks, s = self.maxForward_(L)
        tks1, s1 = self.maxBackward_(L)
        i, j, _i, _j = 0, 0, 0, 0
        same = 0
        while i + same < len(tks1) and j + same < len(tks) \
                and tks1[i + same] == tks[j + same]:
            same += 1
        if same > 0:
            res.append(" ".join(tks[j:j + same]))
        _i, _j = i + same, j + same
        j = _j + 1
        i = _i + 1
        while i < len(tks1) and j < len(tks):
            tk1, tk = "".join(tks1[_i:i]), "".join(tks[_j:j])
            if tk1 != tk:
                if len(tk1) > len(tk):
                    j += 1
                else:
                    i += 1
                continue
            if tks1[i] != tks[j]:
                i += 1
                j += 1
                continue
            # disagreement span resolved by scored DFS
            tkslist = []
            self.dfs_("".join(tks[_j:j]), 0, [], tkslist)
            res.append(" ".join(self.sortTks_(tkslist)[0][0]))
            same = 1
            while i + same < len(tks1) and j + same < len(tks) \
                    and tks1[i + same] == tks[j + same]:
                same += 1
            res.append(" ".join(tks[j:j + same]))
            _i, _j = i + same, j + same
            j = _j + 1
            i = _i + 1
        if _i < len(tks1):
            tkslist = []
            self.dfs_("".join(tks[_j:]), 0, [], tkslist)
            if tkslist:
                res.append(" ".join(self.sortTks_(tkslist)[0][0]))
        return res

    def fine_grained_tokenize(self, tks: str) -> str:
        # ascii fast path: zh_num is provably 0, so the result is the
        # English branch below — and when no '/' survives either, that
        # branch is the identity re-join (skip 2 Python-level scans/token)
        if tks.isascii():
            if "/" not in tks:
                return " ".join(tks.split())
            parts = [p for t in tks.split() for p in t.split("/")]
            return " ".join(parts)
        tks = tks.split()
        zh_num = len([1 for c in tks if c and is_chinese(c[0])])
        if zh_num < len(tks) * 0.2:
            res = []
            for tk in tks:
                res.extend(tk.split("/"))
            return " ".join(res)
        res = [self._fg_token(tk) for tk in tks]
        return " ".join(self.english_normalize_(res))

    _FG_CACHE: dict[str, str] = {}

    def _fg_token(self, tk: str) -> str:
        """Per-token fine-grained split with a bounded memo (pure function
        of the token; the DFS re-segmentation dominates the zh branch)."""
        c = self._FG_CACHE
        hit = c.get(tk)
        if hit is not None:
            return hit
        if len(tk) < 3 or _FG_NUM_RE.match(tk):
            stk = tk
        else:
            tkslist = []
            if len(tk) > 10:
                tkslist.append(tk)
            else:
                self.dfs_(tk, 0, [], tkslist)
            if len(tkslist) < 2:
                stk = tk
            else:
                stk = self.sortTks_(tkslist)[1][0]
                if len(stk) == len(tk):
                    stk = tk
                else:
                    if _ASCII_WORD_RE.match(tk):
                        for t in stk:
                            if len(t) < 3:
                                stk = tk
                                break
                        else:
                            stk = " ".join(stk)
                    else:
                        stk = " ".join(stk)
        if len(c) >= 200_000:
            c.clear()
        c[tk] = stk
        return stk


_singleton: RagTokenizer | None = None


def get_tokenizer() -> RagTokenizer:
    """Per-process singleton (executor-local lazy init, SURVEY.md §4.2)."""
    global _singleton
    if _singleton is None:
        _singleton = RagTokenizer()
    return _singleton


def tokenize(line: str) -> str:
    return get_tokenizer().tokenize(line)


def fine_grained_tokenize(tks: str) -> str:
    return get_tokenizer().fine_grained_tokenize(tks)
