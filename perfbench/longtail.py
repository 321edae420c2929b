"""Seeded long-tail web-page generator owned by the benchmark.

The engine's own generators draw from tiny vocabularies (``pages_df``: 60
English words and 5 Chinese sentences; ``documents_df``: 31 words), so
every token repeats and any memo or cache looks free.  This generator
produces crawl-like pages whose properties a deployment actually sees:

* English words drawn Zipf(1) over 2**24 ranks; rank ``r`` names a fixed
  synthetic word (one syllable for the 4,356 most frequent ranks, two
  beyond), so millions of word types are reachable, a 1,000-page sample
  holds well over 100,000 of them, and a per-process memo keeps missing
  on the tail however long a worker lives;
* Chinese paragraphs over 3,500 distinct CJK characters, also Zipf(1);
* heavy-tailed page sizes: the paragraph count of page ``i`` is a
  log-normal quantile taken at a stratified point ``(k + 0.5) / n``, with
  ``k`` a seeded permutation of the ids, so every seed has the same size
  histogram and only which page is big changes;
* exact language shares (70% English, 20% Chinese, 10% mixed), also
  assigned through a seeded permutation;
* a crawl-ordered block of large pages from one hot host at the start
  of the id range (the ``skewed_pages_df`` layout).

Every page is a pure function of ``(seed, part, doc_id, n_pages)``;
``part`` numbers disjoint corpora of one seed (one per timed call, so no
call re-reads pages an earlier call already tokenized).  Rows carry
the ``pages`` schema: url, warc_ts, html (bytes), text, lang.
"""

from __future__ import annotations

import math
import random
from datetime import datetime, timedelta, timezone
from itertools import accumulate

N_WORD_RANKS = 1 << 24
N_CJK_CHARS = 3_500
HOT_FRAC = 0.02          # share of ids (the leading block) on the hot host
HOT_SCALE = 6            # paragraph multiplier for the hot host's pages
MAX_PARAS = 120          # cap on the log-normal tail
_SIGMA = 0.9             # log-normal shape of the paragraph count
_MEDIAN_PARAS = 6

_ONSETS = ("b c d f g h j k l m n p r s t v w z br ch cl cr dr fl fr gl gr "
           "pl pr sc sh sk sl sp st str th tr wh").split()
_NUCLEI = "a e i o u ai ea ee io oo ou".split()
_CODAS = ("", "", "n", "r", "s", "t", "l", "m", "nd", "st", "ck", "ng")
_ZH_PUNCT = "，，，。！？；"
_TLDS = ("com", "org", "net", "cn", "io")


def _syllables() -> list[str]:
    syll = [o + n + c for o in _ONSETS for n in _NUCLEI for c in _CODAS]
    random.Random(20240101).shuffle(syll)
    return syll


_SYLL = _syllables()


def word(rank: int) -> str:
    """The synthetic word of Zipf rank ``rank`` (1-based)."""
    s = len(_SYLL)
    r = rank - 1
    if r < s:
        return _SYLL[r]
    r -= s
    return _SYLL[(r // s) % s] + _SYLL[r % s]


def _zipf_rank(rng: random.Random) -> int:
    """Zipf(1) rank in [1, N_WORD_RANKS): P(rank <= r) = ln r / ln N."""
    return int(N_WORD_RANKS ** rng.random())


def _zipf_cum(n: int) -> list[float]:
    return list(accumulate(1.0 / r for r in range(1, n + 1)))


class LongTailCorpus:
    """Generator for one (seed, n_pages) corpus; build once, call
    ``page(doc_id)`` for each id in ``range(n_pages)``."""

    def __init__(self, seed: int, n_pages: int, part: int = 0):
        if n_pages < 1:
            raise ValueError("n_pages must be >= 1")
        self.seed = seed
        self.n_pages = n_pages
        self.key = f"{seed}/{part}"
        self.part = part
        self.cjk = [chr(0x4E00 + 5 * i) for i in range(N_CJK_CHARS)]
        self._cjk_cum = _zipf_cum(len(self.cjk))
        self.n_hot = max(1, int(n_pages * HOT_FRAC))
        # size ranks: hot ids and the rest each get their own seeded
        # permutation, so both size histograms are the same for every seed
        self._size_rank = (
            _permutation(f"{self.key}:hot-sizes", self.n_hot)
            + _permutation(f"{self.key}:sizes", n_pages - self.n_hot))
        self._lang_rank = _permutation(f"{self.key}:langs", n_pages)

    def n_paras(self, doc_id: int) -> int:
        """Stratified log-normal paragraph count (hot host scaled)."""
        hot = doc_id < self.n_hot
        q = (self._size_rank[doc_id] + 0.5) / (
            self.n_hot if hot else self.n_pages - self.n_hot)
        z = _norm_ppf(q)
        n = min(MAX_PARAS, max(1, round(_MEDIAN_PARAS * math.exp(_SIGMA * z))))
        return n * HOT_SCALE if hot else n

    @staticmethod
    def _words(rng: random.Random, k: int) -> list[str]:
        return [word(_zipf_rank(rng)) for _ in range(k)]

    def _en_para(self, rng: random.Random) -> str:
        words = self._words(rng, rng.randint(25, 110))
        for i in range(7, len(words), 11):
            words[i] += ","
        return " ".join(words).capitalize() + "."

    def _zh_para(self, rng: random.Random) -> str:
        out = []
        for _ in range(rng.randint(2, 6)):
            out.extend(rng.choices(self.cjk, cum_weights=self._cjk_cum,
                                   k=rng.randint(8, 30)))
            out.append(rng.choice(_ZH_PUNCT))
        out[-1] = "。"
        return "".join(out)

    def page(self, doc_id: int) -> tuple[str, datetime, bytes, str, str]:
        rng = random.Random(f"{self.key}:page:{doc_id}")
        hot = doc_id < self.n_hot
        host = 0 if hot else 1 + int(rng.paretovariate(1.2)) % 4000
        url = (f"https://site{host:04d}.example.{rng.choice(_TLDS)}/"
               f"{rng.choice(('news', 'blog', 'docs', 'wiki', 'forum'))}/"
               f"{self.part}-{doc_id}")
        # exact language shares per corpus: 70% en, 20% zh, 10% mixed
        q = (self._lang_rank[doc_id] + 0.5) / self.n_pages
        lang = "en" if q < 0.7 else ("zh" if q < 0.9 else "mixed")
        ts = datetime(2024, 1, 1, tzinfo=timezone.utc) + timedelta(
            seconds=rng.randrange(730 * 86400))
        paras = []
        for i in range(self.n_paras(doc_id)):
            zh = lang == "zh" or (lang == "mixed" and i % 2 == 1)
            paras.append(self._zh_para(rng) if zh else self._en_para(rng))
        title = " ".join(self._words(rng, rng.randint(3, 7))).title()
        body = [f"<p>{p}</p>" for p in paras]
        if rng.random() < 0.15:
            rows = "".join(f"<tr><td>{word(_zipf_rank(rng))}</td>"
                           f"<td>{rng.randint(1, 99999)}</td></tr>"
                           for _ in range(rng.randint(3, 12)))
            body.insert(rng.randrange(len(body) + 1),
                        f"<table><tr><th>term</th><th>count</th></tr>"
                        f"{rows}</table>")
        nav = " ".join(f'<a href="/{w}">{w}</a>'
                       for w in map(word, rng.sample(range(1, 2000),
                                                     rng.randint(6, 18))))
        html = (f"<html><head><title>{title}</title></head><body>"
                f'<div class="nav">{nav}</div>'
                f'<div class="ad">Sponsored <a href="/ad">offer</a></div>'
                f'<div class="content">{"".join(body)}</div>'
                f'<div class="footer">Copyright site{host:04d} '
                f'<a href="/privacy">Privacy</a></div></body></html>')
        enc = "gbk" if lang == "zh" and rng.random() < 0.1 else "utf-8"
        return url, ts, html.encode(enc), "\n".join(paras), lang


def _permutation(key: str, n: int) -> list[int]:
    ranks = list(range(n))
    random.Random(key).shuffle(ranks)
    return ranks


def _norm_ppf(q: float) -> float:
    """Inverse standard-normal CDF (Acklam's rational approximation,
    relative error < 1.2e-9 — plenty for a size quantile)."""
    a = (-3.969683028665376e+01, 2.209460984245205e+02,
         -2.759285104469687e+02, 1.383577518672690e+02,
         -3.066479806614716e+01, 2.506628277459239e+00)
    b = (-5.447609879822406e+01, 1.615858368580409e+02,
         -1.556989798598866e+02, 6.680131188771972e+01,
         -1.328068155288572e+01)
    c = (-7.784894002430293e-03, -3.223964580411365e-01,
         -2.400758277161838e+00, -2.549732539343734e+00,
         4.374664141464968e+00, 2.938163982698783e+00)
    d = (7.784695709041462e-03, 3.224671290700398e-01,
         2.445134137142996e+00, 3.754408661907416e+00)
    lo = 0.02425
    if q < lo or q > 1 - lo:
        t = math.sqrt(-2 * math.log(q if q < lo else 1 - q))
        x = ((((((c[0] * t + c[1]) * t + c[2]) * t + c[3]) * t + c[4]) * t
              + c[5]) / ((((d[0] * t + d[1]) * t + d[2]) * t + d[3]) * t + 1))
        return x if q < lo else -x
    t = q - 0.5
    r = t * t
    return ((((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r
             + a[5]) * t / (((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r
                             + b[4]) * r + 1))


def write_parquet(path: str, seed: int, n_pages: int, part: int = 0,
                  ids: range | None = None) -> int:
    """Write pages ``ids`` (default: all) of the (seed, n_pages, part)
    corpus to one parquet file in crawl (id) order; returns the html bytes
    written."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    corpus = LongTailCorpus(seed, n_pages, part)
    rows = [corpus.page(i) for i in (ids if ids is not None
                                     else range(n_pages))]
    cols = list(zip(*rows))
    table = pa.table({
        "url": pa.array(cols[0], pa.string()),
        "warc_ts": pa.array(cols[1], pa.timestamp("us", tz="UTC")),
        "html": pa.array(cols[2], pa.binary()),
        "text": pa.array(cols[3], pa.string()),
        "lang": pa.array(cols[4], pa.string()),
    })
    pq.write_table(table, path, row_group_size=256)
    return sum(len(h) for h in cols[2])
