"""Tests of the benchmark's long-tail page generator (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import hashlib
import math
import os
import re
import statistics
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

import longtail  # noqa: E402
from longtail import LongTailCorpus  # noqa: E402

N = 400


def _digest(corpus, ids):
    h = hashlib.sha256()
    for i in ids:
        url, ts, html, text, lang = corpus.page(i)
        h.update(f"{url}|{ts.isoformat()}|{lang}|".encode() + html)
    return h.hexdigest()


def test_same_seed_same_bytes():
    a, b = LongTailCorpus(7, N), LongTailCorpus(7, N)
    assert _digest(a, range(0, N, 7)) == _digest(b, range(0, N, 7))


def test_other_seed_or_part_other_bytes():
    base = _digest(LongTailCorpus(7, N), range(0, N, 7))
    assert _digest(LongTailCorpus(8, N), range(0, N, 7)) != base
    assert _digest(LongTailCorpus(7, N, part=1), range(0, N, 7)) != base


def test_parquet_file_is_deterministic(tmp_path):
    import pyarrow.parquet as pq
    p1, p2 = tmp_path / "a.parquet", tmp_path / "b.parquet"
    assert longtail.write_parquet(str(p1), 3, 50) == \
        longtail.write_parquet(str(p2), 3, 50)
    t1, t2 = pq.read_table(p1), pq.read_table(p2)
    assert t1.equals(t2)
    assert t1.column_names == ["url", "warc_ts", "html", "text", "lang"]
    assert t1.num_rows == 50


def test_vocabulary_has_over_100k_types_drawn_zipf_1():
    # the support: at least 100k distinct word types
    assert len({longtail.word(r) for r in range(1, 150_001)}) >= 100_000
    corpus = LongTailCorpus(11, 1000)
    words = Counter()
    for i in range(1000):
        _, _, _, text, lang = corpus.page(i)
        if lang != "zh":
            words.update(re.findall(r"[a-z]+", text.lower()))
    total = sum(words.values())
    # a long tail: most types are seen once, and they are many
    assert len(words) >= 100_000
    singletons = sum(1 for c in words.values() if c == 1)
    assert singletons / len(words) > 0.5
    # Zipf(1): log-frequency falls ~1 per log-rank over the head
    freq = sorted(words.values(), reverse=True)
    xs = [math.log(r) for r in range(10, 1000)]
    ys = [math.log(freq[r - 1]) for r in range(10, 1000)]
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    slope = (sum((x - mx) * (y - my) for x, y in zip(xs, ys))
             / sum((x - mx) ** 2 for x in xs))
    assert -1.3 < slope < -0.7, slope
    assert total > 100_000


def test_chinese_text_spans_thousands_of_characters():
    corpus = LongTailCorpus(5, 1000)
    chars = Counter()
    for i in range(1000):
        text = corpus.page(i)[3]
        chars.update(c for c in text if "一" <= c <= "鿿")
    assert len(chars) >= 2000


def test_heavy_tailed_sizes_identical_across_seeds():
    a, b = LongTailCorpus(1, 2000), LongTailCorpus(2, 2000)
    paras_a = [a.n_paras(i) for i in range(2000)]
    paras_b = [b.n_paras(i) for i in range(2000)]
    assert paras_a != paras_b                  # which page is big moves
    assert sorted(paras_a) == sorted(paras_b)  # the histogram does not
    normal = sorted(paras_a[a.n_hot:])
    med = normal[len(normal) // 2]
    assert normal[int(len(normal) * 0.99)] >= 5 * med
    assert normal[-1] >= 10 * med


def test_language_shares_are_exact():
    corpus = LongTailCorpus(9, 1000)
    langs = Counter(corpus.page(i)[4] for i in range(1000))
    assert langs == {"en": 700, "zh": 200, "mixed": 100}


def test_hot_host_block_leads_the_crawl_order():
    corpus = LongTailCorpus(4, 1000)
    hot = [corpus.page(i) for i in range(corpus.n_hot)]
    assert corpus.n_hot == 20
    assert all("//site0000." in p[0] for p in hot)
    assert not any("//site0000." in corpus.page(i)[0]
                   for i in range(corpus.n_hot, 200))
    cold = sorted(len(corpus.page(i)[2]) for i in range(100, 300))
    assert statistics.median(len(p[2]) for p in hot) > \
        3 * cold[len(cold) // 2]
