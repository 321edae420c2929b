"""Paper chunk template — section grouping by most-frequent title level.

Reference: ``rag/app/paper.py:186-208``.  After layout parsing produces
``sections = [(text, layoutno)]``, the chunker:

  1. elects the bullet taxonomy over the section texts
     (``bullets_category``, rag/nlp/__init__.py:205-224);
  2. computes each section's title level and the MOST FREQUENT title level
     (``title_frequency``, rag/nlp/__init__.py:227-248);
  3. assigns section-group ids: a new group starts at every section whose
     level <= most_level (and differs from its predecessor's level)
     (paper.py:190-196);
  4. merges contiguous same-group sections into one chunk joined by "\\n"
     (paper.py:198-207).

The DeepDOC path also pulls title/authors/abstract from the first 32 layout
boxes (paper.py:85-117); the plain path (paper.py:148-155) uses
``title=filename, authors="", abstract=""`` and feeds page texts straight
through — that is the model-free route implemented here, with the
title/abstract heuristics applied on text when headings are present.
"""

from __future__ import annotations

import re

from .hierarchy import bullets_category, title_frequency


def paper_merge(sections: list) -> list[str]:
    """Pivot-merge sections (reference paper.py:186-208).

    ``sections``: list of str or (text, layoutno) tuples.  Returns chunk
    texts; whitespace-squashing of each section text mirrors
    paper.py:71-72 (``re.sub(r"([\\t 　]|\\u3000){2,}", " ", text.strip())``).
    """
    if not sections:
        return []
    if isinstance(sections[0], str):
        sections = [(s, "") for s in sections]
    sections = [(re.sub(r"([\t 　]|　){2,}", " ", t.strip()), lo)
                for t, lo in sections if t and t.strip()]
    if not sections:
        return []

    bull = bullets_category([t for t, _ in sections])
    most_level, levels = title_frequency(bull, sections)

    sec_ids = []
    sid = 0
    for i, lvl in enumerate(levels):
        if lvl <= most_level and i > 0 and lvl != levels[i - 1]:
            sid += 1
        sec_ids.append(sid)

    chunks: list[str] = []
    last_sid = -2
    for (txt, _), sec_id in zip(sections, sec_ids):
        if sec_id == last_sid:
            if chunks:
                chunks[-1] += "\n" + txt
                continue
        chunks.append(txt)
        last_sid = sec_id
    return chunks
