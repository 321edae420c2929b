"""Box-geometry helpers for the PDF layout pipeline.

Faithful re-implementations of ``deepdoc/vision/recognizer.py:55-281``
(threshold-stable reading-order sorts, overlap area, layout dedupe,
binary-search overlap lookup).  Boxes are plain dicts with
``x0, x1, top, bottom`` (+ ``text``, ``page_number``, ``layoutno``, …).

Pure Python/numpy; used inside per-document Arrow batches only.
"""

from __future__ import annotations

from functools import cmp_to_key


def sort_Y_firstly(arr, threashold):
    """Stable y-then-x sort: y-diffs under the threshold tie-break on x."""
    def cmp(c1, c2):
        diff = c1["top"] - c2["top"]
        if abs(diff) < threashold:
            diff = c1["x0"] - c2["x0"]
        return diff
    return sorted(arr, key=cmp_to_key(cmp))


def sort_X_firstly(arr, threashold):
    def cmp(c1, c2):
        diff = c1["x0"] - c2["x0"]
        if abs(diff) < threashold:
            diff = c1["top"] - c2["top"]
        return diff
    return sorted(arr, key=cmp_to_key(cmp))


def sort_C_firstly(arr, thr=0):
    """Column-aware: X-first sort, then bubble boxes by their C (column) tag."""
    arr = sort_X_firstly(arr, thr)
    for i in range(len(arr) - 1):
        for j in range(i, -1, -1):
            if "C" not in arr[j] or "C" not in arr[j + 1]:
                continue
            if arr[j + 1]["C"] < arr[j]["C"] \
                    or (arr[j + 1]["C"] == arr[j]["C"]
                        and arr[j + 1]["top"] < arr[j]["top"]):
                arr[j], arr[j + 1] = arr[j + 1], arr[j]
    return arr


def sort_R_firstly(arr, thr=0):
    arr = sort_Y_firstly(arr, thr)
    for i in range(len(arr) - 1):
        for j in range(i, -1, -1):
            if "R" not in arr[j] or "R" not in arr[j + 1]:
                continue
            if arr[j + 1]["R"] < arr[j]["R"] \
                    or (arr[j + 1]["R"] == arr[j]["R"]
                        and arr[j + 1]["x0"] < arr[j]["x0"]):
                arr[j], arr[j + 1] = arr[j + 1], arr[j]
    return arr


def overlapped_area(a, b, ratio=True):
    """Overlap area of b within a; ratio=True → fraction of a's area."""
    tp, btm, x0, x1 = a["top"], a["bottom"], a["x0"], a["x1"]
    if b["x0"] > x1 or b["x1"] < x0:
        return 0
    if b["bottom"] < tp or b["top"] > btm:
        return 0
    x0_ = max(b["x0"], x0)
    x1_ = min(b["x1"], x1)
    tp_ = max(b["top"], tp)
    btm_ = min(b["bottom"], btm)
    ov = (btm_ - tp_) * (x1_ - x0_) if x1 - x0 != 0 and btm - tp != 0 else 0
    if ov > 0 and ratio:
        ov /= (x1 - x0) * (btm - tp)
    return ov


def layouts_cleanup(boxes, layouts, far=2, thr=0.7):
    """Drop near-duplicate overlapping layout regions, keeping the higher
    score (or the one covering more box area)."""
    def not_overlapped(a, b):
        return any([a["x1"] < b["x0"], a["x0"] > b["x1"],
                    a["bottom"] < b["top"], a["top"] > b["bottom"]])

    i = 0
    while i + 1 < len(layouts):
        j = i + 1
        while j < min(i + far, len(layouts)) \
                and (layouts[i].get("type", "") != layouts[j].get("type", "")
                     or not_overlapped(layouts[i], layouts[j])):
            j += 1
        if j >= min(i + far, len(layouts)):
            i += 1
            continue
        if overlapped_area(layouts[i], layouts[j]) < thr \
                and overlapped_area(layouts[j], layouts[i]) < thr:
            i += 1
            continue
        if layouts[i].get("score") and layouts[j].get("score"):
            if layouts[i]["score"] > layouts[j]["score"]:
                layouts.pop(j)
            else:
                layouts.pop(i)
            continue
        area_i, area_j = 0, 0
        for b in boxes:
            if not not_overlapped(b, layouts[i]):
                area_i += overlapped_area(b, layouts[i], False)
            if not not_overlapped(b, layouts[j]):
                area_j += overlapped_area(b, layouts[j], False)
        if area_i > area_j:
            layouts.pop(j)
        else:
            layouts.pop(i)
    return layouts


def find_overlapped(box, boxes_sorted_by_y, naive=False):
    """Index of the max-overlap box; binary-search narrowed unless naive."""
    if not boxes_sorted_by_y:
        return None
    bxs = boxes_sorted_by_y
    s, e, ii = 0, len(bxs), 0
    while s < e and not naive:
        ii = (e + s) // 2
        pv = bxs[ii]
        if box["bottom"] < pv["top"]:
            e = ii
            continue
        if box["top"] > pv["bottom"]:
            s = ii + 1
            continue
        break
    while s < ii:
        if box["top"] > bxs[s]["bottom"]:
            s += 1
        break
    while e - 1 > ii:
        if box["bottom"] < bxs[e - 1]["top"]:
            e -= 1
        break
    max_i, max_ov = None, 0
    for i in range(s, e):
        ov = overlapped_area(bxs[i], box)
        if ov <= max_ov:
            continue
        max_i, max_ov = i, ov
    return max_i


def find_overlapped_with_threashold(box, boxes, thr=0.3):
    if not boxes:
        return None
    max_i, max_ov, _max_ov = None, thr, 0
    for i in range(len(boxes)):
        ov = overlapped_area(box, boxes[i])
        _ov = overlapped_area(boxes[i], box)
        if (ov, _ov) < (max_ov, _max_ov):
            continue
        max_i, max_ov, _max_ov = i, ov, _ov
    return max_i
