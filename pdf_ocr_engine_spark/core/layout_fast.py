"""Vectorized layout kernel — byte-identical fast path of ``core/layout.py``.

Same algorithm as the reference port (``src/lib/ocr/builder.ts:22-122``; see
``layout.py`` for the semantics walkthrough), restructured for throughput:

* validity filter / geometry / the (centerY, x0) composite sort run as numpy
  array ops (``np.isfinite`` masks + stable ``np.lexsort`` — W1/F5/P3);
* the order-dependent greedy line clustering (W5 + A5) stays a scalar loop —
  it is sequential by definition — but runs over plain Python floats pulled
  out of the sorted arrays once (``.tolist()``), with no per-word tuple,
  NamedTuple, or lambda allocation;
* separator classification and the final concat (W4/W6/W7/W8) run per line
  over those floats.

Why this exists: the naive port allocates O(words) small objects per page,
which makes the hot stage allocator-bound — on a single socket that stops
scaling with cores long before arithmetic does (measured: 0.64 scaling
efficiency 8→32 cores allocator-bound vs ≥0.8 arithmetic-bound).  numpy
float64 arithmetic is the same IEEE-754 binary64 with the same rounding as
Python/JS floats, and ``.tolist()`` yields exact Python floats, so every
comparison and running mean evaluates bit-identically to ``layout.py`` —
``tests/test_layout_core.py`` fuzzes the two against each other.
"""

from __future__ import annotations

import numpy as np

from .layout import _JS_WS

__all__ = ["page_layout_fast"]


def page_layout_fast(
    texts: list[str], coords: np.ndarray, want_spans: bool = False,
) -> tuple[str, int, list[tuple] | None]:
    """Extracted text of one page, surviving word count, and optionally the
    positioned spans.

    ``texts``: raw word strings; ``coords``: float64 array (n, >=4) of
    ``x0, y0, x1, y1`` (column 4, confidence, is ignored — the reference's
    builder never reads it).  Returns ``(page_text, n_words, spans)``;
    ``spans`` is ``None`` unless ``want_spans``, else
    ``(raw_text, x0, y0, x1, y1)`` per surviving word in reading
    order — the reference's ``CopyFriendlyWord`` sequence
    (``builder.ts:4-8,113-121``) minus the separator prefix, which is
    recoverable from the page text.  Span assembly allocates per word, so it
    is opt-in (the text-only hot path stays allocation-free)."""
    n = len(texts)
    if n == 0:
        return "", 0, [] if want_spans else None

    c = coords[:, :4]
    # F5 validity: finite coords, positive box — vectorized; JS-trim-nonempty
    # per text (tiny Python loop, no allocation beyond the bool array).
    finite = np.isfinite(c).all(axis=1)
    positive = (c[:, 2] > c[:, 0]) & (c[:, 3] > c[:, 1])
    mask = finite & positive
    for i in range(n):
        if mask[i] and (texts[i] is None or not texts[i].strip(_JS_WS)):
            mask[i] = False
    if not mask.any():
        return "", 0, [] if want_spans else None

    kept = np.flatnonzero(mask)
    x0 = c[kept, 0]
    cy = (c[kept, 1] + c[kept, 3]) / 2.0
    h = c[kept, 3] - c[kept, 1]

    # W1: stable composite sort by (centerY, x0) — lexsort's last key is
    # primary; equal keys keep input order, matching the stable JS sort.
    order = np.lexsort((x0, cy))
    kept = kept[order]
    xs0 = c[kept, 0].tolist()
    xs1 = c[kept, 2].tolist()
    cys = cy[order].tolist()
    hs = h[order].tolist()
    m = len(kept)
    kept_list = kept.tolist()

    # W5 + A5: greedy clustering, order-dependent running means
    # (builder.ts:45-77).  line = [center_y, avg_height, member_indices]
    line_cy: list[float] = []
    line_h: list[float] = []
    line_members: list[list[int]] = []
    for i in range(m):
        c_center = cys[i]
        c_height = hs[i]
        best = -1
        best_distance = float("inf")
        for j in range(len(line_cy)):
            distance = c_center - line_cy[j]
            if distance < 0.0:
                distance = -distance
            tol = min(c_height, line_h[j]) * 0.6
            if tol < 2.0:
                tol = 2.0
            # strict '<': earliest line wins exact ties (builder.ts:50-62)
            if distance <= tol and distance < best_distance:
                best_distance = distance
                best = j
        if best < 0:
            line_cy.append(c_center)
            line_h.append(c_height)
            line_members.append([i])
        else:
            members = line_members[best]
            members.append(i)
            count = len(members)
            # exact op order of builder.ts:74-76
            line_cy[best] = (line_cy[best] * (count - 1) + c_center) / count
            line_h[best] = (line_h[best] * (count - 1) + c_height) / count

    # W2: stable sort of lines by final centroid (builder.ts:79)
    line_order = sorted(range(len(line_cy)), key=line_cy.__getitem__)

    parts: list[str] = []
    spans: list[tuple] | None = [] if want_spans else None
    ys0 = c[kept, 1].tolist() if want_spans else None
    ys1 = c[kept, 3].tolist() if want_spans else None
    n_words = 0
    for line_index, li in enumerate(line_order):
        # W3: in-line stable sort by x0 (builder.ts:84)
        members = sorted(line_members[li], key=xs0.__getitem__)
        avg_h = line_h[li]

        # A4: left-fold mean of word widths (builder.ts:86-93)
        total = 0.0
        for i in members:
            total = total + (xs1[i] - xs0[i])
        avg_word_width = total / len(members)
        t125 = avg_word_width * 1.25
        t15 = avg_h * 1.5
        table_gap_threshold = t125 if t125 > t15 else t15
        space_threshold = avg_h * 0.15

        # W4 + W6 + W7 + W8 (builder.ts:99-121)
        prev_x1 = 0.0
        for k, i in enumerate(members):
            if line_index > 0 and k == 0:
                parts.append("\n")
            elif k > 0:
                gap = xs0[i] - prev_x1
                if gap < 0.0:
                    gap = 0.0
                if gap > space_threshold:
                    parts.append("\t" if gap >= table_gap_threshold else " ")
            parts.append(texts[kept_list[i]])
            if want_spans:
                spans.append((texts[kept_list[i]], xs0[i], ys0[i],
                              xs1[i], ys1[i]))
            prev_x1 = xs1[i]
        n_words += len(members)

    return "".join(parts), n_words, spans
