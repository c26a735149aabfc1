"""Span geometry — the reference's coordinate transforms as column exprs.

The reference draws each OCR word back onto the PDF page
(``src/lib/ocr/builder.ts:124-204``); these are its C1-C3 scalar transforms
(SURVEY.md §2.7) expressed as pure Catalyst column arithmetic over exploded
span rows — whole-stage codegen, no Python:

* C1 scale factors ``scaleX = pdf_w/img_w``, ``scaleY = pdf_h/img_h``
  (``builder.ts:155-156``) are the ``sx``/``sy`` column arguments;
* C2 y-axis flip + baseline offset: image coords are top-origin, PDF
  bottom-origin, and ``drawText`` anchors at the baseline ≈ 20% above the
  bbox bottom: ``y = pdf_h - y1*scaleY + 0.2*wordH`` (``builder.ts:165-168``;
  rationale in the reference's BUGFIXES.md:119-146);
* C3 font-size fit: scale 12pt so the text fills the box width, cap at 90%
  of box height; the *unclamped* fitted size gates drawing (``>1``,
  builder.ts:189) and the render size is ``max(fitted, 4)``
  (builder.ts:193) — clamp strictly after the gate, the reference order.
  The 12pt text width uses the real Helvetica AFM advance table
  (:func:`helvetica_width_at_12`, metrics in ``functions/afm.py``),
  matching ``font.widthOfTextAtSize`` (builder.ts:171).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .afm import FALLBACK_UNITS, HELVETICA_WIDTHS


def pdf_y(y0: Column, y1: Column, sy: Column, pdf_h: Column) -> Column:
    """C2: y-flip + 20% baseline offset (``builder.ts:165-168``)."""
    word_h = (y1 - y0) * sy
    return pdf_h - (y1 * sy) + word_h * 0.2


# 12-pt advance lookup, one literal per Latin-1 code point (see afm.py).
_AFM_UNITS = F.array(*[F.lit(w) for w in HELVETICA_WIDTHS])


def helvetica_width_at_12(raw: Column) -> Column:
    """Real font metric: Helvetica AFM advance of ``raw`` at 12 pt
    (``font.widthOfTextAtSize(word.rawText, 12)``, builder.ts:171).

    Pure Catalyst: split to code points, fold integer AFM units
    (order-independent exact sum), then one float scale — bit-identical to
    ``afm.text_width_at(raw, 12)`` and to the DuckDB oracle's expression.
    ``F.get`` (0-indexed, NULL out of range) keeps code points >= 256 on
    the documented FALLBACK_UNITS path without tripping ANSI bounds checks.
    """
    units = F.aggregate(
        F.split(raw, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: acc + F.coalesce(F.get(_AFM_UNITS, F.ascii(ch)),
                                         F.lit(FALLBACK_UNITS)),
    )
    return units * 12.0 / 1000.0


def font_size_fit(x0: Column, x1: Column, y0: Column, y1: Column,
                  sx: Column, sy: Column,
                  text_width_at_12: Column) -> Column:
    """C3: the *unclamped* fitted size — 12pt scaled to fill the box width,
    capped at 0.9*height (``builder.ts:183-186``).  Returns NULL where the
    reference skips the word entirely (non-positive text width / box
    dimensions — F9 draw-eligibility, builder.ts:174-181).  The reference
    gates drawing on this value (``fontSize > 1``) and only then clamps to
    the 4-pt render floor — apply :func:`render_font_size` at render time,
    never before :func:`drawable`."""
    word_w = (x1 - x0) * sx
    word_h = (y1 - y0) * sy
    fitted = F.least((word_w / text_width_at_12) * 12.0, word_h * 0.9)
    eligible = (text_width_at_12 > 0) & (word_w > 0) & (word_h > 0)
    return F.when(eligible, fitted)


def render_font_size(fitted: Column) -> Column:
    """C3 render floor: ``max(fontSize, 4)`` (``builder.ts:193``), applied
    to spans that already passed :func:`drawable` — clamping before the
    gate would make the >1 check dead code (the round-1 bug)."""
    return F.greatest(fitted, F.lit(4.0))


def drawable(font_size: Column, raw: Column) -> Column:
    """F9: draw iff the *unclamped* fitted size ``> 1`` and the raw text is
    non-blank (``builder.ts:189``)."""
    return font_size.isNotNull() & (font_size > 1.0) & (F.trim(raw) != "")
