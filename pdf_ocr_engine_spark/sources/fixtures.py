"""Deterministic synthetic fixtures (seed=42) — FIXTURES.md made executable.

Two generators:

* :func:`make_pages_rows` — the self-contained `pages` fixture table
  (BASELINE.json ``input_hint`` shape) with Zipf-skewed hosts and every code
  path from FIXTURES.md §1: HTML boilerplate cases, multi-page/multi-column/
  table PDF word-box docs, hyphenation docs, has_text skip pages, and the
  edge/error rows (junk magic, oversize, 0-page, >maxPages, page mismatch,
  invalid lang).

* :func:`pages_from_documents` — wraps the driver testdata ``documents``
  table (``/root/testdata/sf*/documents.parquet``) into word-box PDF payloads
  with a fixed layout grammar, so the *whole* Spark pipeline (sniff → decode →
  layout reconstruction → assemble) has a closed-form SQL oracle: the
  extracted text must equal the whitespace-normalized source text re-wrapped
  at :data:`WORDS_PER_LINE` words per line (see ``oracle_sql`` in
  ``__spark_entry__.py``).

Layout grammar (all exact small integers — float64-exact):
  char width 6, word gap 4, line height 12, line pitch 20, left margin 10.
  Within a line: gap 4 > 0.15*12=1.8 (space separator) and
  4 < max(1.25*avgWordWidth>=7.5, 1.5*12=18) (never a tab).
  Between lines: centers 20 apart > tolerance max(2, 0.6*12=7.2) (new line).
  Hence extraction emits exactly ``" ".join(words)`` per line and ``"\\n"``
  between lines — the invertible round-trip the oracle recomputes.
"""

from __future__ import annotations

import datetime as dt
import random
from typing import Any

SEED = 42
WORDS_PER_LINE = 12

CHAR_W = 6.0
WORD_GAP = 4.0
LINE_H = 12.0
LINE_PITCH = 20.0
MARGIN = 10.0


def layout_words(tokens: list[str], words_per_line: int = WORDS_PER_LINE,
                 ) -> list[tuple[str, float, float, float, float]]:
    """Place tokens on the fixed grid; returns (text, x0, y0, x1, y1)."""
    out = []
    for i, tok in enumerate(tokens):
        line, col = divmod(i, words_per_line)
        y0 = MARGIN + line * LINE_PITCH
        # x position: left margin + widths/gaps of previous words in the line
        x0 = MARGIN
        for prev in tokens[line * words_per_line: line * words_per_line + col]:
            x0 += CHAR_W * len(prev) + WORD_GAP
        out.append((tok, x0, y0, x0 + CHAR_W * len(tok), y0 + LINE_H))
    return out


def expected_text(tokens: list[str], words_per_line: int = WORDS_PER_LINE) -> str:
    """Closed-form golden for :func:`layout_words` extraction output."""
    lines = [
        " ".join(tokens[i:i + words_per_line])
        for i in range(0, len(tokens), words_per_line)
    ]
    return "\n".join(lines)


def text_to_pdf_payload(text: str, words_per_line: int = WORDS_PER_LINE) -> bytes:
    """One-page word-box PDF whose extraction equals :func:`expected_text`."""
    from ..encoders.pdf import encode_pdf

    tokens = text.split()
    return encode_pdf([{
        "page_no": 1, "width": 612.0, "height": 792.0, "has_text": False,
        "words": layout_words(tokens, words_per_line),
    }])


def _paginate(text: str, words_per_line: int, words_per_page: int | None,
              key: str = "spans") -> list[dict]:
    """Shared tokenize → grid-layout → paginate step for the span-based
    PDF fixture writers and the scans (``key="words"``) — one
    implementation so the writers provably share one pagination (and
    therefore one extraction oracle)."""
    tokens = text.split()
    per_page = words_per_page or max(len(tokens), 1)
    return [
        {"width": 612.0, "height": 792.0,
         key: layout_words(tokens[i:i + per_page], words_per_line)}
        for i in range(0, len(tokens), per_page)
    ] or [{"width": 612.0, "height": 792.0, key: []}]


def text_to_real_pdf_payload(text: str,
                             words_per_line: int = WORDS_PER_LINE,
                             words_per_page: int | None = None) -> bytes:
    """*Genuine* PDF 1.4 (``core/pdfwrite``) whose text layer sits on the
    same grid — re-extraction via the real content-stream parser
    (``core/pdfreal``) must reproduce the token stream (writer and parser
    oracle each other).  With ``words_per_page`` the tokens paginate, so
    the round-trip also proves page-tree traversal ORDER (a shuffled Kids
    array would reorder the token stream)."""
    from ..core.pdfwrite import build_searchable_pdf

    return build_searchable_pdf(
        _paginate(text, words_per_line, words_per_page))


def text_to_truetype_pdf_payload(text: str,
                                 words_per_line: int = WORDS_PER_LINE,
                                 words_per_page: int | None = None,
                                 variant: str = "cid") -> bytes:
    """Genuine PDF whose text layer uses a subsetted EMBEDDED TRUETYPE
    with NO /ToUnicode and deliberately scrambled codes — extraction must
    recover glyph meaning from the font program's cmap/post tables
    (``core/sfnt`` + ``core/pdfreal._truetype_recovery``; the reference
    gets this from pdf.js, ``extractor.ts:62-103``).  Paginated exactly
    like :func:`text_to_real_pdf_payload` so both share one oracle."""
    from ..encoders.pdf import build_truetype_pdf

    return build_truetype_pdf(
        _paginate(text, words_per_line, words_per_page),
        variant=variant)


def text_to_scanned_pdf_payload(text: str,
                                words_per_line: int = WORDS_PER_LINE,
                                words_per_page: int | None = None) -> bytes:
    """Genuine *image-only* PDF (``encoders/pdf``): pages carry no text
    operators, only an embedded raster of the same word grid — re-extraction
    must go through the OCR tier (has-text detect → image pull → recognize →
    layout) and reproduce the token stream.  The scanned twin of
    :func:`text_to_real_pdf_payload`, paginated identically so both share
    one oracle."""
    from ..encoders.pdf import build_scanned_pdf

    return build_scanned_pdf(
        _paginate(text, words_per_line, words_per_page, "words"))


def text_to_pixel_scanned_pdf_payload(text: str,
                                      words_per_line: int = WORDS_PER_LINE,
                                      words_per_page: int | None = None,
                                      codec: str = "flate",
                                      ) -> bytes:
    """Image-only PDF whose pages embed *genuine grayscale rasters* of the
    word grid (5×7 bitmap font) inside a foreign document structure —
    extraction must run real pixel OCR (``core/rasterfont``), not the
    FAKERAST container decode.  ``codec="jpeg"`` embeds the raster as a
    baseline JPEG behind **DCTDecode** (what real scanners emit), so the
    stdlib JPEG decoder sits in the OCR path too.  Paginated identically
    to :func:`text_to_scanned_pdf_payload` so all scanned flavors share
    one oracle; page size is computed from the ink extent (the fixed
    612-pt sheet can overflow: 12 max-width corpus words span 630 pt)."""
    from ..encoders.pdf import build_pixel_scanned_pdf

    pages = _paginate(text, words_per_line, words_per_page, "words")
    for page in pages:
        words = page["words"]
        page["width"] = max((x1 for *_, x1, _ in words), default=602.0) + MARGIN
        page["height"] = max((y1 for *_, y1 in words), default=782.0) + MARGIN
    return build_pixel_scanned_pdf(pages, codec=codec)


# --------------------------------------------------------------------------
# Self-contained fixture corpus (FIXTURES.md §1)
# --------------------------------------------------------------------------

_WORDS = ("the quick brown fox jumps over lazy dog lorem ipsum dolor sit amet "
          "consectetur adipiscing elit sed do eiusmod tempor incididunt labore "
          "dolore magna aliqua enim minim veniam quis nostrud").split()


def _host(rng: random.Random, n_hosts: int = 50, zipf_a: float = 1.6) -> str:
    """Zipf-skewed host choice — a few hosts own most rows (exercises the
    host-prefix salting path, BASELINE.json north_rule)."""
    # deterministic inverse-CDF sampling of a truncated zipf
    weights = [1.0 / (i + 1) ** zipf_a for i in range(n_hosts)]
    total = sum(weights)
    r = rng.random() * total
    acc = 0.0
    for i, w in enumerate(weights):
        acc += w
        if r <= acc:
            return f"host{i:03d}.example"
    return f"host{n_hosts - 1:03d}.example"


def _para(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _html_doc(rng: random.Random) -> tuple[bytes, str]:
    """Boilerplate-wrapped HTML document + its golden main text."""
    heading = _para(rng, 3).title()
    p1 = _para(rng, rng.randint(8, 20))
    p2 = _para(rng, rng.randint(8, 20))
    golden = f"{heading}\n\n{p1}\n\n{p2}"
    html = (
        "<!DOCTYPE html><html><head><title>t</title><style>.x{}</style></head>"
        "<body><nav><a href='/'>Home</a> <a href='/a'>About</a> "
        "<a href='/b'>Contact</a></nav>"
        "<header><div>site banner chrome</div></header>"
        f"<article><h2>{heading}</h2><p>{p1}</p><p>{p2}</p></article>"
        "<aside><p><a href='/x'>related link one</a> <a href='/y'>related "
        "link two</a></p></aside>"
        "<footer>copyright footer boilerplate legal text strip</footer>"
        "</body></html>"
    )
    return html.encode("utf-8"), golden


def _pdf_doc(rng: random.Random) -> tuple[bytes, str, str]:
    """Multi-page word-box PDF (grid layout) + golden text; some pages
    carry has_text=True and contribute empty segments."""
    from ..encoders.pdf import encode_pdf

    n_pages = rng.randint(1, 3)
    pages, segs = [], []
    for p in range(n_pages):
        has_text = rng.random() < 0.2
        tokens = _para(rng, rng.randint(5, 40)).split()
        pages.append({
            "page_no": p + 1, "width": 612.0, "height": 792.0,
            "has_text": has_text,
            "words": layout_words(tokens) if not has_text else [],
        })
        segs.append("" if has_text else expected_text(tokens))
    # PAGE_SEP joins ALL page segments, including skipped (has_text) ones;
    # status is 'empty' when no segment carries text (extract_doc semantics).
    return encode_pdf(pages), "\f".join(segs), ("ok" if any(segs) else "empty")


def _table_pdf() -> tuple[bytes, str]:
    """The reference's own table-gap golden (builder.test.ts:20-40)."""
    from ..encoders.pdf import encode_pdf

    words = [("Qty", 180, 10, 220, 22), ("Item", 10, 10, 60, 22),
             ("Price", 320, 10, 370, 22), ("2", 190, 34, 205, 46),
             ("$3.00", 320, 34, 380, 46), ("Apple", 10, 34, 70, 46)]
    payload = encode_pdf([{"page_no": 1, "width": 612.0, "height": 792.0,
                           "has_text": False, "words": words}])
    return payload, "Item\tQty\tPrice\nApple\t2\t$3.00"


def _hyphen_pdf() -> tuple[bytes, str]:
    """Two-line doc with a soft line-break hyphen (north_star hyphenation)."""
    from ..encoders.pdf import encode_pdf

    words = [("text", 10, 10, 34, 22), ("exam-", 40, 10, 76, 22),
             ("ple", 10, 30, 28, 42), ("more", 34, 30, 58, 42)]
    payload = encode_pdf([{"page_no": 1, "width": 612.0, "height": 792.0,
                           "has_text": False, "words": words}])
    return payload, "text exam-\nple more"  # raw; hyphen-repair op fuses it


def make_pages_rows(n_docs: int = 200, seed: int = SEED) -> list[dict[str, Any]]:
    """The `pages` fixture corpus. Deterministic in (n_docs, seed)."""
    from ..encoders.pdf import encode_pdf

    rng = random.Random(seed)
    t0 = dt.datetime(2025, 1, 1)
    rows: list[dict[str, Any]] = []

    def add(url_path: str, html: bytes, lang: str, golden: str | None,
            golden_status: str) -> None:
        host = _host(rng)
        rows.append({
            "url": f"https://{host}/{url_path}",
            "warc_ts": t0 + dt.timedelta(minutes=len(rows) * 7 % 525600),
            "html": html, "text": "", "lang": lang,
            "golden_text": golden, "golden_status": golden_status,
        })

    # pinned reference-golden docs
    payload, golden = _table_pdf()
    add("pinned/table.pdf", payload, "eng", golden, "ok")
    payload, golden = _hyphen_pdf()
    add("pinned/hyphen.pdf", payload, "eng", golden, "ok")

    # edge/error rows (FIXTURES.md §1 kind 3)
    add("edge/junk.bin", b"\x89PNG\r\n\x1a\nnotadoc", "eng", None, "unsupported")
    add("edge/zero_pages.pdf", encode_pdf([]), "eng", None, "no_pages")
    add("edge/too_many.pdf",
        encode_pdf([{"page_no": i + 1, "words": []} for i in range(201)]),
        "eng", None, "too_many_pages")
    add("edge/mismatch.pdf",
        encode_pdf([{"page_no": 1, "words": layout_words(["x"])}], page_count=2),
        "eng", None, "page_mismatch")
    add("edge/bad_lang.pdf", text_to_pdf_payload("some words here"),
        "english", None, "invalid_lang")
    add("edge/corrupt.pdf", b"%PDF-1.7\n%WBOX1\n{broken\n%%EOF", "eng",
        None, "decode_error")
    add("edge/all_text.pdf",
        encode_pdf([{"page_no": 1, "has_text": True, "words": []}]),
        "eng", "", "empty")

    # bulk corpus
    for i in range(n_docs - len(rows)):
        kind = rng.random()
        if kind < 0.45:
            html, golden = _html_doc(rng)
            add(f"html/doc{i:05d}.html", html, "eng", golden, "ok")
        else:
            payload, golden, status = _pdf_doc(rng)
            lang = rng.choice(["eng", "eng", "eng", "eng+fra", "deu"])
            add(f"pdf/doc{i:05d}.pdf", payload, lang, golden, status)
    return rows


def write_pages_parquet(path: str, n_docs: int = 200, seed: int = SEED) -> str:
    """Write the fixture corpus as parquet via pyarrow (no Spark needed).

    The golden columns live in a sibling ``<path>_golden`` file, keeping the
    pages table exactly input_hint-shaped.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = make_pages_rows(n_docs, seed)
    pages = pa.table({
        "url": [r["url"] for r in rows],
        "warc_ts": pa.array([r["warc_ts"] for r in rows],
                            type=pa.timestamp("us")),
        "html": pa.array([r["html"] for r in rows], type=pa.binary()),
        "text": [r["text"] for r in rows],
        "lang": [r["lang"] for r in rows],
    })
    golden = pa.table({
        "url": [r["url"] for r in rows],
        "golden_text": [r["golden_text"] for r in rows],
        "golden_status": [r["golden_status"] for r in rows],
    })
    pq.write_table(pages, path)
    pq.write_table(golden, path.replace(".parquet", "_golden.parquet"))
    return path


def text_to_encrypted_pdf_payload(text: str, scheme: str = "rc4-128",
                                  words_per_line: int = WORDS_PER_LINE,
                                  words_per_page: int | None = None) -> bytes:
    """Encrypted twin of :func:`text_to_real_pdf_payload`: the same genuine
    PDF re-written by ``encoders/pdf.encrypt_pdf`` with an empty user
    password — re-extraction must transparently decrypt (RC4 V1/V2 or
    AESV2) and reproduce the token stream."""
    from ..encoders.pdf import encrypt_pdf

    return encrypt_pdf(
        text_to_real_pdf_payload(text, words_per_line, words_per_page),
        scheme)
