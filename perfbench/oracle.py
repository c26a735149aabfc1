"""Per-url correctness oracle.

The planted answer for every url is written by the corpus generator next
to the input table (``oracle.parquet``):

* PDF kinds: ``sources.fixtures.expected_text`` per page, pages joined by
  ``PAGE_SEP`` where the payload paginates (``REAL_PDF_WORDS_PER_PAGE``);
* generated HTML: the planted article text;
* junk: the planted status, with no text;
* a truncated PDF: ``TRUNCATED``, with the text of the whole document.

A planted text of ``None`` means no text: the output's must be ``None`` or
empty.  A url fails when it is missing, appears more than once, or its
status or text differs from the planted one.
"""

from __future__ import annotations

import collections

#: planted status of a truncated PDF.  ``core/pdfreal.py`` parses in
#: recovery mode and keeps every complete object, so the outcome depends on
#: where the cut lands.  Either no page is readable and the status is one
#: of ``TRUNCATED_DEAD`` with no text (``tests/test_pdfreal.py::
#: test_truncated_is_decode_error``: a cut inside a stream is
#: ``decode_error``, a cut between a content dictionary and its ``stream``
#: keyword reads the page as textless, ``empty``), or the leading pages
#: are intact and the status is ``ok`` with exactly their text, each later
#: page that survives in the page tree adding an empty page
#: (``test_truncated_trailing_object_recovered``).
TRUNCATED = "truncated"
TRUNCATED_DEAD = ("decode_error", "no_pages", "empty")


def load(corpus_dir: str) -> dict[str, tuple[str, str | None]]:
    import pyarrow.parquet as pq

    t = pq.read_table(f"{corpus_dir}/oracle.parquet",
                      columns=["url", "status", "text"]).to_pydict()
    return {u: (s, x) for u, s, x in zip(t["url"], t["status"], t["text"])}


def check(urls: list[str], statuses: list[str], texts: list[str | None],
          planted: dict[str, tuple[str, str | None]]
          ) -> list[tuple[str, str]]:
    """``(url, reason)`` for every url that fails, in url order."""
    seen = collections.Counter(urls)
    bad: dict[str, str] = {}
    for u, s, x in zip(urls, statuses, texts):
        if u not in planted:
            bad[u] = "not in the input"
        elif seen[u] > 1:
            bad[u] = f"emitted {seen[u]} times"
        elif planted[u][0] == TRUNCATED:
            why = _truncated(s, x, planted[u][1])
            if why:
                bad[u] = why
        elif s != planted[u][0]:
            bad[u] = f"status {s!r}, planted {planted[u][0]!r}"
        elif planted[u][1] is None:
            if x:
                bad[u] = _first_diff(x, None)
        elif x != planted[u][1]:
            bad[u] = _first_diff(x, planted[u][1])
    for u in planted.keys() - seen.keys():
        bad[u] = "missing from the output"
    return sorted(bad.items())


def _truncated(status: str, got: str | None, full: str) -> str | None:
    """Why a truncated PDF's output is wrong, or ``None`` if it is one of
    the answers ``TRUNCATED`` allows."""
    from pdf_ocr_engine_spark.core.extract_doc import PAGE_SEP

    if status in TRUNCATED_DEAD:
        return _first_diff(got, None) if got else None
    if status != "ok":
        return f"status {status!r}, planted a truncated PDF"
    pages, out = full.split(PAGE_SEP), (got or "").split(PAGE_SEP)
    k = next((i for i, (a, b) in enumerate(zip(out, pages)) if a != b),
             min(len(out), len(pages)))
    if k and len(out) <= len(pages) and not any(out[k:]):
        return None
    return "status 'ok' with text that is not the document's intact " \
           f"leading pages: {_first_diff(got, full)}"


def _first_diff(got: str | None, want: str | None) -> str:
    if got is None or want is None:
        return f"text {'None' if got is None else 'present'}, planted " \
               f"{'None' if want is None else 'text'}"
    i = next((k for k, (a, b) in enumerate(zip(got, want)) if a != b),
             min(len(got), len(want)))
    return (f"text differs at char {i}: got {got[i:i + 20]!r}, "
            f"planted {want[i:i + 20]!r}")
