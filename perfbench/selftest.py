"""Self-test of the per-url oracle: it must pass correct output and catch
one flipped output byte, a wrong status, text on a junk document, a
truncated PDF with a cut page or with text beside an error status, a
missing and a duplicated row.

    python3 perfbench/selftest.py

Runs the extraction kernel in-process (no Spark) over a small web_crawl
corpus and exits non-zero if any check fails.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import corpus  # noqa: E402
import oracle  # noqa: E402


def main() -> int:
    from pdf_ocr_engine_spark.core.extract_doc import extract_document

    # two truncated PDFs cut just before a content stream, which the
    # recovering parser reads as textless: seed 210 doc 1125 in its only
    # page (status 'empty'), seed 826019409 doc 7806 in its second page
    # (status 'ok' with the first page's text)
    docs = [corpus.web_crawl_doc(seed=7, i=i) for i in range(300)]
    docs.append(corpus.web_crawl_doc(seed=210, i=1125))
    docs.append(corpus.web_crawl_doc(seed=826019409, i=7806))
    planted = {d["url"]: (d["status"], d["text"]) for d in docs}
    urls = [d["url"] for d in docs]
    outs = [extract_document(d["html"], d["lang"]) for d in docs]
    statuses = [o["status"] for o in outs]
    texts = [o["text"] for o in outs]

    victim = next(i for i, t in enumerate(texts) if t)
    flipped = list(texts)
    raw = bytearray(flipped[victim].encode())
    raw[len(raw) // 2] ^= 0x01
    flipped[victim] = raw.decode("utf-8", errors="replace")
    wrong_status = list(statuses)
    wrong_status[victim] = "decode_error"
    junk = next(i for i, d in enumerate(docs) if d["text"] is None)
    junk_text = list(texts)
    junk_text[junk] = "recovered words"
    dead, cut = len(docs) - 2, len(docs) - 1
    assert statuses[dead] == "empty" and statuses[cut] == "ok", statuses[-2:]
    dead_text = list(texts)
    dead_text[dead] = docs[dead]["text"]
    cut_page = list(texts)
    cut_page[cut] = texts[cut].rsplit(" ", 1)[0]

    cases = {
        "correct output": (urls, statuses, texts, []),
        "one flipped byte": (urls, statuses, flipped, [urls[victim]]),
        "wrong status": (urls, wrong_status, texts, [urls[victim]]),
        "text on a junk doc": (urls, statuses, junk_text, [urls[junk]]),
        "truncated PDF, text beside 'empty'": (urls, statuses, dead_text,
                                               [urls[dead]]),
        "truncated PDF, last word of its page cut": (
            urls, statuses, cut_page, [urls[cut]]),
        "missing row": (urls[1:], statuses[1:], texts[1:], [urls[0]]),
        "duplicated row": (urls + urls[:1], statuses + statuses[:1],
                           texts + texts[:1], [urls[0]]),
    }
    ok = True
    for name, (u, s, t, want) in cases.items():
        got = [url for url, _ in oracle.check(u, s, t, planted)]
        passed = got == sorted(want)
        ok &= passed
        print(f"{'ok  ' if passed else 'FAIL'} {name}: flagged {got}")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
