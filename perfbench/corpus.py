"""Seeded, cached corpus generator for the three benchmark workloads.

    python3 perfbench/corpus.py --workload web_crawl --seed 1 --out DIR

writes ``DIR/pages/`` (the only table the program receives:
``url, warc_ts, html, text, lang``), ``DIR/oracle.parquet`` (``url,
status, text, kind`` planted per url) and, last, ``DIR/_SUCCESS``.  An
interrupted generation leaves no ``_SUCCESS`` and is regenerated.

Texts are drawn from a fixed lowercase vocabulary (the alphabet the 5x7
raster recognizer reads) at the documents-table length range of 10-100
words.  Encoding runs in a small spawn pool, so the generator never shares
a process with Spark and its memory never shows in the measured RSS.

Corpus shapes:

* ``web_crawl`` - 85% boilerplate-heavy HTML with a long-tailed paragraph
  count, 5% WBOX2, 5% real PDF 1.4 (half of them embedded TrueType with
  no ToUnicode), 2% empty-password encrypted PDFs and 3% planted junk
  (unsupported bytes, truncated PDFs, password-protected PDFs); 40% of
  the urls sit on one host.
* ``scanned_ocr`` - ``sources.testdata.mixed_scan_pages_from_documents``
  payloads: born-digital, FAKERAST and every pixel-codec slice (JPX too),
  chosen by ``doc_id``.
* ``resume`` - ``sources.testdata.real_pages_from_documents`` payloads:
  real PDF 1.4 with the two TrueType/no-ToUnicode slices.
"""

from __future__ import annotations

import argparse
import datetime as dt
import multiprocessing as mp
import os
import random
import re
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

import oracle  # noqa: E402

#: bump when any generated byte or planted answer changes, so cached
#: corpora regenerate
VERSION = 3

#: documents per workload: a warm pass lasts about 3-5 s on 4 cores
#: (perfbench/README.md has the pass-time series at these sizes)
SIZES = {"web_crawl": 8000, "scanned_ocr": 600, "resume": 600}

#: the input table is this many equal parquet files
FILES = 16
#: encoding processes, one per core
PROCS = 4

DOMINANT_HOST = "www.bighost.example"
DOMINANT_SHARE = 0.40
LANGS = ("eng", "eng", "eng", "fra", "deu", "spa")

VOCAB = tuple(
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window vector table stream join "
    "data index merge shard page text word crawl host node task stage "
    "cache disk store lake delta frame block chunk row field schema type "
    "plan cost skew salt bucket range split queue worker driver report "
    "metric trace span count limit budget quota image codec pixel raster "
    "font glyph layout column reader writer parser token lexer mode "
    "zone unit matrix vertex graph tree heap stack list map set".split())


def words(rng: random.Random, lo: int, hi: int) -> list[str]:
    return [rng.choice(VOCAB) for _ in range(rng.randint(lo, hi))]


def pdf_oracle(tokens: list[str], per_page: int | None) -> str:
    """``expected_text`` per page, pages joined by ``PAGE_SEP``."""
    from pdf_ocr_engine_spark.core.extract_doc import PAGE_SEP
    from pdf_ocr_engine_spark.sources.fixtures import expected_text

    per = per_page or max(len(tokens), 1)
    return PAGE_SEP.join(expected_text(tokens[i:i + per])
                         for i in range(0, len(tokens), per))


def html_page(rng: random.Random) -> tuple[bytes, str]:
    """A boilerplate-heavy page and its planted article text.

    Per the rules in ``core/html_extract.py``: nav/header/footer/aside/
    script/style subtrees are pruned; the link-list block (link density 1),
    the one-word title and the 3-word byline (< min_words) are boilerplate;
    the heading is kept because content follows it; inline links inside
    paragraphs stay under a third of the block's characters."""
    heading = " ".join(words(rng, 2, 6))
    n_para = min(int(rng.paretovariate(1.5)), 30)
    paras = []
    body = []
    for _ in range(n_para):
        toks = words(rng, 8, 60)
        paras.append(" ".join(toks))
        if rng.random() < 0.3:
            k = rng.randrange(1, len(toks) - 1)
            body.append("<p>" + " ".join(toks[:k]) + " <a href='/w/"
                        f"{toks[k]}'>{toks[k]}</a> "
                        + " ".join(toks[k + 1:]) + "</p>")
        else:
            body.append(f"<p>{paras[-1]}</p>")
    links = " ".join(f"<a href='/t/{w}'>{w}</a>" for w in words(rng, 4, 12))
    nav = " ".join(f"<li><a href='/s/{w}'>{w}</a></li>"
                   for w in words(rng, 5, 25))
    script = "var t=" + ",".join(str(rng.randrange(10**6))
                                 for _ in range(rng.randint(10, 200)))
    html = (
        "<!DOCTYPE html><html><head><title>home</title>"
        "<style>.nav{color:#333}.ad{display:none}</style>"
        f"<script>{script}</script></head><body>"
        f"<nav><ul>{nav}</ul></nav>"
        "<header><div>site banner chrome and search</div></header><main>"
        f"<article><h1>{heading}</h1><p>posted by staff</p>{''.join(body)}"
        f"<div class='tags'>{links}</div></article>"
        "<aside><p><a href='/x'>related link one</a> <a href='/y'>related "
        "link two</a></p></aside></main>"
        "<footer>copyright footer boilerplate legal text strip</footer>"
        "<script>track();</script></body></html>")
    return html.encode(), "\n\n".join([heading] + paras)


def password_protected(payload: bytes) -> bytes:
    """Zero the /U entry so the empty user password no longer verifies —
    a document with a real user password."""
    m = re.search(rb"/U <([0-9a-f]+)>", payload)
    return payload[:m.start(1)] + b"00" * ((m.end(1) - m.start(1)) // 2) \
        + payload[m.end(1):]


def web_crawl_doc(seed: int, i: int) -> dict:
    from pdf_ocr_engine_spark.sources import fixtures as fx
    from pdf_ocr_engine_spark.sources.testdata import (
        REAL_PDF_WORDS_PER_PAGE as PER_PAGE,
    )
    from pdf_ocr_engine_spark.sources.testdata import WORDS_PER_LINE

    rng = random.Random(f"{seed}:{i}")
    u = rng.random()
    status, kind = "ok", None
    if u < 0.85:
        kind = "html"
        payload, text = html_page(rng)
    else:
        toks = words(rng, 10, 100)
        t = " ".join(toks)
        if u < 0.90:
            kind = "wbox"
            payload, text = fx.text_to_pdf_payload(t), pdf_oracle(toks, None)
        elif u < 0.95:
            variant = rng.choice(("real", "real", "cid", "symbolic"))
            kind = f"pdf_{variant}"
            payload = (fx.text_to_real_pdf_payload(t, WORDS_PER_LINE, PER_PAGE)
                       if variant == "real" else
                       fx.text_to_truetype_pdf_payload(
                           t, WORDS_PER_LINE, PER_PAGE, variant))
            text = pdf_oracle(toks, PER_PAGE)
        elif u < 0.97:
            kind = "pdf_encrypted"
            payload = fx.text_to_encrypted_pdf_payload(
                t, ("rc4-40", "rc4-128", "aes-128")[i % 3], WORDS_PER_LINE,
                PER_PAGE)
            text = pdf_oracle(toks, PER_PAGE)
        else:
            text = None
            junk = rng.randrange(3)
            if junk == 0:
                kind, status = "junk_bytes", "unsupported"
                payload = rng.choice((b"\x89PNG\r\n\x1a\n", b"PK\x03\x04",
                                      b"GIF89a")) + rng.randbytes(
                                          rng.randint(64, 4096)).replace(
                                              b"%PDF-", b"%PDX-")
            elif junk == 1:
                # the oracle accepts the intact leading pages of ``text``
                # or no text (``oracle.TRUNCATED``)
                kind, status = "junk_truncated", oracle.TRUNCATED
                full = fx.text_to_real_pdf_payload(t, WORDS_PER_LINE, PER_PAGE)
                payload = full[:int(len(full) * rng.uniform(0.25, 0.6))]
                text = pdf_oracle(toks, PER_PAGE)
            else:
                kind, status = "junk_password", "encrypted"
                payload = password_protected(fx.text_to_encrypted_pdf_payload(
                    t, "rc4-128", WORDS_PER_LINE, PER_PAGE))
    host = (DOMINANT_HOST if rng.random() < DOMINANT_SHARE
            else f"site{int(rng.paretovariate(1.2)) % 997:03d}.example")
    return {"url": f"https://{host}/{kind}/{seed}-{i}", "html": payload,
            "lang": rng.choice(LANGS), "status": status, "text": text,
            "kind": kind}


def testdata_docs(workload: str, seed: int, ids: list[int]) -> list[dict]:
    """Payloads from the ``sources.testdata`` corpus UDFs, called as plain
    Python so the bytes equal what ``mixed_scan_pages_from_documents`` /
    ``real_pages_from_documents`` build, without a Spark session."""
    import pandas as pd

    from pdf_ocr_engine_spark.sources import testdata as td

    udf = (td._text_to_mixed_payload if workload == "scanned_ocr"
           else td._text_to_real_routed_payload)
    toks = [words(random.Random(f"{seed}:{i}"), 10, 100) for i in ids]
    payloads = udf.func(pd.Series([" ".join(t) for t in toks]),
                        pd.Series(ids))
    rows = []
    for i, t, p in zip(ids, toks, payloads):
        rng = random.Random(f"{seed}:{i}:meta")
        rows.append({"url": f"https://src{i % 10}.example/doc/{seed}-{i}",
                     "html": p, "lang": rng.choice(LANGS), "status": "ok",
                     "text": pdf_oracle(t, td.REAL_PDF_WORDS_PER_PAGE),
                     "kind": planted_kind(workload, i)})
    return rows


def planted_kind(workload: str, doc_id: int) -> str:
    """The payload family the ``sources.testdata`` UDFs pick by doc id."""
    if workload == "scanned_ocr":  # odd doc ids are image-only
        return "scanned" if doc_id % 2 else "born_digital"
    return {3: "pdf_cid", 7: "pdf_symbolic"}.get(doc_id % 8, "pdf_real")


def _chunk(args: tuple[str, int, list[int]]) -> list[dict]:
    workload, seed, ids = args
    if workload == "web_crawl":
        return [web_crawl_doc(seed, i) for i in ids]
    return testdata_docs(workload, seed, ids)


def generate(workload: str, seed: int, out: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_docs = SIZES[workload]
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    # doc ids are 0..n-1 in file order, so every doc_id-keyed slice keeps
    # its exact share and its place in the scan splits on every seed
    step = max(1, n_docs // (PROCS * 8))
    jobs = [(workload, seed, list(range(k, min(k + step, n_docs))))
            for k in range(0, n_docs, step)]
    with mp.get_context("spawn").Pool(PROCS) as pool:
        rows = [r for part in pool.map(_chunk, jobs) for r in part]
        pool.close()
        pool.join()
    ts = dt.datetime(2025, 1, 1)
    os.makedirs(os.path.join(out, "pages"))
    per_file = -(-n_docs // FILES)
    for f in range(FILES):
        part = rows[f * per_file:(f + 1) * per_file]
        pq.write_table(pa.table({
            "url": [r["url"] for r in part],
            "warc_ts": pa.array([ts] * len(part), pa.timestamp("us")),
            "html": pa.array([r["html"] for r in part], pa.binary()),
            "text": [""] * len(part),
            "lang": [r["lang"] for r in part],
        }), os.path.join(out, "pages", f"part-{f:05d}.parquet"))
    pq.write_table(pa.table({k: [r[k] for r in rows]
                             for k in ("url", "status", "text", "kind")}),
                   os.path.join(out, "oracle.parquet"))
    open(os.path.join(out, "_SUCCESS"), "w").close()


def corpus_dir(work: str, workload: str, seed: int) -> str:
    return os.path.join(work, "corpus", f"{workload}-v{VERSION}-s{seed}")


def ensure(work: str, workload: str, seed: int) -> tuple[str, float, bool]:
    """Generate unless cached; returns ``(dir, seconds, generated)``.  Runs
    the generator as its own process."""
    import subprocess

    out = corpus_dir(work, workload, seed)
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out, 0.0, False
    t0 = time.perf_counter()
    subprocess.run([sys.executable, os.path.abspath(__file__),
                    "--workload", workload, "--seed", str(seed),
                    "--out", out], check=True, timeout=170)
    return out, time.perf_counter() - t0, True


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args()
    generate(a.workload, a.seed, a.out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
