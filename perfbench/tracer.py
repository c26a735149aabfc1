"""Span tracer for the ``core`` layer, installed only for the traced pass.

``Tracer.install()`` replaces the module attributes the extraction path
looks up at call time (``core.extract_doc`` globals, the lazily imported
``core.pdfreal`` functions and the codec entry points
``operators.ocr.deterministic_recognizer`` imports when called) with
wrappers that record a span per call; ``uninstall()`` puts the originals
back.  Program files are never edited.

A span is ``(name, start_ns, end_ns, parent, doc, pixels)``; ``pixels`` is
the size of a decoder's output array.  Spans stay in memory until
``write``.  Self time is a span's duration minus its children's, which
never overlap because the pass is single-threaded.
"""

from __future__ import annotations

import functools
import importlib
import json
import time

_PKG = "pdf_ocr_engine_spark.core."

#: (module, attribute) pairs wrapped during the traced pass
TARGETS = [
    ("extract_doc", "sniff_document"),
    ("extract_doc", "decode_pdf_arrays"),
    ("extract_doc", "extract_main_text"),
    ("extract_doc", "page_layout_fast"),
    ("pdfreal", "extract_page_images"),
    ("pdfreal", "detect_pages_text"),
    ("jpegcodec", "decode_jpeg_gray"),
    ("ccittcodec", "decode_g3"),
    ("ccittcodec", "decode_g4"),
    ("jbig2codec", "decode_jbig2_embedded"),
    ("jpxcodec", "decode_jpx_gray"),
    ("rasterfont", "recognize_gray"),
    ("pdfscan", "decode_page_raster"),
]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.doc = -1
        self._stack: list[int] = []
        self._saved: list[tuple] = []

    def span(self, name: str, fn, *args, **kwargs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(None)
        self._stack.append(idx)
        t0 = time.perf_counter_ns()
        try:
            out = fn(*args, **kwargs)
        except BaseException:
            self._close(idx, name, t0, parent, 0)
            raise
        self._close(idx, name, t0, parent, getattr(out, "size", 0))
        return out

    def _close(self, idx: int, name: str, t0: int, parent: int,
               pixels) -> None:
        t1 = time.perf_counter_ns()
        self._stack.pop()
        self.spans[idx] = (name, t0, t1, parent, self.doc,
                           pixels if isinstance(pixels, int) else 0)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.span(name, fn, *args, **kwargs)
        return traced

    def install(self) -> None:
        for mod_name, attr in TARGETS:
            mod = importlib.import_module(_PKG + mod_name)
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self.wrap(attr, orig))

    def uninstall(self) -> None:
        while self._saved:
            mod, attr, orig = self._saved.pop()
            setattr(mod, attr, orig)

    def stats(self) -> dict[str, dict]:
        """Per span name: ``n`` calls, ``total_ns``, ``self_ns`` and
        ``pixels``."""
        child_ns = [0] * len(self.spans)
        for name, t0, t1, parent, _doc, _px in self.spans:
            if parent >= 0:
                child_ns[parent] += t1 - t0
        out: dict[str, dict] = {}
        for i, (name, t0, t1, _p, _doc, px) in enumerate(self.spans):
            s = out.setdefault(name, {"n": 0, "total_ns": 0, "self_ns": 0,
                                      "pixels": 0})
            s["n"] += 1
            s["total_ns"] += t1 - t0
            s["self_ns"] += t1 - t0 - child_ns[i]
            s["pixels"] += px
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for name, t0, t1, parent, doc, px in self.spans:
                f.write(json.dumps({"name": name, "start_ns": t0,
                                    "end_ns": t1, "parent": parent,
                                    "doc": doc, "pixels": px}) + "\n")
