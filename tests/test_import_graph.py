"""The extraction path loads no fixture encoder, and no decoder module
holds one.

Spark Python workers import every module the extraction path reaches, so
fixture encoders live in ``pdf_ocr_engine_spark.encoders`` and decoder
modules in ``core/`` hold only decoders and the tables both sides share.
"""

from __future__ import annotations

import ast
import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORE = os.path.join(ROOT, "pdf_ocr_engine_spark", "core")

#: the extraction path: operators, plans, the streaming driver, and every
#: decoder the page core may reach lazily
_EXTRACTION_PATH = [
    "operators.extract", "operators.assemble", "operators.ocr",
    "plans.pipeline", "plans.checkpoint", "streaming.extract_stream",
    "core.pdfcrypt", "core.sfnt", "core.pdfreal", "core.pdfoverlay",
    *sorted("core." + f[:-3] for f in os.listdir(CORE)
            if f.endswith("codec.py")),
]

_PROBE = """
import importlib, json, sys
for name in sys.argv[1:]:
    importlib.import_module("pdf_ocr_engine_spark." + name)
from pdf_ocr_engine_spark.operators.ocr import deterministic_recognizer
deterministic_recognizer()
print(json.dumps(sorted(m for m in sys.modules
                        if m.startswith("pdf_ocr_engine_spark"))))
"""

#: encoder shapes no decoder module may define.  ``build_searchable_pdf``
#: is the production writer; ``build_copy_friendly_word_sequence`` is the
#: layout kernel (the reference's name), not a builder.
_ENCODER_NAME = re.compile(r"^(_?encode_\w+|build_\w+|_MQEncoder|_BitWriter"
                           r"|_HdrWriter)$")
_NOT_ENCODERS = {"build_searchable_pdf", "build_copy_friendly_word_sequence"}


def test_extraction_path_loads_no_encoder_module():
    # a fresh interpreter: modules other tests imported must not count
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, *_EXTRACTION_PATH], cwd=ROOT,
        capture_output=True, text=True, check=True, timeout=120)
    loaded = json.loads(out.stdout.strip().splitlines()[-1])
    assert "pdf_ocr_engine_spark.core.jbig2codec" in loaded  # probe ran
    assert not [m for m in loaded
                if m.startswith("pdf_ocr_engine_spark.encoders")]


def test_no_core_module_defines_an_encoder():
    found = []
    for fname in sorted(os.listdir(CORE)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(CORE, fname), encoding="utf-8") as f:
            tree = ast.parse(f.read())
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, ast.Assign):
                names = [n.id for t in node.targets for n in ast.walk(t)
                         if isinstance(n, ast.Name)]
            else:
                continue
            found += [f"{fname}:{n}" for n in names
                      if _ENCODER_NAME.match(n) and n not in _NOT_ENCODERS]
    assert found == []
