"""The extraction path loads no fixture encoder, and no decoder module
holds one; the codec table and the WBOX2 builder load no codec, and the
table is the only module that names an image codec.

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
PKG = os.path.join(ROOT, "pdf_ocr_engine_spark")
CORE = os.path.join(PKG, "core")

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


_IMPORT_ONLY = """
import importlib, json, sys
for name in sys.argv[1:]:
    importlib.import_module("pdf_ocr_engine_spark." + name)
print(json.dumps(sorted(m for m in sys.modules
                        if m.startswith("pdf_ocr_engine_spark"))))
"""


def _loaded(probe: str, *modules: str) -> list[str]:
    # a fresh interpreter: modules other tests imported must not count
    out = subprocess.run(
        [sys.executable, "-c", probe, *modules], cwd=ROOT,
        capture_output=True, text=True, check=True, timeout=120)
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_extraction_path_loads_no_encoder_module():
    loaded = _loaded(_PROBE, *_EXTRACTION_PATH)
    assert "pdf_ocr_engine_spark.core.jbig2codec" in loaded  # probe ran
    assert not [m for m in loaded
                if m.startswith("pdf_ocr_engine_spark.encoders")]


def test_fixture_sources_load_no_encoder_module():
    # the builders are imported by the payload functions that call them
    loaded = _loaded(_IMPORT_ONLY, "sources.fixtures", "sources.testdata")
    assert "pdf_ocr_engine_spark.sources.testdata" in loaded  # probe ran
    assert not [m for m in loaded
                if m.startswith("pdf_ocr_engine_spark.encoders")]


def test_codec_table_loads_no_codec():
    loaded = _loaded(_IMPORT_ONLY, "core.images", "core.pdfreal")
    assert "pdf_ocr_engine_spark.core.images" in loaded  # probe ran
    assert not [m for m in loaded if m.endswith("codec")]


_ENCODE_PDF = """
import json, sys
from pdf_ocr_engine_spark.encoders.pdf import encode_pdf
encode_pdf([{"page_no": 1, "words": [("Hi", 10, 10, 30, 22)]}])
print(json.dumps(sorted(m for m in sys.modules
                        if m.startswith("pdf_ocr_engine_spark"))))
"""


def test_wbox2_builder_loads_no_codec():
    # encoders.bilevel and encoders.raster load every codec decoder; only
    # the pixel-scan builder imports them, when it is called
    loaded = _loaded(_ENCODE_PDF)
    assert "pdf_ocr_engine_spark.encoders.pdf" in loaded  # probe ran
    assert not [m for m in loaded if m.endswith("codec")
                or m in ("pdf_ocr_engine_spark.encoders.bilevel",
                         "pdf_ocr_engine_spark.encoders.raster")]


#: PDF image-codec filter names (ISO 32000 table 6, abbreviations too)
_IMAGE_FILTER_NAMES = {"DCTDecode", "CCITTFaxDecode", "JPXDecode",
                       "JBIG2Decode", "DCT", "CCF"}


def test_only_the_codec_table_names_an_image_filter():
    found = set()
    for root, _dirs, files in os.walk(PKG):
        if os.path.relpath(root, PKG).split(os.sep)[0] == "encoders":
            continue
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read())
            if any(isinstance(n, ast.Constant)
                   and n.value in _IMAGE_FILTER_NAMES
                   for n in ast.walk(tree)):
                found.add(os.path.relpath(path, PKG))
    assert found == {os.path.join("core", "images.py")}


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
