"""Once-per-worker zipimport cache guard (``pdf_ocr_engine_spark/_worker.py``)."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from pdf_ocr_engine_spark._worker import install_zip_cache_guard

STOCK = zipimport.zipimporter.invalidate_caches


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


@pytest.fixture
def guarded(tmp_path):
    """A temp zip holding module ``zcg_a`` on ``sys.path``, imported through
    zipimport, with the guard installed over a spy that records every call
    reaching the stock ``invalidate_caches``."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zcg_a": "VALUE = 'a'\n"})
    reached = []

    def spy(self):
        reached.append(self)
        return STOCK(self)

    zipimport.zipimporter.invalidate_caches = spy
    sys.path.insert(0, archive)
    try:
        install_zip_cache_guard()
        import zcg_a

        assert zcg_a.VALUE == "a"
        importer = sys.path_importer_cache[archive]
        assert isinstance(importer, zipimport.zipimporter)
        yield archive, importer, reached
    finally:
        zipimport.zipimporter.invalidate_caches = STOCK
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        for name in ("zcg_a", "zcg_b"):
            sys.modules.pop(name, None)


def _reads(reached, importer):
    return sum(1 for imp in reached if imp is importer)


def test_unchanged_archive_is_not_reread(guarded):
    _, importer, reached = guarded
    importlib.invalidate_caches()  # first call: real re-read, stamp recorded
    assert _reads(reached, importer) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert _reads(reached, importer) == 1


def test_rewritten_archive_is_reread(guarded):
    archive, importer, reached = guarded
    importlib.invalidate_caches()
    _write_zip(archive, {"zcg_a": "VALUE = 'a'\n", "zcg_b": "VALUE = 'b'\n"})
    with pytest.raises(ImportError):
        import zcg_b  # noqa: F401 — the importer still holds the old listing
    importlib.invalidate_caches()
    assert _reads(reached, importer) == 2
    import zcg_b

    assert zcg_b.VALUE == "b"


def test_deleted_archive_falls_through(guarded):
    archive, importer, reached = guarded
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()  # must not raise
    assert _reads(reached, importer) == 2
    assert importer._files == {}


def test_second_install_does_not_wrap_twice(guarded):
    installed = zipimport.zipimporter.invalidate_caches
    install_zip_cache_guard()
    assert zipimport.zipimporter.invalidate_caches is installed
    assert installed.__wrapped__ is not STOCK  # wraps the spy, not itself
    assert not getattr(installed.__wrapped__, "_zip_cache_guard", False)


@pytest.mark.spark
def test_guard_installed_on_workers_not_driver(spark):
    import pdf_ocr_engine_spark  # noqa: F401

    assert zipimport.zipimporter.invalidate_caches is STOCK

    def probe(batches):
        import zipimport

        import pyarrow as pa

        import pdf_ocr_engine_spark  # noqa: F401

        guard = getattr(zipimport.zipimporter.invalidate_caches,
                        "_zip_cache_guard", False)
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"guarded": [guard] * b.num_rows})

    rows = (spark.range(0, 16, 1, 4)
            .mapInArrow(probe, "guarded boolean").collect())
    assert len(rows) == 16 and all(r.guarded for r in rows)
    assert zipimport.zipimporter.invalidate_caches is STOCK
