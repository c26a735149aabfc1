"""Resumable batch execution via per-unit completion manifests.

north_rule: "resumable from checkpoint by skipping completed partition
manifests".  Spark has no batch-resume primitive, so the driver loop
implements it (SURVEY.md §4):

* every document belongs to a deterministic bucket
  ``pmod(xxhash64(url), n_buckets)`` — identical across runs and cluster
  sizes;
* pending buckets are processed in chunks; each chunk is one unit
  committed by ``pipeline._commit``: its rows overwrite
  ``<out>/data/unit=<b0>/`` (``b0`` = its first bucket), and only after
  that write, a manifest
  ``<out>/_manifests/unit_<b0>.json`` records the chunk's buckets,
  ``n_buckets``, ``run_id`` and the write's counters (manifest-LAST: a
  crash before it leaves an orphan unit dir, which the re-run deletes
  before reprocessing those buckets — never lost, never silently partial);
* a re-run skips the buckets its manifests list.  The bucket predicate is
  a hash of ``url``, so it cannot prune the parquet scan: every chunk still
  reads the whole input and drops other buckets' rows after the scan, and
  only the extract stage is saved;
* bucket ids only mean something under the ``n_buckets`` that wrote them,
  so a re-run with another value is refused before any Spark work;
* manifests and the orphan sweep live on the local filesystem, so a URI
  output (``s3a://``, ``file://``) is refused before any Spark work too.

At 10^12 documents the manifest table is ``n_buckets / chunk_buckets`` tiny
JSON files — list it on the driver in O(n_buckets); data-file listing is
never needed.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.extract_doc import ExtractOptions
from .pipeline import MANIFEST_DIR, _commit


def read_manifests(output_dir: str) -> dict[int, dict]:
    """``unit → manifest`` for every committed unit under ``output_dir``."""
    mdir = os.path.join(output_dir, MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return {}
    out = {}
    for name in os.listdir(mdir):
        if name.startswith("unit_") and name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                out[int(name[len("unit_"):-len(".json")])] = json.load(f)
    return out


@dataclass
class ResumeReport:
    processed_buckets: list[int]
    skipped_buckets: list[int]
    docs_written: int


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    output_dir: str,
    *,
    n_buckets: int = 64,
    chunk_buckets: int = 16,
    options: ExtractOptions | None = None,
    run_id: str = "run",
    max_chunks: int | None = None,
    recognizer_factory=None,
) -> ResumeReport:
    """Process pending buckets in chunks; each chunk = one unit write, then
    its manifest.  ``max_chunks`` exists for tests (simulated
    interruption).  Raises ``ValueError`` when ``output_dir`` holds
    manifests of another ``n_buckets``, or is a URI: the manifests and
    the orphan sweep work on the local filesystem only."""
    if "://" in output_dir:
        raise ValueError(f"cannot resume {output_dir}: resume manifests "
                         f"need a local filesystem path")
    manifests = read_manifests(output_dir)
    other = sorted({m["n_buckets"] for m in manifests.values()} - {n_buckets})
    if other:
        raise ValueError(f"{output_dir} was written with n_buckets={other}; "
                         f"cannot resume it with n_buckets={n_buckets}")
    done = {b for m in manifests.values() for b in m["buckets"]}
    pending = [b for b in range(n_buckets) if b not in done]

    # crash hygiene: a unit dir without a manifest is an orphan from a
    # killed run — drop it so its rows can't show up twice.
    data_dir = os.path.join(output_dir, "data")
    if os.path.isdir(data_dir):
        for name in os.listdir(data_dir):
            unit = name.removeprefix("unit=")
            if unit != name and int(unit) not in manifests:
                shutil.rmtree(os.path.join(data_dir, name))

    bucket = F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets))
    processed: list[int] = []
    docs_written = 0
    chunks = [pending[i:i + chunk_buckets]
              for i in range(0, len(pending), chunk_buckets)]
    for chunk in chunks[:max_chunks]:
        counters = _commit(pages.where(bucket.isin(chunk)), output_dir,
                           chunk[0], run_id, options, recognizer_factory,
                           buckets=chunk, n_buckets=n_buckets)
        processed.extend(chunk)
        docs_written += counters["docs_in"]

    return ResumeReport(processed, sorted(done), docs_written)
