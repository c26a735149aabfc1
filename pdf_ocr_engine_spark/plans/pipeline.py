"""Staged extraction DAG — plan shape, skew handling, metrics/lineage.

The job DAG (SURVEY.md §7.0), equivalent in role to the reference's
orchestrating driver ``convertPdfToSearchable`` (``src/lib/ocr/index.ts:27-173``)
but expressed as DataFrame stages:

    pages ──salted repartition──▶ _commit: extract (mapInArrow, narrow)
          ──▶ <out>/data  +  observed.json (df.observe counters)
          ──read-back──▶ <out>/metrics (per-partition metrics table)

    pages ──▶ assemble (extract's mapInArrow document operator, narrow)
          ──▶ searchable PDFs + extract's partition_id / wall_us lineage

``_commit`` is the one unit commit of all three drivers: it extracts,
writes and records batch's one unit (``data`` + ``observed.json``),
resume's (``plans/checkpoint.py``, ``data/unit=<b0>`` + a manifest per
bucket chunk) and stream's (``streaming/extract_stream.py``, one per
micro-batch).

Shuffle inventory (what the 100 TB plan pays for):
  1. the explicit salted ``repartition`` — ONE shuffle, deliberately bought to
     break host-prefix skew before the expensive stage (AQE only rebalances
     shuffle *reads*; compute skew inside a UDF stage needs the explicit salt);
     skip it (omit ``num_partitions``) when the source is already well-bucketed.
  2. the metrics aggregation — a partial+final hash agg over ~P rows of
     counters; negligible (map-side combine reduces each partition to 1 row).
The extract stage itself is narrow: no shuffle at any scale.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..core.extract_doc import ExtractOptions
from ..operators.extract import extract_pages

#: regex host extraction — cheaper than parse_url (no java URL object),
#: Catalyst-foldable, and tolerant of junk urls (empty string on no match).
_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"


def host_col(url=None):
    """Host prefix of a url (the skew axis per BASELINE.json north_rule)."""
    return F.regexp_extract(url if url is not None else F.col("url"), _HOST_RE, 1)


def salted_repartition(df: DataFrame, num_partitions: int,
                       salt_buckets: int | None = None) -> DataFrame:
    """Repartition on ``(host, salt)`` so one dominant host spreads over
    ``salt_buckets`` partitions instead of hot-spotting one task.

    ``salt = pmod(xxhash64(url), salt_buckets)`` is deterministic per url —
    re-runs place every document identically (required for resumability and
    for debugging at 10^12 rows).

    ``salt_buckets`` defaults to ``128 * num_partitions``: the (host, salt)
    key space must be much larger than the partition count, else distinct
    keys hash-lump into partitions unevenly (measured max/mean imbalance
    into 64 partitions: 1.98 with 16 salts, 1.20 with 512, 1.07 with 8192)
    and the straggler tail wastes cores in the final task wave.  Large salt
    counts cost nothing — the salt never materializes as a column.
    """
    if salt_buckets is None:
        salt_buckets = 128 * num_partitions
    return df.repartition(
        num_partitions,
        host_col(),
        F.pmod(F.xxhash64(F.col("url")), F.lit(salt_buckets)),
    )


def partition_metrics(extracted: DataFrame, run_id: str) -> DataFrame:
    """Per-partition lineage + metrics (north_rule).  Aggregates the
    lineage columns every output row carries; map-side combine collapses
    each partition to a single row before the (tiny) final shuffle."""
    return extracted.groupBy("partition_id").agg(
        F.lit(run_id).alias("run_id"),
        F.count("*").alias("docs_in"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("docs_ok"),
        F.sum(F.when(~F.col("status").isin("ok", "empty"), 1).otherwise(0))
         .alias("docs_err"),
        F.sum("n_words").alias("words"),
        F.sum("n_bytes").alias("bytes_in"),
        F.sum(F.length("text")).alias("bytes_out"),
        F.sum("wall_us").alias("wall_us"),
        F.max("wall_us").alias("max_doc_wall_us"),
        # decoder silent-substitution count (MediaBox defaults, unresolvable
        # encodings): nonzero drift here means corpus quality is degrading
        # even while status='ok' rates look healthy
        F.sum("n_fallbacks").alias("fallbacks"),
    )


#: the resume and stream drivers' per-unit commit records
MANIFEST_DIR = "_manifests"


def _commit(pages: DataFrame, output_dir: str, unit: int | None, run_id: str,
            options: ExtractOptions | None, recognizer_factory,
            **record) -> dict:
    """The one unit commit of every driver: batch (``unit=None``), resume
    (one unit per bucket chunk) and stream (one per micro-batch).

    Extracts ``pages``, overwrites ``<output_dir>/data`` (batch) or
    ``<output_dir>/data/unit=<unit>`` with the rows, then writes the
    unit's record: ``observed.json`` for the batch unit,
    ``_manifests/unit_<unit>.json`` otherwise, holding ``record``, the
    write's counters and ``committed_at``.  The record comes last, so it
    commits the unit.  The counters (returned too) ride the write action
    via ``df.observe``: zero extra passes.  Object-store outputs get the
    data but no record."""
    obs = Observation(f"commit-{run_id}")
    data = f"{output_dir}/data" + ("" if unit is None else f"/unit={unit}")
    df = extract_pages(pages, options, recognizer_factory=recognizer_factory)
    df.observe(
        obs,
        F.count(F.lit(1)).alias("docs_in"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("docs_ok"),
        F.sum("n_words").alias("words"),
        F.sum("n_bytes").alias("bytes_in"),
        F.sum(F.length("text")).alias("bytes_out"),
        # decoder silent-substitution total — job-level twin of the
        # per-partition `fallbacks` metric (corpus-quality drift signal)
        F.sum("n_fallbacks").alias("fallbacks"),
    ).write.mode("overwrite").parquet(data)
    counters = {"run_id": run_id,
                **{k: (int(v) if v is not None else 0)
                   for k, v in obs.get.items()}}
    if "://" not in output_dir:  # local fs only; object stores keep no record
        path = os.path.join(output_dir, "observed.json") if unit is None \
            else os.path.join(output_dir, MANIFEST_DIR, f"unit_{unit}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        # temp name + rename: a kill never leaves half a record
        with open(path + ".tmp", "w") as f:
            json.dump({**record, **counters, "committed_at": time.time()}, f)
        os.replace(path + ".tmp", path)
    return counters


def write_extraction(
    spark: SparkSession,
    pages: DataFrame,
    output_dir: str,
    *,
    options: ExtractOptions | None = None,
    num_partitions: int | None = None,
    salt_buckets: int | None = None,
    run_id: str = "adhoc",
    recognizer_factory=None,
) -> DataFrame:
    """The full DAG, materialized once: salted repartition (when
    ``num_partitions``) → :func:`_commit` (extract, ``<output>/data``, its
    counters in ``<output>/observed.json``) → derive the metrics table from
    a **read-back** of the written parquet (lineage columns are in every
    row), so the expensive extract stage is never recomputed for metrics.
    Returns the read-back extracted DataFrame.  ``recognizer_factory``
    enables the OCR tier for image-only real-PDF pages (same init-once
    contract as ``extract_pages``)."""
    df = pages
    if num_partitions:
        df = salted_repartition(df, num_partitions, salt_buckets)
    _commit(df, output_dir, None, run_id, options, recognizer_factory)
    written = spark.read.parquet(f"{output_dir}/data")
    partition_metrics(written, run_id).write.mode("overwrite") \
        .parquet(f"{output_dir}/metrics")
    return written


#: Job-level session config for the extraction workload.  Values chosen for
#: executor memory safety with up-to-50MB binary payloads (F3 guard):
#: 64 rows/Arrow batch * 50 MB worst case ≈ 3.2 GB absolute ceiling, while
#: typical web pages (~100 KB) batch at ~6 MB; maxPartitionBytes keeps scan
#: splits at the parquet-row-group scale.
EXTRACTION_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "64",
    "spark.sql.files.maxPartitionBytes": "268435456",  # 256 MB scan splits
    "spark.sql.parquet.compression.codec": "zstd",
}


def build_session(app_name: str = "pdf-ocr-engine-spark", master: str | None = None,
                  shuffle_partitions: int | None = None) -> SparkSession:
    """Session factory applying :data:`EXTRACTION_CONF`.  ``master=None``
    defers to spark-submit (the production path: ``spark-submit --py-files
    pdf_ocr_engine_spark.zip scripts/run_extract.py``)."""
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    for k, v in EXTRACTION_CONF.items():
        b = b.config(k, v)
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return b.getOrCreate()
