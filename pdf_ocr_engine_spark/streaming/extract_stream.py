"""Structured Streaming front-end for the extraction pipeline.

The batch job satisfies the north_rule's resumability with partition
manifests (``plans/checkpoint.py``); this module is the *continuous-ingest*
variant for a landing zone that keeps receiving WARC-derived page files:

    pages files → readStream → foreachBatch: _commit (extract)
                → <out>/data/unit=<batchId> + _manifests/unit_<batchId>.json

Design notes (Spark-first):

* each micro-batch is one unit committed by ``plans.pipeline._commit``,
  the unit commit of the batch and resume drivers too: the same operator,
  the same write, the same record writer;
* exactly-once: see :func:`extract_stream`; ``spark.read.parquet(<out>)``
  reads every unit (``_manifests`` is a hidden path);
* ``Trigger.AvailableNow`` drains the backlog in bounded micro-batches and
  stops — the streaming analog of a resumable batch catch-up run;
* ``maxFilesPerTrigger`` bounds micro-batch size so executor memory holds
  at 50 MB-max payloads (F3 guard).

No event-time windowing is needed: extraction is per-row, so there are no
watermarks/state stores in this job (SURVEY.md §2.9 — the reference has no
temporal semantics either).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..core.extract_doc import ExtractOptions
from ..plans.pipeline import _commit
from ..sources.schemas import PAGES_SCHEMA

__all__ = ["PAGES_SCHEMA", "read_pages_stream", "extract_stream"]


def read_pages_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: int = 16) -> DataFrame:
    return (spark.readStream.schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir))


def extract_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    options: ExtractOptions | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 16,
    recognizer_factory=None,
):
    """Start the streaming extraction; returns the ``StreamingQuery``.

    With ``available_now=True`` the query drains all currently-visible files
    and finishes (call ``.awaitTermination()``); with ``False`` it runs
    continuously on new files.  ``recognizer_factory`` enables the OCR tier
    for image-only real-PDF pages — same per-task init contract as the
    batch operator (the model builds once per task, never per microbatch
    row).

    Exactly-once comes from the ``batchId``-keyed overwrite: the file
    source's offset log fixes each micro-batch's files before it runs, and a
    failed batch replays under the same ``batchId``, rewriting its own
    ``<output_dir>/data/unit=<batchId>`` instead of appending a copy.
    """
    writer = (read_pages_stream(spark, input_dir, max_files_per_trigger)
              .writeStream
              .foreachBatch(lambda batch, batch_id: _commit(
                  batch, output_dir, batch_id, "stream", options,
                  recognizer_factory))
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
