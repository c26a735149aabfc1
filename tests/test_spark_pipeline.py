"""End-to-end Spark pipeline tests (M1): byte-identical extracted text per
url against goldens, status routing, metrics/lineage, salting determinism."""

import pytest
from pyspark.sql import functions as F

from pdf_ocr_engine_spark.operators.extract import extract_pages
from pdf_ocr_engine_spark.plans.pipeline import (
    host_col,
    partition_metrics,
    salted_repartition,
)

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def extracted(spark, fixture_pages_path):
    pages = spark.read.parquet(fixture_pages_path)
    out = extract_pages(salted_repartition(pages, 8)).cache()
    out.count()
    yield out
    # a cached plan left behind turns later modules' plans into
    # InMemoryTableScan (tests/test_plans.py counts their Exchange nodes)
    out.unpersist(blocking=True)


def test_byte_identical_text_per_url(spark, fixture_pages_path, extracted):
    """The north_rule invariant: extracted text matches golden BYTEWISE per
    url, for every fixture document (HTML boilerplate + PDF word-box)."""
    golden = spark.read.parquet(
        fixture_pages_path.replace(".parquet", "_golden.parquet"))
    joined = extracted.join(golden, "url", "inner").select(
        "url", "status", "golden_status", "text", "golden_text").collect()
    assert len(joined) == 120
    for row in joined:
        assert row.status == row.golden_status, (row.url, row.status, row.error if hasattr(row, 'error') else None)
        if row.golden_text is not None:
            assert row.text == row.golden_text, row.url  # bytewise ==


def test_error_rows_are_values_not_failures(extracted):
    by_status = {r["status"]: r["n"] for r in
                 extracted.groupBy("status").agg(F.count("*").alias("n")).collect()}
    # every edge fixture shows up as a status, job never failed
    for s in ("unsupported", "no_pages", "too_many_pages", "page_mismatch",
              "invalid_lang", "decode_error", "ok"):
        assert by_status.get(s, 0) >= 1, (s, by_status)


def test_pinned_reference_golden(extracted):
    row = extracted.filter(F.col("url").endswith("pinned/table.pdf")).first()
    assert row.text == "Item\tQty\tPrice\nApple\t2\t$3.00"
    assert row.n_words == 6


def test_metrics_lineage(extracted):
    m = partition_metrics(extracted, "test").collect()
    assert len(m) >= 1
    assert sum(r.docs_in for r in m) == 120
    assert all(r.run_id == "test" for r in m)
    ok = sum(r.docs_ok for r in m)
    err = sum(r.docs_err for r in m)
    assert ok > 0 and err >= 6
    assert sum(r.words for r in m) > 0


def test_assemble_rows_carry_extract_lineage(spark, fixture_pages_path):
    """Assembly runs through extraction's document operator, so its rows
    carry the same lineage: ``partition_id`` is the partition that ran
    the document and ``wall_us`` its non-negative wall clock."""
    from pdf_ocr_engine_spark.operators.assemble import (
        ASSEMBLED_SCHEMA,
        assemble_searchable,
    )

    assert ASSEMBLED_SCHEMA.fieldNames() == [
        "url", "status", "error", "n_pages", "n_words", "pdf",
        "partition_id", "wall_us"]
    pages = salted_repartition(spark.read.parquet(fixture_pages_path), 4)
    for df in (extract_pages(pages), assemble_searchable(pages)):
        rows = df.select("partition_id", "wall_us",
                         F.spark_partition_id().alias("pid")).collect()
        assert len(rows) == 120
        assert all(r.partition_id == r.pid for r in rows)
        assert all(r.wall_us >= 0 for r in rows)
        assert len({r.pid for r in rows}) > 1


def test_salting_spreads_hot_host(spark, fixture_pages_path):
    """Zipf host000 dominates; salted repartition must spread it over >1
    partition while plain host-partitioning would hot-spot it."""
    pages = spark.read.parquet(fixture_pages_path)
    salted = salted_repartition(pages, 8, salt_buckets=8)
    dist = (salted.select(F.spark_partition_id().alias("pid"), host_col().alias("h"))
            .filter(F.col("h") == "host000.example")
            .groupBy("pid").count().collect())
    hot_rows = sum(r["count"] for r in dist)
    if hot_rows >= 8:  # only meaningful when the host is actually hot
        assert len(dist) > 1, "salting failed to spread the dominant host"


def test_salting_deterministic(spark, fixture_pages_path):
    pages = spark.read.parquet(fixture_pages_path)
    a = salted_repartition(pages, 8).select(
        "url", F.spark_partition_id().alias("p")).collect()
    b = salted_repartition(pages, 8).select(
        "url", F.spark_partition_id().alias("p")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_column_pruning_reaches_scan(spark, fixture_pages_path, extracted):
    """The scan must NOT read the `text` input column (output-only)."""
    pages = spark.read.parquet(fixture_pages_path)
    plan = extract_pages(pages)._jdf.queryExecution().executedPlan().toString()
    assert "text" not in plan.split("ReadSchema:")[-1].splitlines()[0]


def test_documents_roundtrip_oracle(spark):
    """Flagship self-check on driver testdata: wrap documents.text into
    word-box PDFs, extract, and compare with the closed-form re-wrap."""
    from pdf_ocr_engine_spark.sources.fixtures import expected_text
    from pdf_ocr_engine_spark.sources.testdata import pages_from_documents

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    out = extract_pages(pages)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", F.col("text").alias("src"))
    rows = (out.withColumn("doc_id",
                           F.element_at(F.split("url", "/"), -1).cast("long"))
            .join(docs, "doc_id").select("doc_id", "status", "text", "src")
            .collect())
    assert len(rows) == 500
    for r in rows:
        assert r.status == "ok"
        assert r.text == expected_text(r.src.split()), r.doc_id


def test_write_extraction_observed_metrics(spark, fixture_pages_path, tmp_path):
    from pdf_ocr_engine_spark.plans.pipeline import write_extraction

    out = str(tmp_path / "wx")
    written = write_extraction(spark, spark.read.parquet(fixture_pages_path),
                               out, num_partitions=4, run_id="obs-test")
    import json
    obs = json.load(open(f"{out}/observed.json"))
    assert obs["run_id"] == "obs-test"
    assert obs["docs_in"] == written.count() == 120
    assert obs["docs_ok"] == written.where("status = 'ok'").count()
    assert obs["words"] == written.agg(F.sum("n_words")).first()[0]


def test_large_document_stress(spark):
    """A single outsized document (150 pages x 400 words, ~5 MB payload)
    flows through the Arrow batch path without memory faults and extracts
    byte-identically to the pure-Python kernel."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_ocr_engine_spark.core.extract_doc import extract_document
    from pdf_ocr_engine_spark.encoders.pdf import encode_pdf
    from pdf_ocr_engine_spark.sources.fixtures import layout_words

    toks = [f"w{i}" for i in range(400)]
    payload = encode_pdf([
        {"page_no": p + 1, "width": 612.0, "height": 792.0,
         "has_text": False, "words": layout_words(toks)}
        for p in range(150)
    ])
    assert len(payload) > 2_500_000
    expected = extract_document(payload, "eng")

    import os
    path = os.path.join(os.path.dirname(__file__), "..", "_build",
                        "big_doc.parquet")
    pq.write_table(pa.table({
        "url": ["https://big.example/doc"],
        "html": pa.array([payload], type=pa.binary()),
        "lang": ["eng"],
    }), path)
    row = extract_pages(spark.read.parquet(path)).first()
    assert row.status == "ok"
    assert row.n_pages == 150
    assert row.n_words == expected["n_words"] == 150 * 400
    assert row.text == expected["text"]


def test_emit_spans_match_extract_document(spark, fixture_pages_path):
    """With ``emit_spans`` the Arrow operator's ``spans`` column carries,
    per url, exactly the span tuples ``extract_document`` returns — for the
    fixture corpus (WBOX, HTML and edge docs) plus genuine PDFs."""
    from pdf_ocr_engine_spark.core.extract_doc import (
        ExtractOptions,
        extract_document,
    )
    from pdf_ocr_engine_spark.sources.fixtures import (
        text_to_real_pdf_payload,
        text_to_truetype_pdf_payload,
    )

    opts = ExtractOptions(emit_spans=True)
    pages = spark.read.parquet(fixture_pages_path).select("url", "html",
                                                           "lang")
    text = "genuine pdf words flow through the spans column " * 12
    real = spark.createDataFrame(
        [("https://real.example/a.pdf", text_to_real_pdf_payload(text), "eng"),
         ("https://real.example/b.pdf",
          text_to_truetype_pdf_payload(text), "eng")],
        pages.schema)
    rows = extract_pages(pages.unionByName(real), opts) \
        .select("url", "spans").collect()
    payloads = {r.url: (r.html, r.lang)
                for r in pages.unionByName(real).collect()}
    assert len(rows) == len(payloads) == 122
    n_spans = 0
    for row in rows:
        html, lang = payloads[row.url]
        want = extract_document(html, lang, opts).get("spans") or []
        assert [tuple(s) for s in row.spans] == [tuple(s) for s in want], \
            row.url
        n_spans += len(want)
    assert n_spans > 1000
