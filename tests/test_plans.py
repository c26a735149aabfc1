"""Physical-plan regression tests — the 100 TB concerns, asserted on
`.explain` output: column pruning reaches the scan, filters push into
parquet, small dims broadcast, the extract stage stays narrow, top-k never
global-sorts.  A plan regression here is a scale bug even when every
correctness test stays green."""

import pytest
from pyspark.sql import functions as F

from pdf_ocr_engine_spark.operators.extract import extract_pages
from pdf_ocr_engine_spark.plans.pipeline import salted_repartition

pytestmark = pytest.mark.spark

SF_DIR = "/root/testdata/sf0.01"


def plan_str(df, mode="formatted"):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


def test_extract_scan_prunes_columns(spark, fixture_pages_path):
    """The pages table carries an output `text` column on input; the extract
    stage must never read it — ReadSchema stays at the 4 wanted columns."""
    pages = spark.read.parquet(fixture_pages_path)
    plan = plan_str(extract_pages(pages))
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, plan
    line = read_schema[0]
    for col in ("url", "warc_ts", "html", "lang"):
        assert col in line
    assert "text" not in line


def test_extract_and_assemble_are_arrow_only(spark, fixture_pages_path):
    """One Arrow path: extraction (with and without ``emit_spans``) and
    searchable assembly each plan a MapInArrow and no MapInPandas."""
    from pdf_ocr_engine_spark.core.extract_doc import ExtractOptions
    from pdf_ocr_engine_spark.operators.assemble import assemble_searchable

    pages = spark.read.parquet(fixture_pages_path)
    for df in (extract_pages(pages),
               extract_pages(pages, ExtractOptions(emit_spans=True)),
               assemble_searchable(pages)):
        plan = plan_str(df, "simple")
        assert "MapInArrow" in plan, plan
        assert "MapInPandas" not in plan, plan


def test_extract_is_narrow_no_shuffle(spark, fixture_pages_path):
    """scan → mapInArrow with zero Exchange; the ONLY shuffle in the DAG is
    the explicit salted repartition when requested."""
    pages = spark.read.parquet(fixture_pages_path)
    assert "Exchange" not in plan_str(extract_pages(pages))
    # "simple" mode prints each node once (formatted repeats them in the
    # details section, which would double-count)
    salted = plan_str(extract_pages(salted_repartition(pages, 8)), "simple")
    assert salted.count("Exchange") == 1, salted


def test_filter_pushdown_reaches_parquet(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_str(docs.where(F.col("doc_id") < 60).select("doc_id", "text"))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "LessThan(doc_id,60)" in pushed[0], plan


def test_nation_revenue_broadcasts_dim(spark):
    from pdf_ocr_engine_spark.queries import q_nation_revenue

    assert "BroadcastHashJoin" in plan_str(q_nation_revenue(spark, SF_DIR))


def test_topk_avoids_global_sort(spark):
    from pdf_ocr_engine_spark.queries import q_top_orders

    plan = plan_str(q_top_orders(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_event_gaps_single_shuffle(spark):
    from pdf_ocr_engine_spark.queries import q_event_gaps

    plan = plan_str(q_event_gaps(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_pricing_summary_partial_agg(spark):
    """Map-side combine: partial_sum before the exchange (two-phase agg)."""
    from pdf_ocr_engine_spark.queries import q_pricing_summary

    plan = plan_str(q_pricing_summary(spark, SF_DIR), "simple")
    assert "partial_sum" in plan or "HashAggregate" in plan
    exchanges = plan.count("Exchange hashpartitioning")
    assert exchanges == 1, plan


def test_real_pdf_extract_is_narrow(spark):
    """The real-PDF round-trip query keeps the extract shape: pruned scan,
    zero Exchange — content-stream parsing adds no shuffle."""
    from pdf_ocr_engine_spark.queries import q_extract_real_pdf

    plan = plan_str(q_extract_real_pdf(spark, SF_DIR))
    assert "Exchange" not in plan, plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "n_chars" not in read_schema[0]


def test_dedup_minhash_no_cross_product(spark):
    """The oracle-checked near-dup plan must contain no cartesian/nested-
    loop join anywhere — candidates come only from (band, band_hash)
    bucket equality."""
    from pdf_ocr_engine_spark.queries import q_dedup_minhash

    plan = plan_str(q_dedup_minhash(spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dedup_clusters_no_cross_product(spark):
    """Clustering is fed by the LSH candidate path (VERDICT round-1 item
    3): no crossJoin may appear in the checked plan."""
    from pdf_ocr_engine_spark.queries import q_dedup_clusters

    plan = plan_str(q_dedup_clusters(spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ann_topk_single_row_broadcast(spark):
    """The in-plan query-vector join is a broadcast of ONE row (the only
    acceptable nested-loop shape) and the top-k never global-sorts."""
    from pdf_ocr_engine_spark.queries import q_ann_cosine_topk

    plan = plan_str(q_ann_cosine_topk(spark, SF_DIR), "simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ocr_router_branches_stay_narrow(spark, fixture_pages_path):
    """The F6 routed plan: probe + filter + extract per branch must add NO
    shuffle — routing is a narrow predicate, not a repartition."""
    from pdf_ocr_engine_spark.operators.ocr import extract_with_ocr

    pages = spark.read.parquet(fixture_pages_path)
    plan = plan_str(extract_with_ocr(pages), "simple")
    assert "Exchange" not in plan, plan
    assert plan.count("Union") == 1, plan


def test_ivf_probe_broadcasts_query(spark):
    """ivf_topk_df: the single-row query must broadcast (never shuffle the
    corpus against it) and the top-k must stay TakeOrderedAndProject."""
    from pdf_ocr_engine_spark.operators.ann import ivf_topk_df

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
        .withColumn("list_id", (F.col("vec_id") % 4).cast("int"))
    cents = [[0.1] * 64, [0.2] * 64, [0.3] * 64, [0.4] * 64]
    qdf = emb.where("vec_id = 0").select("embedding")
    plan = plan_str(ivf_topk_df(emb, cents, qdf, k=10, nprobe=2))
    assert "Broadcast" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_assemble_overlay_chain_is_narrow(spark):
    """assemble(preserve_images, mapInArrow) → verify (mapInPandas) is a
    back-to-back chain with zero Exchange (the scanned corpus synthesis + overlay +
    re-extract all ride the same partitioning)."""
    from pdf_ocr_engine_spark.queries import q_assemble_overlay

    plan = plan_str(q_assemble_overlay(spark, SF_DIR), "simple")
    assert "Exchange" not in plan, plan
