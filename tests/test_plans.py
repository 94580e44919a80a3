"""Optimizer-behavior pins: pushdown, pruning, codegen, no row-UDFs.

These tests fail if a future change accidentally widens a scan,
blocks a filter from reaching parquet, or sneaks a row-at-a-time
Python UDF into the pipeline."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from htmlparser_spark.kernel import extract_text
from htmlparser_spark.plans import (
    assert_no_python_row_udf,
    assert_pushed_filter,
    assert_read_schema_only,
    codegen_stage_count,
    explain_string,
    scan_info,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_column_pruning_reaches_scan(spark, docs):
    """Kernel input projection prunes the parquet read to (doc_id, text)."""
    df = extract_text(docs.select("doc_id", "text"), include_raw=False)
    assert_read_schema_only(df, ["doc_id", "text"])


def test_filter_pushdown_reaches_scan(spark, docs):
    df = docs.filter(F.col("lang") == "en").select("doc_id", "text")
    assert_pushed_filter(df, "lang")
    assert_read_schema_only(df, ["doc_id", "text", "lang"])


def test_partition_bucket_filter_pushdown(spark, tmp_path, docs):
    """Resume's bucket filter prunes partition directories at the scan
    (the read side of idempotent resume at 100 TB)."""
    out = str(tmp_path / "bucketed")
    docs.limit(200).withColumn(
        "partition_id", F.pmod(F.xxhash64("doc_id"), F.lit(4))) \
        .write.partitionBy("partition_id").parquet(out)
    back = spark.read.parquet(out).filter(~F.col("partition_id").isin([0, 1]))
    infos = scan_info(back)
    pf = " ".join(i.get("PartitionFilters", "") for i in infos)
    assert "partition_id" in pf, f"no partition pruning: {infos}"


def test_pipeline_has_no_row_python_udf(spark, docs):
    df = extract_text(docs.select("doc_id", "text"), include_raw=False)
    assert_no_python_row_udf(df)
    # and the Python that IS there is Arrow-batched, with no pandas
    # conversion on either side of the kernel
    plan = explain_string(df, "extended")
    assert "MapInArrow" in plan
    assert "MapInPandas" not in plan


def test_dedup_pipeline_plan_hygiene(spark, docs):
    """The minhash pipeline: parquet scan pruned to (doc_id, text),
    no row-at-a-time Python UDF anywhere (pandas/Arrow only)."""
    from htmlparser_spark.operators.dedup import minhash_dedup_pairs

    out = minhash_dedup_pairs(docs.select("doc_id", "text"),
                              threshold=0.5)
    assert_read_schema_only(out, ["doc_id", "text"])
    assert_no_python_row_udf(out)


def test_curation_gates_reach_scan(spark, docs):
    """Curation's language gate pushes to the parquet scan; the scan
    reads only the needed columns."""
    from htmlparser_spark.operators.curate import curate_corpus

    out = curate_corpus(docs.select("doc_id", "text", "lang"),
                        lang="en", min_tokens=5)
    assert_pushed_filter(out, "lang")
    assert_read_schema_only(out, ["doc_id", "text", "lang"])
    assert_no_python_row_udf(out)


def test_ivf_broadcasts_query_side(spark):
    """IVF candidate join broadcasts the (tiny) probe side — the
    corpus is never shuffled for candidate generation."""
    from htmlparser_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    plan = explain_string(ivf_topk(emb, queries, k=5))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_relational_ops_stay_in_codegen(spark):
    """Post-kernel relational work (filter/agg) compiles to
    WholeStageCodegen spans. (Plan built with AQE off: an unexecuted
    adaptive plan carries no codegen annotations to count.)"""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        df = (docs.select("doc_id", "source", F.length("text").alias("n"))
              .filter(F.col("n") > 10)
              .groupBy("source").agg(F.sum("n").alias("total")))
        assert codegen_stage_count(df) >= 1
        assert_no_python_row_udf(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_webfilter_pure_codegen_no_shuffle(spark, docs):
    """The C4/RefinedWeb filters are map-only codegen: no Python at
    all (not even pandas UDFs), no exchange in the plan, scan pruned
    to the used columns."""
    from htmlparser_spark.operators.webfilter import (
        c4_quality_flags, line_filter, url_canonicalize)

    for build in (
            lambda d: c4_quality_flags(d.select("doc_id", "text")),
            lambda d: line_filter(d.select("doc_id", "text")),
            lambda d: url_canonicalize(
                d.select("doc_id", F.col("source").alias("url")))):
        out = build(docs)
        plan = explain_string(out)
        assert_no_python_row_udf(out)
        assert "Python" not in plan and "MapInPandas" not in plan
        assert "Exchange" not in plan


def test_span_dedup_no_window_no_python(spark, docs):
    """C4 span dedup: the keeper choice is an aggregate (map-side
    combinable), never a window over a span-hash partition; no
    Python anywhere (md5 spans are codegen)."""
    from htmlparser_spark.operators.dedup import span_dedup

    out = span_dedup(docs.select("doc_id", "text"))
    plan = explain_string(out)
    assert_no_python_row_udf(out)
    assert "Python" not in plan
    assert "Window" not in plan
