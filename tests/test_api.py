"""Public API surface: the read_pdf/TableList analogues with the
flavor kwarg (reference table_extractor.py:55-205)."""

import os

import pytest


@pytest.fixture(scope="module")
def corpus(fixture_root):
    return os.path.join(fixture_root, "sf0.001", "documents_spans.parquet")


def test_flavor_forcing_semantics(spark, corpus):
    from pdf_table_spark.api import read_documents_flat
    auto = read_documents_flat(spark, corpus, flavor="auto")
    lattice = read_documents_flat(spark, corpus, flavor="lattice")
    stream = read_documents_flat(spark, corpus, flavor="stream")

    def tables_with_width(df):
        # lattice tables serialize with width="..%"; stream ones don't.
        # Restrict to the digital path (accuracy non-null): OCR-path
        # tables are flavor-INdependent and the logi contract also
        # serializes widths.
        return df.filter(
            (df.kind == "table_html") & df.text.contains('width="')
            & df.accuracy.isNotNull()
        ).count()

    assert tables_with_width(lattice) > 0
    assert tables_with_width(stream) == 0   # no ruled decoding at all
    # auto ⊇ both: it has ruled AND whitespace tables
    n_auto = auto.filter(auto.kind == "table_html").count()
    assert n_auto >= tables_with_width(lattice)
    # stream flavor still extracts whitespace tables somewhere
    assert stream.filter(stream.kind == "table_html").count() > 0
    # html_table/ocr/image spans are flavor-independent
    for df in (auto, lattice, stream):
        assert df.filter(df.kind == "image").count() \
            == auto.filter(auto.kind == "image").count()


def test_flavor_validation(spark, corpus):
    from pdf_table_spark.core.page import extract_pdf_page
    with pytest.raises(ValueError, match="unknown flavor"):
        extract_pdf_page("{}", "m", flavor="bogus")


def test_extract_tables_tablelist_surface(spark, corpus):
    from pdf_table_spark.api import extract_tables
    rows = extract_tables(spark, corpus).limit(50).collect()
    assert rows
    for r in rows:
        assert r.table_html.startswith("<table")
        assert r.csv is not None and r.markdown is not None
        assert r.sqlite_sql is not None and r.excel_xml is not None
        assert r.html_db is not None and "width" not in r.html_db


def test_document_html_and_page_spec(spark, corpus):
    from pdf_table_spark.api import document_html, read_documents_flat
    html = document_html(spark, corpus).collect()
    assert all(r.html is not None for r in html)
    # page spec: page 1 only → no doc yields MORE spans than 'all'
    all_counts = {r.doc_id: r.n for r in read_documents_flat(
        spark, corpus).groupBy("doc_id").count()
        .withColumnRenamed("count", "n").collect()}
    p1_counts = {r.doc_id: r.n for r in read_documents_flat(
        spark, corpus, pages="1").groupBy("doc_id").count()
        .withColumnRenamed("count", "n").collect()}
    assert all(p1_counts[d] <= all_counts[d] for d in p1_counts)
    assert any(p1_counts.get(d, 0) < all_counts[d] for d in all_counts)


def test_extract_tables_single_extraction_pass(spark, corpus):
    """The table fragments go from the extraction straight into ONE
    export stage: the extraction runs once, nothing is cached, and no
    join brings the rendered columns back. The rows equal the export
    fan-out joined back to the table HTML and its quality metrics."""
    import re

    from pyspark.sql import functions as F

    from pdf_table_spark.api import extract_tables, read_documents_flat
    from pdf_table_spark.ops.export import export_tables

    df = extract_tables(spark, corpus)
    rows = df.collect()
    assert rows
    # the AQE root's final physical plan, after the collect ran it
    plan = df._jdf.queryExecution().executedPlan().executedPlan() \
        .toString()
    assert len(re.findall(r"MapInArrow _extract_batches\(", plan)) == 1
    assert len(re.findall(r"MapInArrow _export_batches\(", plan)) == 1
    assert plan.count("MapInArrow") == 2
    assert "Join" not in plan
    assert "InMemoryTableScan" not in plan

    flat = read_documents_flat(spark, corpus)
    tables = flat.filter(F.col("kind") == "table_html").select(
        "doc_id", "offset", F.col("text").alias("table_html"),
        "accuracy", "whitespace")
    joined = tables.join(export_tables(flat), ["doc_id", "offset"]) \
        .select(*df.columns)

    def key(r):
        return (r.doc_id, r.offset)

    assert [tuple(r) for r in sorted(rows, key=key)] \
        == [tuple(r) for r in sorted(joined.collect(), key=key)]


def test_document_html_page_separator(spark, corpus):
    """Multi-source-span docs join page HTML with the reference CLI's
    '@@@@@@' merge separator (cli/main.py:164-226); single-span docs
    carry none; merge_sep='' restores the unseparated merge."""
    from pyspark.sql import functions as F

    from pdf_table_spark.api import document_html

    html = document_html(spark, corpus)
    docs = spark.read.parquet(corpus).select(
        "doc_id", F.size("spans").alias("n_spans"))
    joined = {r.doc_id: (r.html, r.n_spans)
              for r in html.join(docs, "doc_id").collect()}
    multi = [h for h, n in joined.values() if n > 1 and "@@@@@@" in h]
    assert multi, "some multi-span doc must carry the page separator"
    for h, n in joined.values():
        seps = h.count("@@@@@@")
        assert seps <= n - 1  # at most one separator per span boundary
        if n == 1:
            assert seps == 0
        if seps:
            assert "@@@@@@\n" in h  # reference joins with sep + newline

    plain = document_html(spark, corpus, merge_sep="")
    assert not any("@@@@@@" in r.html for r in plain.collect())


def test_document_text_joins_paragraphs(spark, fixture_root):
    import os
    from pdf_table_spark import api
    from pyspark.sql import functions as F
    path = os.path.join(fixture_root, "sf0.001",
                        "documents_spans.parquet")
    txt = api.document_text(spark, path)
    flat = api.read_documents_flat(spark, path)
    # every doc appears once; text = its paragraph fragments in order
    assert txt.count() == flat.select("doc_id").distinct().count()
    para = (flat.filter(F.col("kind") == "paragraph")
            .groupBy("doc_id").count())
    joined = txt.join(para, "doc_id").withColumn(
        "n_lines", F.when(F.col("text") == "", 0).otherwise(
            F.size(F.split("text", "\n"))))
    bad = joined.filter(F.col("n_lines") != F.col("count")).count()
    assert bad == 0
    # and it feeds the corpus ops directly
    from pdf_table_spark.ops.text import token_stats
    assert token_stats(txt).count() == txt.count()
