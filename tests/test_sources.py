"""SRC1-SRC8: file scans, format dispatch, page concat, parquet sink."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import types as T

from resume_jd_matcher_spark.sources.io import (
    concat_pages,
    driver_frame,
    format_dispatch,
    scan_binary_files,
    scan_text_files,
    write_parquet,
)


def test_text_scan_whole_files(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("txts")
    (d / "a.txt").write_text("hello\nworld")
    (d / "b.txt").write_text("resume body")
    df = scan_text_files(spark, str(d))
    rows = {os.path.basename(r.path): r.text for r in df.collect()}
    assert rows["a.txt"] == "hello\nworld"
    assert rows["b.txt"] == "resume body"


def test_binary_scan(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("bins")
    (d / "x.pdf").write_bytes(b"%PDF-1.4 fake")
    df = scan_binary_files(spark, str(d))
    row = df.collect()[0]
    assert bytes(row.content).startswith(b"%PDF")
    assert row.length == len(b"%PDF-1.4 fake")


def test_format_dispatch_quarantines_unknown(spark):
    df = spark.createDataFrame(
        [("a/r1.PDF",), ("b/r2.docx",), ("c/r3.txt",), ("d/r4.exe",), ("e/noext",)],
        ["path"],
    )
    got = {r.path: r.route for r in format_dispatch(df).collect()}
    assert got == {
        "a/r1.PDF": "pdf",
        "b/r2.docx": "docx",
        "c/r3.txt": "txt",
        "d/r4.exe": "quarantine",
        "e/noext": "quarantine",
    }


def test_concat_pages_restores_order(spark):
    pages = spark.createDataFrame(
        [(1, 2, "second"), (1, 1, "first"), (1, 3, "third"), (2, 1, "solo")],
        ["doc_id", "page", "text"],
    )
    got = {r.doc_id: r.text for r in concat_pages(pages).collect()}
    assert got == {1: "first\nsecond\nthird", 2: "solo"}


def test_parquet_sink_roundtrip(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sink") / "out")
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    write_parquet(df, d, partition_by=["v"])
    back = spark.read.parquet(d)
    assert sorted(map(tuple, back.select("k", "v").collect())) == [(1, "a"), (2, "b")]


FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def test_codecs_golden_bytes():
    """Pure-codec contract on REAL file bytes (no Spark): the checked-in
    PDF/DOCX fixtures decode to their known text."""
    from resume_jd_matcher_spark.functions.codecs import (
        DecodeError,
        docx_extract_text,
        pdf_extract_text,
        txt_extract_text,
    )

    pdf = open(os.path.join(FIXTURES, "resume.pdf"), "rb").read()
    text = pdf_extract_text(pdf)
    assert "Jane Doe Resume" in text
    assert "Skills: Apache Spark (PySpark)" in text  # escaped parens

    docx = open(os.path.join(FIXTURES, "resume.docx"), "rb").read()
    text = docx_extract_text(docx)
    assert text.splitlines() == [
        "John Smith Resume",
        "Skills: SQL & Spark",   # entity decoded
        "Education: CS degree",
    ]

    assert txt_extract_text(b"plain\n") == "plain\n"

    import pytest as _pytest

    with _pytest.raises(DecodeError):
        pdf_extract_text(b"not a pdf")
    with _pytest.raises(DecodeError):
        docx_extract_text(b"not a zip")


def test_pdf_flate_compressed_stream_decodes():
    """FlateDecode content streams (the common case in real PDFs) must
    decode via the stdlib zlib pass — no pymupdf in this environment
    (reference uses PyMuPDF, utils.py:12-13)."""
    from resume_jd_matcher_spark.functions.codecs import pdf_extract_text

    blob = open(os.path.join(FIXTURES, "resume_flate.pdf"), "rb").read()
    assert b"/FlateDecode" in blob
    assert b"Jane Doe Resume" not in blob  # genuinely compressed
    text = pdf_extract_text(blob)
    assert "Jane Doe Resume" in text
    assert "Skills: Apache Spark (PySpark)" in text
    assert "Experience: data engineering" in text


def test_binary_scan_decode_pipeline(spark):
    """SRC1/SRC2 end-to-end on real bytes: distributed binary scan →
    extension dispatch → mapInPandas decode; corrupt and unsupported
    files survive as decode_error/quarantine rows."""
    import shutil
    import tempfile

    from resume_jd_matcher_spark.sources.io import (
        decode_documents,
        scan_binary_files,
    )

    work = tempfile.mkdtemp(prefix="codec_scan_")
    try:
        for name in ("resume.pdf", "resume.docx", "resume.txt", "malware.xyz"):
            shutil.copy(os.path.join(FIXTURES, name), work)
        # a corrupt PDF: right extension, wrong bytes
        with open(os.path.join(work, "broken.pdf"), "wb") as f:
            f.write(b"\xde\xad\xbe\xef")

        scanned = format_dispatch(scan_binary_files(spark, work))
        out = {
            os.path.basename(r.path): r
            for r in decode_documents(scanned).collect()
        }
        assert "Jane Doe Resume" in out["resume.pdf"].text
        assert out["resume.pdf"].status == "ok"
        assert "John Smith Resume" in out["resume.docx"].text
        assert out["resume.docx"].status == "ok"
        assert out["resume.txt"].text.startswith("Plain text resume")
        assert out["malware.xyz"].status == "quarantine"
        assert out["malware.xyz"].text is None
        assert out["broken.pdf"].status == "decode_error"
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_sql_api_views_share_plan_space(spark, sf_dir):
    """SQL front-end parity: registered views answer spark.sql with
    the same results and the same optimizations (pushdown) as the
    DataFrame API."""
    from pyspark.sql import functions as F

    from resume_jd_matcher_spark.api import register_tables
    from conftest import physical_plan
    from resume_jd_matcher_spark.sources.io import load_table

    names = register_tables(spark, sf_dir)
    assert "documents" in names and len(names) == 10
    got = spark.sql(
        "SELECT lang, count(*) AS n FROM documents GROUP BY lang"
    ).collect()
    want = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    plan = physical_plan(
        spark.sql("SELECT doc_id FROM documents WHERE doc_id < 10")
    )
    assert "PushedFilters: [" in plan and "doc_id" in plan.split(
        "PushedFilters:"
    )[1].split("]")[0]


def test_scan_cache_repartition_preserves_results(spark):
    """r13: the bench's scan cache spreads non-tiny tables across the
    session's cores at fill time (a 1-partition cached fixture pinned
    every pre-shuffle pipeline to one core). The round-robin layout
    must be result-invisible — including to queries whose semantics
    could plausibly depend on physical row order (the doc_id prefix
    scan of compaction bins, zone-map block spans)."""
    from resume_jd_matcher_spark import queries as Q
    from resume_jd_matcher_spark.operators import dedup
    from resume_jd_matcher_spark.sources import io as src_io

    sf = "/root/testdata/sf0.001"
    names = ["compaction_plan", "sort_key_advisor"]

    def run(name):
        rows = sorted(map(str, Q._REGISTRY[name].fn(spark, sf).collect()))
        dedup.release_persisted()
        return rows

    src_io.enable_scan_cache(False)
    cold = {n: run(n) for n in names}
    try:
        src_io.enable_scan_cache(True)
        # force the repartition arm regardless of fixture size: patch
        # the threshold check by warming at sf0.001 (files are tiny, so
        # exercise the arm via a direct cache fill of a repartitioned
        # frame)
        for n in src_io.TABLES:
            df = spark.read.parquet(f"{sf}/{n}.parquet")
            if n == "events":
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
                df = src_io.normalize_events_ts(
                    spark.read.parquet(f"{sf}/{n}.parquet")
                )
            df = df.repartition(spark.sparkContext.defaultParallelism).persist()
            src_io._SCAN_CACHE[(sf, n)] = df
        warm = {n: run(n) for n in names}
    finally:
        src_io.enable_scan_cache(False)  # clears the cache
    assert warm == cold


@pytest.mark.parametrize("n", [0, 1])
def test_driver_frame_collect_runs_no_job(spark, count_jobs, n):
    """A driver-built frame is a local relation whatever its size: its
    collect runs no Spark job, the empty frame included (PySpark builds
    an empty pandas frame as an RDD)."""
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    pdf = pd.DataFrame({"doc_id": list(range(n)), "text": ["resume"] * n})
    df = driver_frame(spark, pdf, schema)
    rows, jobs = count_jobs(df.collect)
    assert df.schema == schema
    assert [tuple(r) for r in rows] == [(i, "resume") for i in range(n)]
    assert jobs == 0
