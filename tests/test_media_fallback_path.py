"""The media kernel has two row sources with identical semantics:
python-direct parquet row-group reads (a bare parquet scan of the media
table) and Arrow batches (any other DataFrame). This suite pins the
Arrow source and the dangling-media_ref contract on both."""

from __future__ import annotations

import numpy as np
import pytest

from ocr_service_spark.config import ExtractConfig
from ocr_service_spark.kernels.media import encode_simg
from ocr_service_spark.pipeline.extract import run_extract


def _mk_blob(lines, conf=0.9):
    rng = np.random.default_rng(7)
    px = rng.integers(120, 200, size=(40, 30)).astype(np.uint8)
    meta = {
        "w": 30, "h": 40,
        "quad": [[4, 5], [26, 5], [26, 35], [4, 35]],
        "lines": lines,
        "conf": {"tesseract_preprocessed": conf, "paddleocr_preprocessed": 0.2, "paddleocr_warped": 0.2},
    }
    return encode_simg(meta, px)


@pytest.fixture(scope="module")
def frames(spark):
    docs = spark.createDataFrame(
        [
            ("d1", [
                {"kind": "text", "text": "hello  world", "media_ref": None, "offset": 1},
                {"kind": "media", "text": None, "media_ref": "m1", "offset": 0},
            ]),
            ("d2", [
                {"kind": "media", "text": None, "media_ref": "GONE", "offset": 0},
            ]),
        ],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    media = spark.createDataFrame(
        [("m1", bytearray(_mk_blob(["alpha beta"])), len(_mk_blob(["alpha beta"])))],
        "media_ref string, content binary, file_size int",
    )
    return docs, media


def _collect_spans(output):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for r in output.collect()
    }


def test_fallback_path_used_for_inmemory_media(spark, frames):
    docs, media = frames
    assert media.inputFiles() == []  # precondition: not file-backed
    output, metrics = run_extract(spark, docs, media, ExtractConfig())
    got = _collect_spans(output)
    # d1: media span (order 0, offset 0) then text span (order 1)
    assert got["d1"][0] == ("media_text", "alpha beta", "m1", 0)
    assert got["d1"][1][0] == "text" and got["d1"][1][3] == 1
    assert sum(m["n_blobs"] for m in metrics.collect()) == 1


def test_empty_spans_doc_survives(spark, frames):
    """A document with an empty (or null) spans array must appear in the
    output with spans = [], not silently disappear."""
    docs = spark.createDataFrame(
        [("empty", []), ("nullspans", None),
         ("normal", [{"kind": "text", "text": "hi", "media_ref": None, "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    media = spark.createDataFrame(
        [], "media_ref string, content binary, file_size int"
    )
    output, _ = run_extract(spark, docs, media, ExtractConfig())
    got = _collect_spans(output)
    assert got["empty"] == []
    assert got["nullspans"] == []
    assert got["normal"] == [("text", "hi", None, 0)]


def test_dangling_media_ref_yields_failed_span(spark, frames):
    docs, media = frames
    output, _ = run_extract(spark, docs, media, ExtractConfig())
    got = _collect_spans(output)
    # no blob row for ref GONE → media_text span with null text, order kept
    assert got["d2"] == [("media_text", None, "GONE", 0)]


def test_filtered_media_frame_honors_plan(spark, dataset):
    """A filtered media frame must NOT be direct-read (the direct path
    reads whole files and would ignore the filter): excluded blobs yield
    dangling-ref spans, exactly like the Arrow path."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(dataset["documents"])
    media = spark.read.parquet(dataset["media"])
    some_ref = media.select("media_ref").first()["media_ref"]
    filtered = media.filter(F.col("media_ref") != some_ref)
    output, _ = run_extract(spark, docs, filtered, ExtractConfig())
    spans = _collect_spans(output)
    hits = [
        s
        for doc in spans.values()
        for s in doc
        if s[2] == some_ref
    ]
    assert hits, "dataset should reference the excluded blob"
    # excluded blob → no extraction result joined in (null text)
    assert all(s[1] is None for s in hits)


def _run_outputs(spark, docs, media):
    """(span sequences, _metrics n_blobs/ocr_chars totals, recognition
    records by media_ref without processing_ms) of one run."""
    from pyspark.sql import functions as F

    details = []
    output, metrics = run_extract(
        spark, docs, media, ExtractConfig(), details_out=details
    )
    totals = metrics.agg(F.sum("n_blobs"), F.sum("ocr_chars")).first()
    records = {
        r["media_ref"]: r.asDict(recursive=True)
        for r in details[0].drop("processing_ms").collect()
    }
    return _collect_spans(output), tuple(totals), records


def test_direct_and_fallback_paths_agree(spark, dataset):
    """Same dataset through both row sources of the media kernel →
    identical span output, metrics totals and recognition records. The
    bare media scan takes the direct atom reader; a projection of it is
    no bare scan, so it takes the Arrow source."""
    from ocr_service_spark.pipeline.extract import _direct_read_splits

    docs = spark.read.parquet(dataset["documents"])
    media = spark.read.parquet(dataset["media"])
    projected = media.select("media_ref", "content", "file_size")
    assert _direct_read_splits(media) is not None
    assert _direct_read_splits(projected) is None
    spans, totals, records = _run_outputs(spark, docs, media)
    assert totals[0] == len(records) > 0
    assert (spans, totals, records) == _run_outputs(spark, docs, projected)
