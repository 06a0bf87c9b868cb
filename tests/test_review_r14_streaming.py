"""Regression tests for the r14 streaming-module review findings."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_streaming_exact_dedup_excludes_null_text(spark, tmp_path):
    """NULL-text docs must be EXCLUDED like batch exact_dedup (their
    content is unknown, not identical): md5(NULL) is NULL, so without the
    filter every NULL-text doc collapsed under ONE NULL-fingerprint state
    key, marking unknown-content docs as duplicates of each other and
    breaking the stream≡batch determinism contract."""
    from quackpipe_spark.streaming.stateful import streaming_exact_dedup

    src = tmp_path / "src"
    src.mkdir()
    (src / "b1.json").write_text(
        '{"doc_id": 1, "text": null}\n'
        '{"doc_id": 2, "text": null}\n'
        '{"doc_id": 3, "text": "real text"}\n'
    )
    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    q = (
        streaming_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName("null_text_dedup_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM null_text_dedup_test").collect()
    finally:
        q.stop()
    fps = {r["fingerprint"] for r in rows}
    assert None not in fps
    assert len(rows) == 1 and rows[0]["n_copies"] == 1  # only the real doc


def test_ingest_service_discard_fails_promises_and_clears(spark, tmp_path):
    """discard() must drop every buffered row and fail its promises —
    the streaming replay seam: a foreachBatch body dying after buffering
    must not leave rows that a replayed batch would duplicate."""
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.ingest import IngestService, ingest_lines

    svc = IngestService(spark, Catalog(str(tmp_path / "root")), save_timeout_s=3600)
    promises = ingest_lines(svc, "m f=1.0 1000\nm f=2.0 2000", db="d")
    dropped = svc.discard(RuntimeError("batch failed mid-write"))
    assert dropped == 2
    for p in promises:
        with pytest.raises(RuntimeError, match="batch failed mid-write"):
            p.result(timeout=1)
    # buffers are empty: a fresh flush writes nothing
    assert svc.flush() == 0


def test_stream_lines_rejects_unknown_precision(spark, tmp_path):
    """An invalid precision must fail at stream START, not be treated as
    malformed DATA per line (which would silently dead-letter or skip the
    entire stream forever)."""
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.streaming.ingest import stream_lines_to_table

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(F.col("value").cast("string"))
    )
    with pytest.raises(ValueError, match="unknown precision"):
        stream_lines_to_table(
            spark,
            Catalog(str(tmp_path / "root")),
            stream,
            precision="usec",
            malformed="dead_letter",
        )


def test_windowed_counts_rejects_subsecond_windows(spark):
    """Sub-second windows truncate to identical whole-second boundary
    rows — refuse instead of emitting indistinguishable windows."""
    from quackpipe_spark.streaming.ingest import windowed_counts

    ev = spark.createDataFrame([(1_000_000_000, "a")], "ts long, event_type string")
    with pytest.raises(ValueError, match="sub-second"):
        windowed_counts(ev, window="500 milliseconds")
    with pytest.raises(ValueError, match="sub-second"):
        windowed_counts(ev, window="0.5 seconds")
    # whole-second windows still work
    assert windowed_counts(ev, window="1 second").count() == 1


def test_running_totals_emits_full_precision(spark, tmp_path):
    """The emitted lifetime total must be the state's full precision, not
    a round-4 quantization (any sub-1e-4 accumulation would otherwise
    vanish from every emitted row)."""
    from quackpipe_spark.streaming.stateful import running_totals

    src = tmp_path / "src"
    src.mkdir()
    (src / "b1.json").write_text(
        '{"user_id": 1, "value": 0.00001}\n{"user_id": 1, "value": 0.00002}\n'
    )
    stream = spark.readStream.schema("user_id long, value double").json(str(src))
    q = (
        running_totals(stream)
        .writeStream.format("memory")
        .queryName("full_precision_totals_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM full_precision_totals_test").collect()
    finally:
        q.stop()
    row = rows[-1]
    assert row["total"] == pytest.approx(0.00003, rel=1e-9)
    assert row["total"] != 0.0


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_id_codec_empty_chunk_has_no_minimum(spark, id_type):
    """An empty chunk has no batch minimum for integral ids, as for
    string ids: min() of an empty list used to raise on the int path."""
    import pandas as pd

    from quackpipe_spark.streaming.stateful import _id_codec

    docs = spark.createDataFrame([], f"doc_id {id_type}, text string")
    _expr, _type, batch_min_of, batch_ids_of = _id_codec(docs, "doc_id")
    empty = pd.DataFrame({"_id": []})
    assert batch_min_of(empty) is None
    assert batch_ids_of(empty) == []
