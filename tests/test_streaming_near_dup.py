"""Streaming near-dup flagging: cross-batch LSH bucket state must
converge to the batch rule — flagged set ≡ b-sides of lsh_candidates
over the concatenated corpus — including the late-arriving-minimum
correction, and independent of arrival order."""

from __future__ import annotations

import json

import pytest

from quackpipe_spark.operators.dedup import lsh_candidates, minhash_signatures
from quackpipe_spark.streaming.stateful import streaming_near_dup_flags

DOC_A = "the quick brown fox jumps over the lazy dog near the old river bank today"
DOC_B = "completely unrelated text about distributed query engines and shuffles"
DOC_C = "a third cluster of words concerning parquet files and row groups here"


def _run_stream(spark, tmp_path, batches, name, **op_kwargs):
    src = tmp_path / f"{name}_src"
    src.mkdir()
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = streaming_near_dup_flags(stream, **op_kwargs)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
        .start()
    )
    try:
        for bi, batch in enumerate(batches):
            (src / f"b{bi}.json").write_text(
                "\n".join(
                    json.dumps({"doc_id": i, "text": t}) for i, t in batch
                )
            )
            q.processAllAvailable()
        rows = spark.sql(f"SELECT * FROM {name}").collect()
    finally:
        q.stop()
    return rows


def _batch_flagged(spark, docs):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sigs = minhash_signatures(df)
    return {r["b"] for r in lsh_candidates(sigs).collect()}


def test_streaming_flags_match_batch_rule_with_late_minimum(spark, tmp_path):
    # batch 1: dups 9 & 5 of DOC_A; batch 2 brings the TRUE minimum 3 —
    # the dethroned keeper 5 must get a correction row
    b1 = [(9, DOC_A), (5, DOC_A), (20, DOC_B)]
    b2 = [(3, DOC_A), (21, DOC_C)]
    rows = _run_stream(spark, tmp_path, [b1, b2], "near_dup_t1")
    flagged = {r["doc_id"] for r in rows}
    partners = {r["doc_id"]: r["partner_id"] for r in rows}
    assert flagged == _batch_flagged(spark, b1 + b2) == {5, 9}
    # after the correction, the bucket canonical is 3
    assert partners[5] == 3  # latest update row for 5 is the correction
    # every flagged row names a smaller partner
    assert all(r["partner_id"] < r["doc_id"] for r in rows)


def test_streaming_flags_are_arrival_order_invariant(spark, tmp_path):
    docs = [
        (1, DOC_A), (2, DOC_A), (3, DOC_A),
        (10, DOC_B), (11, DOC_B),
        (30, DOC_C),
    ]
    expect = _batch_flagged(spark, docs)
    assert expect == {2, 3, 11}
    forward = [docs[:2], docs[2:4], docs[4:]]
    backward = [docs[::-1][:2], docs[::-1][2:4], docs[::-1][4:]]
    f1 = {
        r["doc_id"]
        for r in _run_stream(spark, tmp_path, forward, "near_dup_fwd")
    }
    f2 = {
        r["doc_id"]
        for r in _run_stream(spark, tmp_path, backward, "near_dup_bwd")
    }
    assert f1 == f2 == expect


def test_sig_partitions_fanout_is_row_identical(spark, tmp_path):
    """The sig_partitions fan-out (r16: parallelizes the md5 signature
    pass for big micro-batches) must not change a single emitted row:
    every (band, bucket) group receives the same row SET through the
    state shuffle regardless of upstream partitioning, and the per-
    bucket update is order-free. Compare full row multisets, not just
    the flagged id set."""
    batches = [
        [(9, DOC_A), (5, DOC_A), (20, DOC_B)],
        [(3, DOC_A), (21, DOC_C), (22, DOC_B)],
    ]
    base = _run_stream(spark, tmp_path, batches, "near_dup_sp_base")
    fanned = _run_stream(
        spark, tmp_path, batches, "near_dup_sp_fan", sig_partitions=3
    )
    key = lambda r: (r["doc_id"], r["partner_id"], r["band"], r["band_hash"])
    assert sorted(map(key, fanned)) == sorted(map(key, base))


def test_sig_partitions_zero_is_rejected(spark, tmp_path):
    empty_src = tmp_path / "sp_guard_src"
    empty_src.mkdir()
    with pytest.raises(ValueError, match="sig_partitions"):
        streaming_near_dup_flags(
            spark.readStream.schema("doc_id long, text string").json(
                str(empty_src)
            ),
            sig_partitions=0,
        )


def test_streaming_short_and_unique_docs_unflagged(spark, tmp_path):
    rows = _run_stream(
        spark,
        tmp_path,
        [[(1, "too short"), (2, DOC_A)], [(3, DOC_B)]],
        "near_dup_neg",
    )
    assert rows == []
