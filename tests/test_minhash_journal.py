"""The minhash-index append on the publish journal (plans/journal.py).

append_to_minhash_index stages both relations and publishes them as one
journal commit. tests/test_journal.py proves the protocol at every
filesystem step; these tests pin the append's integration with it
in-process, and tests/test_soak_kill_index.py SIGKILLs a real appender
subprocess.

Crash taxonomy:
- pre-commit (stage staged, no marker): nothing visible; the stage is
  swept at the next WRITER entry (readers must leave it — it may belong
  to a live appender) and a re-run is clean.
- post-commit (marker durable, moves incomplete): BOTH relations roll
  forward at the next index access — probe or append, either side — and
  a write_id re-run skips as already applied (exactly-once).
"""

from __future__ import annotations

import os

import pytest

import quackpipe_spark.operators.dedup as D
from quackpipe_spark.plans import journal


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, f"the quick brown fox jumps over the lazy dog number {i}") for i in ids],
        "doc_id long, text string",
    )


def _clone(spark, i, of):
    return spark.createDataFrame(
        [(i, f"the quick brown fox jumps over the lazy dog number {of}")],
        "doc_id long, text string",
    )


@pytest.fixture
def idx(spark, tmp_path):
    path = str(tmp_path / "mhidx")
    D.write_minhash_index(_docs(spark, range(10)), path, num_hashes=8, bands=4)
    return path


def _probe_pairs(spark, path, i, of):
    return {
        (r["new_id"], r["old_id"])
        for r in D.exact_dups_against_index(_clone(spark, i, of), path).collect()
    }


def test_append_publishes_both_relations_atomically(spark, idx):
    D.append_to_minhash_index(_clone(spark, 100, 3), idx, compact_over_files=None)
    assert spark.read.parquet(f"{idx}/fingerprints").count() == 11
    bands = spark.read.parquet(f"{idx}/bands")
    assert bands.filter("doc_id = 100").count() == 4  # bands rows landed too
    assert _probe_pairs(spark, idx, 200, 3) == {(200, 3), (200, 100)}
    assert not [f for f in os.listdir(idx) if f.startswith(".journal-")]


def test_post_commit_crash_rolls_forward_at_next_probe(spark, idx, monkeypatch):
    # simulate a crash at the exact commit point: the marker is durable,
    # publish never ran
    monkeypatch.setattr(journal, "_roll_forward", lambda *a: None)
    D.append_to_minhash_index(
        _clone(spark, 100, 3), idx, compact_over_files=None, write_id="batch-1"
    )
    monkeypatch.undo()
    markers = [f for f in os.listdir(idx) if f.startswith(journal.MARKER)]
    stages = [f for f in os.listdir(idx) if f.startswith(journal.STAGE)]
    assert markers and stages, (markers, stages)
    # nothing published yet (the batch is invisible, not torn)
    assert spark.read.parquet(f"{idx}/fingerprints").count() == 10

    # ANY index access heals: a reader probe rolls the committed append
    # forward, equal to a never-crashed control
    assert _probe_pairs(spark, idx, 200, 3) == {(200, 3), (200, 100)}
    assert spark.read.parquet(f"{idx}/fingerprints").count() == 11
    assert spark.read.parquet(f"{idx}/bands").filter("doc_id = 100").count() == 4
    assert not [f for f in os.listdir(idx) if f.startswith(".journal-")]

    # the crashed appender's retry with the same write_id is a no-op
    D.append_to_minhash_index(
        _clone(spark, 100, 3), idx, compact_over_files=None, write_id="batch-1"
    )
    assert spark.read.parquet(f"{idx}/fingerprints").count() == 11


def test_pre_commit_crash_sweeps_at_writer_not_reader(spark, idx):
    # fabricate a pre-commit crash: a stage with no marker
    stage = os.path.join(idx, f"{journal.STAGE}deadbeef")
    os.makedirs(os.path.join(stage, "bands"))
    with open(os.path.join(stage, "bands", "junk.parquet"), "wb") as f:
        f.write(b"not parquet")

    # reader-side recovery leaves it (it may be a LIVE appender's stage)
    assert _probe_pairs(spark, idx, 200, 3) == {(200, 3)}
    assert os.path.isdir(stage)
    assert spark.read.parquet(f"{idx}/fingerprints").count() == 10

    # the single writer's next append sweeps it and lands cleanly
    D.append_to_minhash_index(_clone(spark, 100, 3), idx, compact_over_files=None)
    assert not os.path.isdir(stage)
    assert spark.read.parquet(f"{idx}/fingerprints").count() == 11
    assert not [f for f in os.listdir(idx) if f.startswith(".journal-")]


def test_write_id_replay_is_exactly_once(spark, idx):
    for _ in range(3):
        D.append_to_minhash_index(
            _clone(spark, 100, 3), idx, compact_over_files=None, write_id="b7"
        )
    assert spark.read.parquet(f"{idx}/fingerprints").count() == 11
    assert spark.read.parquet(f"{idx}/bands").filter("doc_id = 100").count() == 4


def test_write_id_requires_local_path(spark, idx):
    with pytest.raises(ValueError, match="posix-rename"):
        D.append_to_minhash_index(
            _clone(spark, 100, 3), "s3a://bucket/idx", write_id="b1"
        )


def test_legacy_pending_marker_still_refuses(spark, idx):
    open(os.path.join(idx, ".append-pending-dead"), "w").close()
    with pytest.raises(RuntimeError, match="append-pending"):
        D.exact_dups_against_index(_clone(spark, 200, 3), idx).collect()
