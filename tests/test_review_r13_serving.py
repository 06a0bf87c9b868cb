"""Crash-safety of the partition index's save(): a failed fsync aborts
the save and keeps the old index on disk."""

from __future__ import annotations

import pytest


def test_index_save_aborts_on_fsync_failure(tmp_path, monkeypatch):
    """A failed fsync must ABORT the save (keeping the old index), never
    proceed to the rename: Linux clears the dirty state after reporting
    EIO, so renaming anyway publishes a metadata.json whose data blocks
    may never reach disk — the empty-index-after-power-loss hazard."""
    import os

    from quackpipe_spark.plans.index import FileEntry, PartitionIndex

    pdir = str(tmp_path / "p")
    os.makedirs(pdir)
    idx = PartitionIndex(pdir)
    idx.add(FileEntry(name="a.1.parquet", size_bytes=10, row_count=1))
    idx.save()

    real_fsync = os.fsync

    def failing_fsync(fd):
        raise OSError(5, "Input/output error")

    import quackpipe_spark.plans.index as index_mod

    monkeypatch.setattr(index_mod.os, "fsync", failing_fsync)
    idx.add(FileEntry(name="b.1.parquet", size_bytes=20, row_count=2))
    with pytest.raises(OSError):
        idx.save()
    monkeypatch.setattr(index_mod.os, "fsync", real_fsync)
    # the OLD index is intact on disk and the tmp file was cleaned up
    reloaded = PartitionIndex.load(pdir)
    assert set(reloaded.files) == {"a.1.parquet"}
    assert not [f for f in os.listdir(pdir) if f.endswith(".tmp")]
    # and a later healthy save succeeds
    idx.save()
    assert set(PartitionIndex.load(pdir).files) == {"a.1.parquet", "b.1.parquet"}
