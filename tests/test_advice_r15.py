"""Regression tests for the four ADVICE-r14→r15 findings fixed in round 15.

1. writer.py — _commit's per-dir setup (os.makedirs) runs INSIDE the
   classified try: a makedirs failure (ENOSPC/EACCES) on a later
   partition dir, after the first dir already committed, raises
   PartialWriteError (non-retryable 422 at the HTTP door) instead of a
   plain OSError that api.py maps to a retry-SAFE 503 — whose retry
   would duplicate the committed partitions.
2. operators/dedup.py — ``file:``-scheme minhash index paths are
   normalized before the os-level journal machinery runs, so appends to
   file:// paths that work through Spark keep working (the r14 pending
   marker passed the raw URI to open() and failed every such append).
3. plans/compactor.py — _sweep_tmp ages a staging dir by the newest
   mtime anywhere in its TREE, not the top-level dir's mtime: a bulk
   write staging under tmp/<uuid>/ writes inside nested _temporary/
   subdirs without touching the top dir, so a >1h-running bulk write's
   live stage was previously deleted mid-job by the compactor ticker.
4. api.py — permanent client-fault flush failures (schema/type conflict
   TypeError/ValueError from update_schema) return non-retryable 400,
   not the retry-safe 503 that would have a compliant client retrying a
   batch that can never succeed, forever.
"""

from __future__ import annotations

import json
import os
import time
import urllib.error
import urllib.request

import pytest

from quackpipe_spark.catalog import Catalog
from quackpipe_spark.writer import HiveWriter, PartialWriteError


# --- 1. _commit classifies per-dir setup failures ----------------------------


def _two_hour_df(spark):
    t0 = 1_700_000_000_000_000_000
    hour_ns = 3_600_000_000_000
    return spark.createDataFrame(
        [(t0, 1.0), (t0 + hour_ns, 2.0)], "__timestamp long, v double"
    )


def _failing_makedirs(monkeypatch, fail_on_nth_live_dir: int):
    """Patch writer-module os.makedirs to raise on the Nth DISTINCT live
    partition dir (paths containing 'hour='); staging/tmp makedirs pass
    through untouched."""
    import quackpipe_spark.writer as W

    real = os.makedirs
    seen: list[str] = []

    def fake(path, *a, **kw):
        if "hour=" in str(path):
            if path not in seen:
                seen.append(path)
            if seen.index(path) + 1 == fail_on_nth_live_dir:
                raise OSError(28, "No space left on device (simulated)", path)
        return real(path, *a, **kw)

    monkeypatch.setattr(W.os, "makedirs", fake)
    return seen


def test_commit_makedirs_failure_after_first_dir_is_partial(
    spark, tmp_path, monkeypatch
):
    cat = Catalog(str(tmp_path / "data"))
    w = HiveWriter(spark, cat)
    t = cat.get_or_create("db", "t")
    _failing_makedirs(monkeypatch, fail_on_nth_live_dir=2)
    with pytest.raises(PartialWriteError, match="committed"):
        w.write_df(t, _two_hour_df(spark))
    # the first dir really committed (the duplication hazard is real)
    committed = [
        f
        for root, _d, files in os.walk(t.path)
        for f in files
        if f.endswith(".parquet")
        and not root.startswith(os.path.join(t.path, "tmp"))
    ]
    assert len(committed) == 1, committed


def test_commit_makedirs_failure_on_first_dir_is_retryable(
    spark, tmp_path, monkeypatch
):
    cat = Catalog(str(tmp_path / "data"))
    w = HiveWriter(spark, cat)
    t = cat.get_or_create("db", "t")
    _failing_makedirs(monkeypatch, fail_on_nth_live_dir=1)
    # provably pre-save: plain OSError (retry-safe), nothing committed
    with pytest.raises(OSError) as ei:
        w.write_df(t, _two_hour_df(spark))
    assert not isinstance(ei.value, PartialWriteError)
    committed = [
        f
        for root, _d, files in os.walk(t.path)
        for f in files
        if f.endswith(".parquet")
        and not root.startswith(os.path.join(t.path, "tmp"))
    ]
    assert committed == []


# --- 2. file:-scheme minhash index paths -------------------------------------


def test_minhash_index_append_accepts_file_scheme(spark, tmp_path):
    import quackpipe_spark.operators.dedup as D

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox jumps over dog number {i}") for i in range(8)],
        "doc_id long, text string",
    )
    plain = str(tmp_path / "idx")
    D.write_minhash_index(docs, "file://" + plain, num_hashes=8, bands=4)
    # the index landed at the OS path, not under a junk 'file:' tree
    assert os.path.isdir(os.path.join(plain, "bands"))
    assert not os.path.exists(os.path.join(str(tmp_path), "file:"))

    batch = spark.createDataFrame(
        [(100, "the quick brown fox jumps over dog number 3")],
        "doc_id long, text string",
    )
    # r14 regression: this raised FileNotFoundError opening the marker
    D.append_to_minhash_index(batch, "file:" + plain, compact_over_files=None)
    fps = spark.read.parquet(plain + "/fingerprints")
    assert fps.count() == 9
    # probe through the scheme'd path too (recovery scandir must see the
    # real dir, not silently scan nothing)
    pairs = D.exact_dups_against_index(
        spark.createDataFrame(
            [(200, "the quick brown fox jumps over dog number 3")],
            "doc_id long, text string",
        ),
        "file://" + plain,
    )
    assert {(r["new_id"], r["old_id"]) for r in pairs.collect()} == {
        (200, 3),
        (200, 100),
    }
    # no journal debris
    assert not [f for f in os.listdir(plain) if f.startswith(".journal-")]


# --- 3. _sweep_tmp deep-tree mtime -------------------------------------------


def test_sweep_tmp_spares_live_nested_stage(tmp_path):
    from quackpipe_spark.plans.compactor import _sweep_tmp

    tmp = tmp_path / "tmp"
    live = tmp / "stage-live" / "_temporary" / "0" / "task"
    live.mkdir(parents=True)
    (live / "part-0.parquet").write_bytes(b"x")
    dead = tmp / "stage-dead" / "_temporary"
    dead.mkdir(parents=True)
    (dead / "part-0.parquet").write_bytes(b"x")

    old = time.time() - 7200
    # age EVERYTHING, then refresh one deeply nested file of the live
    # stage — exactly what a long-running Spark job's task writes do
    for root, dirs, files in os.walk(tmp):
        for n in dirs + files:
            os.utime(os.path.join(root, n), (old, old))
    os.utime(tmp / "stage-live", (old, old))
    os.utime(tmp / "stage-dead", (old, old))
    os.utime(live / "part-0.parquet", None)  # fresh leaf, stale top

    removed = _sweep_tmp(str(tmp), max_age_s=3600.0)
    assert removed == 1
    assert (tmp / "stage-live").exists(), "live staging dir was swept mid-job"
    assert not (tmp / "stage-dead").exists()


# --- 4. permanent flush faults are 400, not 503 ------------------------------


def _post(url: str, body: bytes):
    req = urllib.request.Request(url, data=body, method="POST")
    try:
        with urllib.request.urlopen(req, timeout=60) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def test_schema_conflict_flush_is_permanent_400(spark, tmp_path, monkeypatch):
    """A TypeError/ValueError surfacing from the FLUSH (the promise) —
    e.g. update_schema's type-conflict raise inside write_columnar — is
    a permanent client fault: 400 'do not retry', not the retry-safe 503
    whose compliant client would loop the doomed batch forever. (The
    common conflict path is caught at buffer time and was already 400;
    this pins the flush-time classification the ADVICE names.)"""
    from quackpipe_spark.api import GigapiServer

    srv = GigapiServer(spark, str(tmp_path / "root"), port=0)
    srv.start()
    base = f"http://127.0.0.1:{srv._httpd.server_address[1]}"
    try:
        def conflicting_flush(db, table, columns, n_rows=None):
            raise TypeError(
                "column 'v': type conflict FLOAT8 vs VARCHAR "
                "(schema-on-write rejects type changes)"
            )

        monkeypatch.setattr(srv.ingest.writer, "write_columnar", conflicting_flush)
        status, body = _post(
            base + "/write?db=d&precision=s", b"m v=1.5 1717405200"
        )
        assert status == 400, (status, body)
        err = json.loads(body)["error"]
        assert "permanent" in err and "do not retry" in err, err

        # transient flush faults keep the retry-safe 503
        def transient_flush(db, table, columns, n_rows=None):
            raise RuntimeError("executor lost (simulated transient)")

        monkeypatch.setattr(srv.ingest.writer, "write_columnar", transient_flush)
        status, body = _post(
            base + "/write?db=d&precision=s", b"m v=2.5 1717405300"
        )
        assert status == 503, (status, body)
        assert "safe to retry" in json.loads(body)["error"]
    finally:
        srv.stop()
