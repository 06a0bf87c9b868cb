"""Regression tests for the round-12 sources/streaming review findings:
float overflow rejects on BOTH lineproto parse paths; ndjson is strict
JSON; streaming records with embedded newlines behave identically on the
validator/driver/distributed paths; post-parse validation poison lines
dead-letter instead of wedging the stream; FTS streaming appends are
replay-idempotent under write_id; the test-table scan cache drops dead
sessions' pins."""

from __future__ import annotations

import os
import time

import pytest

NS = 10**9
T0 = 1_717_405_200 * NS


# ---------------------------------------------------------------- lineproto


def test_float_overflow_rejected_per_line():
    from quackpipe_spark.sources.lineproto import parse_line

    for bad in ("m f=1e309", "m f=-1e309", f"m f=9{'0' * 400}.0"):
        with pytest.raises(ValueError, match="overflow"):
            parse_line(bad)
    # near-max finite values still parse (overflow only, not magnitude fear)
    assert parse_line("m f=1.7e308")[2][0][2] == 1.7e308
    # underflow-to-zero is standard float semantics, not an error
    assert parse_line("m f=1e-400")[2][0][2] == 0.0


def test_float_overflow_consistent_on_distributed_path(spark):
    """'1e309' in a VECTOR-PATH-ELIGIBLE line (3 tokens, escape-free) must
    not ride the JSON doc verbatim (Jackson decodes it to Infinity —
    previously a silently different result from the per-line path, which
    the module's path-equivalence contract forbids)."""
    from quackpipe_spark.sources.lineproto import parse_lines_df

    lines = [
        f"m,tag=a f=1.5 {T0}",
        f"m,tag=b f=1e309 {T0 + NS}",  # vector-eligible shape, overflows
        "m,tag=c f=1e309",  # per-line shape (2 sections after tags)
        f"m,tag=d f=2.5 {T0 + 2 * NS}",
    ]
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    with parse_lines_df(spark, df, skip_malformed=True) as frames:
        rows = []
        for _table, _sid, fdf in frames:
            rows.extend(fdf.collect())
    vals = sorted(r["f"] for r in rows)
    assert vals == [1.5, 2.5]  # both overflow spellings dropped, finite kept
    with pytest.raises(Exception, match="overflow"):
        with parse_lines_df(spark, df, skip_malformed=False) as frames:
            for _t, _s, fdf in frames:
                fdf.collect()


# ------------------------------------------------------------------ ndjson


def test_ndjson_rejects_nonstandard_json_tokens():
    from quackpipe_spark.sources.ndjson import parse_ndjson

    for bad in ('{"v": NaN}', '{"v": Infinity}', '{"v": -Infinity}'):
        with pytest.raises(ValueError, match="strict JSON"):
            parse_ndjson(bad)
    # overflow numbers are VALID JSON text but float() silently converts
    # them to inf — parse_constant never sees them (review r12 follow-up)
    for bad in ('{"v": 1e999}', '{"v": -1e999}'):
        with pytest.raises(ValueError, match="overflow"):
            parse_ndjson(bad)
    out = parse_ndjson('{"v": 1.5, "w": 1e-999}')  # plain + underflow fine
    assert out[0].data["v"] == [1.5] and out[0].data["w"] == [0.0]


def test_append_postings_write_id_requires_local_path(spark):
    """Silently dropping the idempotence contract on an object-store
    path would re-introduce the replay double-count — fail loudly."""
    from quackpipe_spark.operators import fts as FTS

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="posix-rename"):
        FTS.append_postings(docs, "s3a://bucket/idx", write_id="b1")


# --------------------------------------------------------------- streaming


def _run_stream(spark, catalog, src, tmp_path, **kw):
    from quackpipe_spark.streaming import stream_lines_to_table

    stream = (
        spark.readStream.schema("value string")
        .json(str(src))
    )
    q = stream_lines_to_table(
        spark, catalog, stream, db="iot",
        checkpoint_dir=str(tmp_path / "ckpt"), trigger_seconds=0.5, **kw,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_embedded_newline_records_split_consistently(spark, tmp_path):
    """A record VALUE carrying two newline-joined lines (a Kafka-style
    payload) is two lines on every path: previously the validator called
    it ONE malformed line (dead-lettered) while the driver path ingested
    both — the same payload was dead-lettered AND ingested."""
    import json

    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.query import QueryEngine

    src = tmp_path / "nl_src"
    src.mkdir()
    payload = f"s temp=20 {T0}\ns temp=30 {T0 + NS}"
    (src / "b1.json").write_text(json.dumps({"value": payload}) + "\n")
    catalog = Catalog(str(tmp_path / "root"))
    _run_stream(spark, catalog, src, tmp_path, malformed="dead_letter")
    qe = QueryEngine(spark, catalog)
    rows = qe.sql("SELECT count() AS n, sum(temp) AS s FROM s", db="iot").collect()
    assert rows[0]["n"] == 2 and rows[0]["s"] == 50.0
    assert catalog.get("iot", "_dead_letter") is None  # nothing rejected


def test_type_flip_poison_line_dead_letters_instead_of_wedging(spark, tmp_path):
    """A WELL-FORMED line whose field type conflicts with the established
    schema is a validation failure, not a parse failure — under
    dead_letter it must land in _dead_letter and the good lines must
    ingest (previously the micro-batch raised and the checkpoint replayed
    the same offsets forever)."""
    import json

    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.query import QueryEngine

    src = tmp_path / "tf_src"
    src.mkdir()
    lines = [
        f"poison f=1.5 {T0}",
        f"poison f=2.5 {T0 + NS}",
        f'poison f="not a float" {T0 + 2 * NS}',  # parses fine; type flips
    ]
    with open(src / "b1.json", "w") as f:
        for ln in lines:
            f.write(json.dumps({"value": ln}) + "\n")
    catalog = Catalog(str(tmp_path / "root"))
    _run_stream(spark, catalog, src, tmp_path, malformed="dead_letter")
    qe = QueryEngine(spark, catalog)
    rows = qe.sql("SELECT count() AS n, sum(f) AS s FROM poison", db="iot").collect()
    assert rows[0]["n"] == 2 and rows[0]["s"] == 4.0  # good lines landed
    dl = qe.sql(
        "SELECT line, error FROM _dead_letter", db="iot"
    ).collect()
    assert len(dl) == 1
    assert "not a float" in dl[0]["line"] and "conflict" in dl[0]["error"]


# ------------------------------------------------------- FTS idempotence


def _fts_state(spark, path):
    from quackpipe_spark.operators import fts as FTS

    st = spark.read.parquet(f"{path}/stats").collect()[0]
    post = spark.read.parquet(f"{path}/postings")
    return (
        int(st["N"]),
        float(st["avgdl"]),
        sorted(
            (r["doc_id"], r["term"], r["tf"])
            for r in post.select("doc_id", "term", "tf").collect()
        ),
    )


def _fts_base(spark, tmp_path, name):
    from quackpipe_spark.operators import fts as FTS

    base = spark.createDataFrame(
        [(1, "spark shuffles data"), (2, "duckdb scans parquet")],
        "doc_id long, text string",
    )
    path = str(tmp_path / name)
    FTS.write_postings(FTS.build_postings(base), path, n_buckets=4)
    return path


def test_append_postings_write_id_replay_is_noop(spark, tmp_path):
    from quackpipe_spark.operators import fts as FTS

    path = _fts_base(spark, tmp_path, "idem")
    batch = spark.createDataFrame(
        [(3, "parquet scan speed"), (4, "spark data shuffle")],
        "doc_id long, text string",
    )
    FTS.append_postings(batch, path, write_id="b1")
    once = _fts_state(spark, path)
    assert once[0] == 4
    FTS.append_postings(batch, path, write_id="b1")  # replay: exact no-op
    assert _fts_state(spark, path) == once
    # a NEW id applies normally
    batch2 = spark.createDataFrame([(5, "executors run tasks")], "doc_id long, text string")
    FTS.append_postings(batch2, path, write_id="b2")
    assert _fts_state(spark, path)[0] == 5


def test_append_postings_crash_after_commit_rolls_forward_once(spark, tmp_path, monkeypatch):
    """Crash between the commit marker and the publish: the replayed call
    rolls the committed append FORWARD (not again) — postings and stats
    reflect exactly ONE application."""
    from quackpipe_spark.operators import fts as FTS

    path = _fts_base(spark, tmp_path, "crash")
    batch = spark.createDataFrame(
        [(3, "parquet scan speed"), (4, "spark data shuffle")],
        "doc_id long, text string",
    )

    from quackpipe_spark.plans import journal

    def boom(root, name):
        raise RuntimeError("simulated crash after commit")

    monkeypatch.setattr(journal, "_roll_forward", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        FTS.append_postings(batch, path, write_id="b9")
    monkeypatch.undo()
    assert any(f.startswith(journal.MARKER) for f in os.listdir(path))
    # the replay's writer-side recovery rolls the committed append forward,
    # then finds its write_id applied and skips
    FTS.append_postings(batch, path, write_id="b9")  # the replay
    n, avgdl, postings = _fts_state(spark, path)
    assert n == 4  # applied exactly once
    assert len([p for p in postings if p[0] in (3, 4)]) == len(
        {(d, t) for d, t, _ in postings if d in (3, 4)}
    )  # no duplicated (doc, term) rows
    assert not any(f.startswith(".journal-") for f in os.listdir(path))
    # results equal a clean single append
    clean = _fts_base(spark, tmp_path, "clean")
    FTS.append_postings(batch, clean, write_id="b9")
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in FTS.search_postings_index(spark, path, "spark parquet", topk=5).collect()
    ]
    exp = [
        (r["doc_id"], round(r["score"], 9))
        for r in FTS.search_postings_index(spark, clean, "spark parquet", topk=5).collect()
    ]
    assert got == exp


def test_append_postings_crash_mid_publish_converges(spark, tmp_path, monkeypatch):
    """Crash PARTWAY through the publish moves (some bucket dirs updated,
    some not, marker still present): the next access rolls FORWARD the
    remaining moves idempotently and the replay is a no-op — postings and
    stats equal exactly one clean application."""
    import os as _os

    from quackpipe_spark.operators import fts as FTS

    path = _fts_base(spark, tmp_path, "midcrash")
    batch = spark.createDataFrame(
        [(3, "parquet scan speed"), (4, "spark data shuffle"), (5, "duckdb joins fast")],
        "doc_id long, text string",
    )
    real_replace = _os.replace
    calls = {"n": 0}

    def failing_replace(src, dst):
        if "/postings/" in dst:  # only the publish moves, not the marker
            calls["n"] += 1
            if calls["n"] == 2:
                raise OSError("simulated crash mid-move")
        return real_replace(src, dst)

    # patch the os module itself; the dst filter keeps the failure
    # scoped to the publish moves
    monkeypatch.setattr("os.replace", failing_replace)
    with pytest.raises(OSError, match="mid-move"):
        FTS.append_postings(batch, path, write_id="b7")
    monkeypatch.undo()
    assert any(f.startswith(".journal-commit-") for f in os.listdir(path))
    FTS.append_postings(batch, path, write_id="b7")  # the replay
    n, _avgdl, postings = _fts_state(spark, path)
    assert n == 5
    pairs = [(d, t) for d, t, _tf in postings]
    assert len(pairs) == len(set(pairs))  # no duplicated (doc, term) rows
    clean = _fts_base(spark, tmp_path, "midclean")
    FTS.append_postings(batch, clean, write_id="b7")
    assert _fts_state(spark, path) == _fts_state(spark, clean)


def test_append_postings_crash_before_commit_leaves_nothing(spark, tmp_path, monkeypatch):
    """Crash while STAGING (pre-commit): nothing visible, the replay
    applies cleanly from scratch."""
    from quackpipe_spark.operators import fts as FTS

    path = _fts_base(spark, tmp_path, "precrash")
    before = _fts_state(spark, path)
    batch = spark.createDataFrame([(3, "parquet scan speed")], "doc_id long, text string")

    real = FTS.build_postings
    def boom(*a, **k):
        raise RuntimeError("simulated crash before stage")

    monkeypatch.setattr(FTS, "build_postings", boom)
    with pytest.raises(RuntimeError, match="before stage"):
        FTS.append_postings(batch, path, write_id="b5")
    monkeypatch.setattr(FTS, "build_postings", real)
    assert _fts_state(spark, path) == before  # nothing leaked
    FTS.append_postings(batch, path, write_id="b5")  # replay applies
    assert _fts_state(spark, path)[0] == 3


# ------------------------------------------------------------- scan cache


def test_scan_cache_purges_dead_session_entries(spark, tmp_path):
    from quackpipe_spark.sources import tables as TBL

    class _JSC:  # classic-Spark probe path reporting a STOPPED context
        def sc(self):
            return self

        def isStopped(self):
            return True

    class _SCHolder:
        _jsc = _JSC()

    class StoppedSession:
        _sc = _SCHolder()

    class UnknownShapeSession:  # Spark Connect-like: probe path absent
        @property
        def _sc(self):
            raise RuntimeError("no classic context")

    TBL._SCAN_CACHE[(-1, "/nowhere", "ghost")] = (StoppedSession(), None)
    TBL._SCAN_CACHE[(-2, "/nowhere", "connect")] = (UnknownShapeSession(), None)
    p = str(tmp_path / "scan_probe")
    spark.createDataFrame([(1,)], "k long").write.parquet(f"{p}/region.parquet")
    TBL.table_df(spark, p, "region")  # a miss triggers the purge
    # a PROVABLY stopped session purges; an unknown shape (probe error,
    # e.g. Spark Connect) is kept — purging live Connect sessions on
    # every miss silently re-ran expensive prebuilds (ADVICE r12)
    assert (-1, "/nowhere", "ghost") not in TBL._SCAN_CACHE
    assert (-2, "/nowhere", "connect") in TBL._SCAN_CACHE
    TBL._SCAN_CACHE.pop((-2, "/nowhere", "connect"), None)  # cleanup
    assert TBL._session_alive(spark)
