"""Regression tests for the round-5 hardening review findings: index
write races, over-eager time pruning, null/edge ingest crashes, and
multi-batch atomicity."""

from __future__ import annotations

import threading

import pytest

from quackpipe_spark.query import extract_time_bounds


def test_time_bounds_ignore_or_queries():
    """ANDing bounds from OR branches prunes to the (often empty)
    intersection — any OR must disable index pruning entirely."""
    assert extract_time_bounds(
        "SELECT * FROM t WHERE __timestamp < 100 OR __timestamp > 200"
    ) == (None, None)


def test_time_bounds_require_exact_unqualified_column():
    # a different column that merely ends in __timestamp must not prune
    assert extract_time_bounds(
        "SELECT * FROM t WHERE event__timestamp >= 500"
    ) == (None, None)
    # a qualified predicate binds to one table of a join — the pruner
    # can't attribute it, so it must not extract
    assert extract_time_bounds(
        "SELECT * FROM a JOIN b ON a.k = b.k WHERE a.__timestamp >= 500"
    ) == (None, None)
    # the plain form still prunes
    assert extract_time_bounds(
        "SELECT * FROM t WHERE __timestamp >= 500 AND __timestamp < 900"
    ) == (500, 900)


def test_locked_index_concurrent_writers(tmp_path):
    """Two threads upserting the same partition index must not lose
    updates (the unlocked read-modify-write dropped whichever writer
    saved first)."""
    from quackpipe_spark.plans.index import FileEntry, PartitionIndex, locked_index

    pdir = str(tmp_path)
    n_per_thread = 30

    def writer(tag: str):
        for i in range(n_per_thread):
            with locked_index(pdir) as idx:
                idx.add(FileEntry(name=f"{tag}-{i}.1.parquet", size_bytes=1, row_count=1))

    threads = [threading.Thread(target=writer, args=(t,)) for t in ("a", "b", "c")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    final = PartitionIndex.load(pdir)
    assert len(final.files) == 3 * n_per_thread


def test_ingest_null_timestamps_filled_not_crashed(spark, tmp_path):
    """Per-row NULL __timestamp: auto_timestamp fills with arrival ns as
    exact ints (a None-mixed column in pandas becomes float64, which NaNs
    the hour bucket and rounds epoch-ns values)."""
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.writer import HiveWriter

    cat = Catalog(str(tmp_path / "data"))
    w = HiveWriter(spark, cat)
    ts = 1_700_000_000_000_000_123  # sub-µs bits would round away in float64
    w.write_columnar(
        "db", "t", {"__timestamp": [ts, None], "a": [1, 2]}
    )
    back = (
        spark.read.option("mergeSchema", "true")
        .option("pathGlobFilter", "*.parquet")  # skip metadata.json
        .option("recursiveFileLookup", "true")
        .parquet(str(tmp_path / "data" / "db" / "t"))
    )
    vals = sorted(r["__timestamp"] for r in back.select("__timestamp").collect())
    assert ts in vals and all(v is not None for v in vals)  # exact, filled


def test_all_null_batch_for_typed_column_accepted(spark, tmp_path):
    """A batch whose values for a typed column are all NULL must not
    raise a type conflict (null carries no type evidence) and must not
    write the column as VARCHAR."""
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.writer import HiveWriter

    cat = Catalog(str(tmp_path / "data"))
    w = HiveWriter(spark, cat)
    t0 = 1_700_000_000_000_000_000
    w.write_columnar("db", "t", {"__timestamp": [t0], "a": [5]})
    w.write_columnar("db", "t", {"__timestamp": [t0 + 1], "a": [None]})  # was a 400
    assert cat.get("db", "t").schema["a"] == "INT8"
    back = (
        spark.read.option("mergeSchema", "true")
        .option("pathGlobFilter", "*.parquet")  # skip metadata.json
        .option("recursiveFileLookup", "true")
        .parquet(str(tmp_path / "data" / "db" / "t"))
    )
    rows = {r["__timestamp"]: r["a"] for r in back.collect()}
    assert rows[t0] == 5 and rows[t0 + 1] is None


def test_custom_order_by_table_not_time_pruned(spark, tmp_path):
    """A table ordered by a non-time column indexes THAT column's min/max;
    a __timestamp bound must not prune its files (the domains are
    incomparable — pruning dropped every file)."""
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.query import QueryEngine
    from quackpipe_spark.writer import HiveWriter

    cat = Catalog(str(tmp_path / "data"))
    cat.get_or_create("default", "byuser", fields=None, engine="Merge", order_by=["user_id"])
    w = HiveWriter(spark, cat)
    w.write_columnar(
        "default",
        "byuser",
        {"user_id": [1, 2, 3], "__timestamp": [10**18, 10**18 + 1, 10**18 + 2]},
    )
    qe = QueryEngine(spark, cat)
    out = qe.sql(
        "SELECT count(*) AS n FROM byuser WHERE __timestamp >= 1000000000000000000"
    ).collect()
    assert out[0]["n"] == 3


def test_multi_batch_write_rejects_atomically(spark, tmp_path):
    """A /write body whose LATER batch carries a type conflict must buffer
    nothing: pre-validation runs for every batch before the first store."""
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.ingest import IngestService, ingest_lines

    cat = Catalog(str(tmp_path / "data"))
    svc = IngestService(spark, cat, save_timeout_s=3600)
    ingest_lines(svc, "m1,tag=a v=1i 1700000000000000000")
    svc.flush()
    body = (
        "m2,tag=b v=2i 1700000000000000001\n"
        'm1,tag=c v="now a string" 1700000000000000002'  # conflicts with m1.v int
    )
    with pytest.raises(TypeError, match="conflict"):
        ingest_lines(svc, body)
    assert svc.flush() == 0  # the valid first batch was NOT buffered


def test_level4_files_self_merge(tmp_path):
    """Level-4 (terminal) files re-pack among themselves — the 420T tier;
    previously lv>=MAX_LEVEL skipped them forever."""
    from quackpipe_spark.plans.compactor import plan_merges
    from quackpipe_spark.plans.index import FileEntry, locked_index

    pdir = str(tmp_path)
    with locked_index(pdir) as idx:
        for i in range(3):
            idx.add(FileEntry(name=f"f{i}.4.parquet", size_bytes=1 << 20, row_count=10))
    plans = plan_merges(pdir)
    assert plans and plans[0].level == 4 and plans[0].out_level == 4
    assert len(plans[0].files) == 3


def test_lineproto_reserved_and_duplicate_names_rejected():
    """A field/tag named 'time' (the reserved timestamp column) or a
    duplicated name must fail at parse — previously both silently built a
    ragged batch with wrong num_rows."""
    from quackpipe_spark.sources.lineproto import parse_lines

    with pytest.raises(ValueError, match="reserved"):
        parse_lines("cpu time=1,val=2 100")
    with pytest.raises(ValueError, match="duplicate"):
        parse_lines("cpu,host=a host=2i 100")  # tag and field share a name
    with pytest.raises(ValueError, match="duplicate"):
        parse_lines("cpu v=1,v=2 100")


def test_lineproto_escaped_equals_and_separators_in_keys():
    """Escaped '=' in a tag key must stay part of the key; field keys
    unescape like tag keys; ':' and ',' in names survive the distributed
    parse's schema round-trip."""
    from quackpipe_spark.sources.lineproto import parse_line

    _, tags, _, _ = parse_line(r"cpu,host\=1=a val=1 100")
    assert tags == [("host=1", "a")]
    _, _, fields, _ = parse_line(r"cpu a\,b=3 100")
    assert fields[0][0] == "a,b"  # unescaped, same as a tag key would be


def test_lineproto_distributed_handles_colon_in_keys(spark):
    """A tag key containing ':' previously crashed parse_lines_df's
    schema_desc round-trip ('too many values to unpack')."""
    from quackpipe_spark.sources.lineproto import parse_lines_df

    lines_df = spark.createDataFrame(
        [("cpu,a:b=x val=1 100",)], "value string"
    )
    frames = parse_lines_df(spark, lines_df)
    assert len(frames) == 1
    rows = frames[0][2].collect()
    assert rows[0]["a:b"] == "x" and rows[0]["val"] == 1.0


def test_ndjson_null_values_do_not_split_or_mistype():
    """Null values are typeless: null/non-null alternation must stay ONE
    batch (union-by-name null-fills), and an all-null first batch must
    not pin a new column to VARCHAR."""
    from quackpipe_spark.sources.ndjson import parse_ndjson

    # runs of null lines share the EMPTY fingerprint (one batch, not one
    # per line), and no batch ever types 'a' as VARCHAR
    batches = parse_ndjson('{"a": null}\n{"a": null}\n{"a": 1}')
    assert len(batches) == 2
    for b in batches:
        for v in b.data.get("a", []):
            assert v is not None and isinstance(v, int)


def test_asof_join_null_keys_and_times_match_nothing(spark):
    """NULL keys/times never match (DuckDB ASOF equality semantics):
    null-key left rows and null-time left rows keep NULL payloads, and
    null right rows are never carried."""
    from quackpipe_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(None, 10), ("k", None), ("k", 10)], "k string, t long"
    )
    right = spark.createDataFrame(
        [(None, 5, "viaNullKey"), ("k", None, "viaNullTime"), ("k", 5, "real")],
        "k string, t long, p string",
    )
    out = {
        (r["k"], r["t"]): r["p"]
        for r in asof_join(left, right, "k", "t", "t", ["p"]).collect()
    }
    assert out[(None, 10)] is None
    assert out[("k", None)] is None
    assert out[("k", 10)] == "real"
    # forward direction: null left time must also match nothing
    fwd = {
        (r["k"], r["t"]): r["p"]
        for r in asof_join(left, right, "k", "t", "t", ["p"], direction="forward").collect()
    }
    assert fwd[("k", None)] is None


def test_gapfill_keeps_off_grid_rows(spark):
    """An input bucket off the lo-anchored grid must survive densification
    (was silently dropped by the left join from the grid)."""
    from quackpipe_spark.operators.asof import gapfill

    df = spark.createDataFrame(
        [("k", 100, 1), ("k", 250, 2), ("k", 400, 3)], "key string, b long, n int"
    )
    out = gapfill(df, "key", "b", bucket_step=100, fill={"n": 0})
    rows = {r["b"]: r["n"] for r in out.collect()}
    assert rows[250] == 2  # off-grid row preserved with its value
    assert rows[200] == 0 and rows[300] == 0  # grid still densified


def test_write_parsed_df_rejects_unmapped_dtype(spark, tmp_path):
    """Columns outside the 4-type system must reject loudly, not silently
    vanish from the catalog while still landing in the parquet files."""
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.writer import HiveWriter

    cat = Catalog(str(tmp_path / "data"))
    w = HiveWriter(spark, cat)
    df = spark.sql(
        "SELECT CAST(1 AS INT) AS c, CAST(1700000000000000000 AS BIGINT) AS __timestamp"
    )
    with pytest.raises(TypeError, match="type system"):
        w.write_parsed_df("db", "t", df)


def test_zero_row_batch_defers_no_evidence_columns(spark, tmp_path):
    """A zero-row batch skips only the physical write — but a column with
    zero values carries NO type evidence, so (like an all-null column) it
    defers instead of being locked in as a VARCHAR guess; the first typed
    batch establishes the real type."""
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.writer import HiveWriter

    cat = Catalog(str(tmp_path / "data"))
    w = HiveWriter(spark, cat)
    w.write_columnar("db", "t", {"__timestamp": [1], "a": [5]})
    assert w.write_columnar("db", "t", {"newcol": []}) == []
    t = cat.get("db", "t")
    assert "newcol" not in t.schema  # no evidence: deferred, not guessed
    w.write_columnar("db", "t", {"__timestamp": [2], "newcol": [7]})
    assert cat.get("db", "t").schema["newcol"] == "INT8"


def test_store_rejects_negative_n_rows(spark, tmp_path):
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.ingest import IngestService

    svc = IngestService(spark, Catalog(str(tmp_path / "r")), save_timeout_s=3600)
    try:
        import pytest as _pt

        with _pt.raises(ValueError, match="n_rows"):
            svc.store("d", "t", {}, n_rows=-3)
        with _pt.raises(ValueError, match="disagrees"):
            svc.store("d", "t", {"a": [1, 2]}, n_rows=5)
    finally:
        svc.stop()


def test_hash_mod_rejects_bad_modulus():
    import pytest as _pt
    from pyspark.sql import functions as F

    from quackpipe_spark.operators.sampling import hash_mod, hash_mod_py

    for n in (0, -8):
        with _pt.raises(ValueError, match="modulus"):
            hash_mod(F.lit("x"), n)
        with _pt.raises(ValueError, match="modulus"):
            hash_mod_py("x", n)


def test_promotion_unstrands_lone_files(spark, tmp_path):
    """Two files each > cap/2 at level 1 can never pack there; promotion
    renames them to level 2 (hard-link + tombstone, readers keep the old
    name until the drop delay) where they then merge under the bigger
    cap."""
    import os

    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.plans.compactor import Compactor
    from quackpipe_spark.plans.index import FileEntry, PartitionIndex, locked_index
    from quackpipe_spark.writer import HiveWriter

    cat = Catalog(str(tmp_path / "data"))
    w = HiveWriter(spark, cat)
    t0 = 1_700_000_000_000_000_000
    w.write_columnar("db", "t", {"__timestamp": [t0], "a": [1]})
    w.write_columnar("db", "t", {"__timestamp": [t0 + 1], "a": [2]})
    table = cat.get("db", "t")
    [pdir] = table.partition_dirs()
    # declare both files too big to pack at level 1 (cap 100MB)
    with locked_index(pdir) as idx:
        for e in idx.files.values():
            e.size_bytes = 60 << 20
    comp = Compactor(spark, table, drop_delay_s=0.0)
    out = comp.run_once(levels=[1])
    assert len(out) == 2 and all(o.endswith(".2.parquet") for o in out)
    idx = PartitionIndex.load(pdir)
    assert all(n.endswith(".2.parquet") for n in idx.files)
    # level 2: the two (declared-60MB) files now pack under the 400MB cap
    out2 = comp.run_once(levels=[2])
    assert len(out2) == 1 and out2[0].endswith(".3.parquet")
    idx = PartitionIndex.load(pdir)
    assert len(idx.files) == 1
    # every row survived the promote→merge chain
    df = spark.read.parquet(os.path.join(pdir, next(iter(idx.files))))
    assert sorted(r["a"] for r in df.collect()) == [1, 2]


def test_reap_failure_does_not_lose_index_swap(tmp_path):
    """An undeletable tombstone must not abort the locked_index swap —
    the entry stays queued and retries, the swap commits."""
    import os

    from quackpipe_spark.plans.index import FileEntry, PartitionIndex, locked_index

    pdir = str(tmp_path / "p")
    os.makedirs(pdir)
    # a DIRECTORY at the tombstone path makes os.remove raise
    os.makedirs(os.path.join(pdir, "stuck.1.parquet"))
    idx = PartitionIndex(path=pdir)
    idx.drop_queue["stuck.1.parquet"] = 0.0  # already due
    idx.save()
    with locked_index(pdir) as idx2:
        idx2.add(FileEntry(name="new.2.parquet", size_bytes=1, row_count=1))
        idx2.reap()  # must not raise
    back = PartitionIndex.load(pdir)
    assert "new.2.parquet" in back.files  # the swap committed
    assert "stuck.1.parquet" in back.drop_queue  # retried later


def test_catalog_reload_after_root_move(spark, tmp_path):
    """A moved/restored catalog root must serve from the discovered
    location, not the absolute path recorded at write time."""
    import shutil

    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.writer import HiveWriter

    old_root = str(tmp_path / "old_root")
    cat = Catalog(old_root)
    w = HiveWriter(spark, cat)
    w.write_columnar("db", "t", {"__timestamp": [1], "a": [7]})
    new_root = str(tmp_path / "new_root")
    shutil.move(old_root, new_root)
    cat2 = Catalog(new_root)
    t = cat2.get("db", "t")
    assert t.path.startswith(new_root)
    assert t.partition_dirs()  # data visible at the new location


def test_lineproto_rejects_lenient_numerics():
    """int()/float() leniency must not ingest protocol-invalid values
    ('1_5' would silently become 15)."""
    from quackpipe_spark.sources.lineproto import parse_line

    for bad in ["m f=1_5", "m f=inf", "m f=nan", "m f=+5i", "m f=1_0i", "m f=-3u"]:
        with pytest.raises(ValueError):
            parse_line(bad)
    with pytest.raises(ValueError, match="timestamp"):
        parse_line("m f=1.0 1_0")
    # the valid spellings still parse
    assert parse_line("m f=-1.5e3")[2][0][2] == -1500.0
    assert parse_line("m f=5i")[2][0] == ("f", "INT8", 5)


def test_lineproto_custom_time_column_collision_raises():
    from quackpipe_spark.sources.lineproto import parse_lines

    with pytest.raises(ValueError, match="reserved"):
        parse_lines("m,ts=x f=1.0", time_column="ts")


def test_distributed_parse_wraps_uint64(spark):
    """parse_lines_df must two's-complement-wrap uint64 upper-half values
    through the int64 slot like the driver flush path, not crash the
    Arrow conversion."""
    from quackpipe_spark.sources.lineproto import parse_lines_df

    lines_df = spark.createDataFrame(
        [("m f=18446744073709551615u 1700000000000000000",)], "value string"
    )
    [(table, _sid, df)] = parse_lines_df(spark, lines_df)
    assert table == "m"
    assert df.collect()[0]["f"] == -1  # 2^64-1 wrapped


def test_rewrite_sql_leaves_string_literals_alone():
    from quackpipe_spark.functions.dialect import rewrite_sql

    assert (
        rewrite_sql("SELECT count() FROM t WHERE msg = 'count()'")
        == "SELECT count(*) FROM t WHERE msg = 'count()'"
    )
    out = rewrite_sql("SELECT 'read_parquet(''/a'')' AS s FROM t")
    assert "parquet.`" not in out


def test_from_epoch_ns_floors_pre_epoch(spark):
    """-1500 ns lies in [-2µs, -1µs): floor semantics give -2µs; DIV
    truncation gave -1µs."""
    from quackpipe_spark.functions.dialect import register_dialect

    register_dialect(spark)
    r = spark.sql(
        "SELECT unix_micros(from_epoch_ns(-1500)) AS us, "
        "unix_micros(from_epoch_ns(1500)) AS us_pos"
    ).collect()[0]
    assert r["us"] == -2 and r["us_pos"] == 1


def test_rewrite_sql_count_shift_does_not_stale_literal_spans():
    """Each count()→count(*) rewrite shifts later offsets +1; literal
    spans computed on the PRE-rewrite string would mark code positions
    as literal once enough count() calls precede, skipping a real
    read_parquet call. 13+ leading count() calls shift a trailing
    read_parquet past a stale span boundary — it must still rewrite."""
    from quackpipe_spark.functions.dialect import rewrite_sql

    counts = ", ".join(f"count() AS c{i}" for i in range(14))
    out = rewrite_sql(f"SELECT {counts}, 'lit' FROM read_parquet('/x.parquet')")
    assert "read_parquet" not in out
    assert "parquet.`/x.parquet`" in out
    assert out.count("count(*)") == 14
    # and a count() INSIDE a literal is still untouched after the split
    out2 = rewrite_sql("SELECT count(), 'count()' FROM read_parquet('/y.parquet')")
    assert out2 == "SELECT count(*), 'count()' FROM parquet.`/y.parquet`"


def test_split_statements_ignores_semicolons_in_comments():
    """';' inside '--' line comments and '/* */' block comments must not
    split — the reference hands the whole stdin script to DuckDB's
    comment-aware multi-statement Exec (stdin/init.go:29-49)."""
    from quackpipe_spark.__main__ import split_statements

    assert split_statements("SELECT 1 -- trailing; comment\n; SELECT 2") == [
        "SELECT 1 -- trailing; comment",
        "SELECT 2",
    ]
    assert split_statements("SELECT /* a;b */ 1; SELECT 2") == [
        "SELECT /* a;b */ 1",
        "SELECT 2",
    ]
    # unterminated forms: comment runs to EOF, no phantom statements
    assert split_statements("SELECT 1; -- done; really") == ["SELECT 1"]
    assert split_statements("SELECT 1 /* open; forever") == [
        "SELECT 1 /* open; forever"
    ]
    # a '--' INSIDE a string literal is data, not a comment
    assert split_statements("SELECT '--x;y'; SELECT 2") == [
        "SELECT '--x;y'",
        "SELECT 2",
    ]


def test_split_statements_double_quoted_literals_and_nested_comments():
    """Spark parses double-quoted strings as literals (the
    doubleQuotedIdentifiers conf is off by default), so '--' or ';'
    inside one is data; bracketed comments NEST in Spark's grammar, so
    an inner '*/' must not close the outer comment."""
    from quackpipe_spark.__main__ import split_statements

    assert split_statements('SELECT "a -- b"; SELECT 1') == [
        'SELECT "a -- b"',
        "SELECT 1",
    ]
    assert split_statements('SELECT "x;y"; SELECT 2') == ['SELECT "x;y"', "SELECT 2"]
    # "" escape stays inside one literal
    assert split_statements('SELECT "a""b;c"; SELECT 3') == [
        'SELECT "a""b;c"',
        "SELECT 3",
    ]
    # nested block comment: the ';' between inner and outer '*/' is
    # comment text, not a separator
    assert split_statements("SELECT 1 /* o /* i */ ; still */; SELECT 2") == [
        "SELECT 1 /* o /* i */ ; still */",
        "SELECT 2",
    ]


def test_where_scope_excludes_spark_clause_tails():
    """SORT BY / DISTRIBUTE BY / CLUSTER BY are Spark clause tails — a
    __timestamp comparison there is a sort/partition key, never a row
    filter, and must not prune."""
    from quackpipe_spark.query import extract_time_bounds_per_table as ex

    assert ex(
        "SELECT * FROM events WHERE v > 0 SORT BY __timestamp >= 99",
        ["events"],
    ) == {}
    assert ex(
        "SELECT * FROM events WHERE v > 0 DISTRIBUTE BY __timestamp >= 99",
        ["events"],
    ) == {}
    assert ex(
        "SELECT * FROM events WHERE v > 0 CLUSTER BY __timestamp >= 99",
        ["events"],
    ) == {}
    # a real WHERE bound before the tail still prunes
    assert ex(
        "SELECT * FROM events WHERE __timestamp >= 7 SORT BY v",
        ["events"],
    ) == {"events": (7, None)}


def test_float_wav_raises_loudly_without_soundfile(spark):
    """An IEEE-float WAV (format tag 3 — scipy/librosa's default) is a
    RECOGNIZED format the stdlib wave module can't decode: without
    soundfile it must fail the job loudly, never be silently skipped as
    corrupt (a cluster of float WAVs must not ack an empty decode)."""
    import struct as _struct

    import pytest as _pytest

    try:
        import soundfile  # noqa: F401

        _pytest.skip("soundfile installed — the loud-failure branch is moot")
    except ImportError:
        pass
    from quackpipe_spark.operators import multimodal as M2

    # minimal RIFF/WAVE container with fmt tag 3 (IEEE float)
    n, rate = 4, 8000
    data = b"".join(_struct.pack("<f", 0.25) for _ in range(n))
    fmt = _struct.pack("<HHIIHH", 3, 1, rate, rate * 4, 4, 32)
    body = b"WAVE" + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
    body += b"data" + _struct.pack("<I", len(data)) + data
    wav = b"RIFF" + _struct.pack("<I", len(body)) + body
    media = spark.createDataFrame(
        [(1, "audio", wav)], "media_id long, kind string, payload binary"
    )
    with _pytest.raises(Exception, match="soundfile"):
        M2.decode_media(media, fake=False).collect()


def test_fts_index_accepts_file_scheme_paths(spark, tmp_path):
    """A file:-scheme index path must resolve to the SAME place for the
    os.*-based stats/marker machinery and for Spark — previously the
    stats landed in a junk cwd-relative 'file:' tree and every search
    failed with PATH_NOT_FOUND."""
    from quackpipe_spark.operators import fts as FTS

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma"), (3, "alpha alpha delta")],
        "doc_id long, text string",
    )
    plain = str(tmp_path / "idx")
    FTS.write_postings(FTS.build_postings(docs), f"file://{plain}", n_buckets=4)
    import os

    assert os.path.exists(f"{plain}/stats/stats.parquet")
    assert not os.path.exists("file:")
    got = FTS.search_postings_index(spark, f"file://{plain}", "alpha", topk=3).collect()
    assert [r["doc_id"] for r in got][:1] == [3]
    # appends through the URI spelling keep stats consistent
    more = spark.createDataFrame([(9, "alpha zeta")], "doc_id long, text string")
    FTS.append_postings(more, f"file:{plain}")
    got2 = FTS.search_postings_index(spark, plain, "zeta", topk=3).collect()
    assert [r["doc_id"] for r in got2] == [9]


def test_streaming_skip_malformed_policy(spark, tmp_path):
    """malformed='skip' ingests the good lines of a poisoned batch on
    BOTH size-gated paths; the default raises (checkpoint must not
    commit a batch whose lines were dropped silently)."""
    from quackpipe_spark.ingest import IngestService, ingest_lines
    from quackpipe_spark.sources.lineproto import parse_lines, parse_lines_df

    good_bad = "m f=1 100\nnot a line\nm f=2 200"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_lines(good_bad)
    batches = parse_lines(good_bad, skip_malformed=True)
    assert sum(b.num_rows() for b in batches) == 2
    # distributed path
    ldf = spark.createDataFrame([(l,) for l in good_bad.splitlines()], "value string")
    with _pytest.raises(Exception):
        with parse_lines_df(spark, ldf) as frames:
            sum(df.count() for _, _, df in frames)
    with parse_lines_df(spark, ldf, skip_malformed=True) as frames:
        assert sum(df.count() for _, _, df in frames) == 2


def test_multi_segment_write_path_404s(spark, tmp_path):
    """/gigapi/write/a/b is not the reference's single-segment
    /gigapi/write/{db} route — it must 404, not silently auto-create and
    ingest into db 'b'."""
    import urllib.request

    from quackpipe_spark.api import GigapiServer

    srv = GigapiServer(spark, str(tmp_path / "root"), host="127.0.0.1", port=0)
    srv.start()
    try:
        port = srv._httpd.server_address[1]

        def post(p):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}{p}", data=b"m f=1 100", method="POST"
            )
            try:
                return urllib.request.urlopen(req).status
            except urllib.error.HTTPError as e:
                return e.code

        assert post("/gigapi/write/metrics/cpu") == 404
        assert post("/gigapi/write/") == 404
        assert post("/gigapi/write/metrics") == 204
        import os

        assert not os.path.exists(str(tmp_path / "root" / "cpu"))
    finally:
        srv.stop()


def test_bulk_columnar_path_honors_known_schema(spark, tmp_path, monkeypatch):
    """The >ARROW_FAST_PATH_ROWS bulk path must type columns from the
    table's effective schema, not re-infer: an all-null batch of a KNOWN
    int column previously wrote a VARCHAR parquet column into an int64
    table (bricking merged reads), and a None-mixed int column floated
    through pandas (rounding epoch-scale values)."""
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.writer import HiveWriter

    cat = Catalog(str(tmp_path / "root"))
    w = HiveWriter(spark, cat)
    monkeypatch.setattr(HiveWriter, "ARROW_FAST_PATH_ROWS", 0)  # force bulk path
    big = (1 << 62) + 3  # > 2^53: float64 round-trip would corrupt it
    w.write_columnar(
        "d", "t", {"v": [big, None, 7], "__timestamp": [1000, 2000, 3000]}
    )
    # all-null batch of the now-known int column
    w.write_columnar("d", "t", {"v": [None], "__timestamp": [4000]})
    from quackpipe_spark.query import QueryEngine

    qe = QueryEngine(spark, cat)
    rows = {
        r["__timestamp"]: r["v"]
        for r in qe.sql("SELECT v, __timestamp FROM t", db="d").collect()
    }
    assert rows == {1000: big, 2000: None, 3000: 7, 4000: None}


def test_write_parsed_df_bigint_into_ubigint_column(spark, tmp_path):
    """A bulk backfill presents UBIGINT columns as Spark bigint (the one
    physical slot both share) — it must not raise a spurious type
    conflict against a table established via '123u' line protocol."""
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.ingest import IngestService, ingest_lines
    from quackpipe_spark.query import QueryEngine

    cat = Catalog(str(tmp_path / "root"))
    svc = IngestService(spark, cat, save_timeout_s=3600)
    big = (1 << 63) + 5  # upper half: the value that establishes UBIGINT
    ingest_lines(svc, f"m u={big}u 1000", db="d")
    svc.flush()
    assert cat.get("d", "m").schema["u"] == "UBIGINT"
    backfill = spark.createDataFrame(
        [(9, 2000)], "u long, __timestamp long"
    )
    svc.writer.write_parsed_df("d", "m", backfill)
    qe = QueryEngine(spark, cat)
    got = sorted(r["u"] for r in qe.sql("SELECT u FROM m", db="d").collect())
    assert got == [big - (1 << 64), 9]  # wrapped int64 slot + backfill row
    assert cat.get("d", "m").schema["u"] == "UBIGINT"  # type kept


def test_band_recipe_validation():
    """bands must divide num_hashes/bits: truncation changes the recall
    curve silently, and bands > num_hashes degenerates every band hash
    to md5('') — a full n x n self-join at corpus scale."""
    import pytest as _pytest

    from quackpipe_spark.operators import dedup as D

    class _FakeDF:
        pass

    with _pytest.raises(ValueError, match="divide"):
        D.band_table(_FakeDF(), num_hashes=16, bands=32)
    with _pytest.raises(ValueError, match="divide"):
        D.band_table(_FakeDF(), num_hashes=16, bands=3)


def test_skip_malformed_covers_custom_time_collision():
    """Under skip_malformed a line whose tag/field collides with the
    CUSTOM time column is dropped like any other malformed line — it
    must not poison the stream the flag exists to protect."""
    from quackpipe_spark.sources.lineproto import parse_lines

    lines = "m ts=1,f=2 100\nm f=3 200"
    batches = parse_lines(lines, time_column="ts", skip_malformed=True)
    assert sum(b.num_rows() for b in batches) == 1


def test_pack_documents_rejects_pack_id_overflow(spark):
    import pytest as _pytest

    from quackpipe_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame([(1, "a b", 2)], "doc_id long, text string, n_tokens long")
    with _pytest.raises(ValueError, match="fits int64"):
        pack_sequences(docs, n_shards=1 << 24)


def test_strip_passages_null_text_token_counts(spark):
    """NULL-text docs report n_tokens=0 / n_removed_tokens=0 — under the
    engine's ANSI-off session size(NULL) is -1 and coalesce alone cannot
    guard it (the line_dedup lesson)."""
    from quackpipe_spark.operators.dedup import strip_duplicate_passages

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, None)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in strip_duplicate_passages(docs, k=4).collect()}
    assert rows[2]["n_tokens"] == 0 and rows[2]["n_removed_tokens"] == 0
    assert rows[1]["n_tokens"] == 8


def test_double_quoted_literals_protected_everywhere():
    """Spark parses "…" as a string literal (doubleQuotedIdentifiers off):
    the dialect rewriter must not rewrite count()/read_parquet() inside
    one, and the pruner must not extract a bound fabricated by one."""
    from quackpipe_spark.functions.dialect import rewrite_sql
    from quackpipe_spark.query import extract_time_bounds_per_table as ex

    out = rewrite_sql('SELECT count() FROM t WHERE msg = "count()"')
    assert out == 'SELECT count(*) FROM t WHERE msg = "count()"'
    out2 = rewrite_sql('SELECT 1 FROM t WHERE n = "read_parquet(\'x\')"')
    assert "parquet.`" not in out2
    assert ex(
        'SELECT * FROM events WHERE note = "x AND __timestamp >= 1"',
        ["events"],
    ) == {}
    assert ex(
        'SELECT * FROM events WHERE __timestamp >= 5 AND note = "y"',
        ["events"],
    ) == {"events": (5, None)}


def test_ndjson_batch_cap_splits_before_append():
    """A capped batch must stay AT OR UNDER MAX_BATCH_BYTES — the old
    running-total check let every capped batch overshoot by one line."""
    import json as _json

    from quackpipe_spark.sources import ndjson as N

    line = _json.dumps({"v": "x" * 1024})
    n_per = N.MAX_BATCH_BYTES // len(line.encode())
    batches = N.parse_ndjson("\n".join([line] * (n_per + 5)))
    assert len(batches) == 2
    assert batches[0].num_rows() == n_per  # exactly the cap, not cap+1
    assert batches[1].num_rows() == 5


def test_backslash_escaped_quotes_protected_everywhere():
    """Spark's default parser honors backslash escapes in string
    literals: a literal containing \\' must not desync the pruner's
    blanking (fabricated bound → silent missing rows), the dialect
    rewriter (mutated user data / driver-side URL fetch), or the stdin
    statement splitter."""
    from quackpipe_spark.__main__ import split_statements
    from quackpipe_spark.functions.dialect import rewrite_sql
    from quackpipe_spark.query import extract_time_bounds_per_table as ex

    q = r"SELECT * FROM ev WHERE note = 'ab\' AND __timestamp >= 400 AND x = \'cd'"
    assert ex(q, ["ev"]) == {}
    out = rewrite_sql(r"SELECT 1 FROM t WHERE msg = 'a\' count() \'b'")
    assert "count(*)" not in out
    out2 = rewrite_sql(r"SELECT 1 FROM t WHERE m = 'x\' read_parquet(''/y.parquet'') \'z'")
    assert "parquet.`" not in out2
    assert split_statements(r"SELECT 'a\';b'; SELECT 2") == [
        r"SELECT 'a\';b'",
        "SELECT 2",
    ]


def test_streaming_near_dup_band_validation(spark):
    import pytest as _pytest

    from quackpipe_spark.streaming.stateful import streaming_near_dup_flags

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="divide"):
        streaming_near_dup_flags(docs, num_hashes=16, bands=32)


def test_simhash_band_validation_runs_before_any_job(spark):
    """The recipe check must fire before the persist+count — after them
    an invalid call burns a corpus-scale job and leaks the pinned frame."""
    import pytest as _pytest

    from quackpipe_spark.operators import dedup as D

    class _Boom:
        def persist(self):
            raise AssertionError("persist ran before validation")

    with _pytest.raises(ValueError, match="divide"):
        D.simhash_near_pairs(_Boom(), bands=5)


def test_columnar_bulk_fallback_for_uncoercible_batch(spark, tmp_path, monkeypatch):
    """A batch whose later values don't coerce into the first-value-
    inferred type must write on the bulk path too (the Arrow fast path
    keeps a pandas fallback; the bulk path must not diverge)."""
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.writer import HiveWriter

    cat = Catalog(str(tmp_path / "root"))
    w = HiveWriter(spark, cat)
    monkeypatch.setattr(HiveWriter, "ARROW_FAST_PATH_ROWS", 0)
    # first value int → INT8 inferred; 2.5 needs the coercion fallback
    w.write_columnar("d", "t", {"v": [1, 2.5], "__timestamp": [1000, 2000]})
    from quackpipe_spark.query import QueryEngine

    got = sorted(
        r["v"] for r in QueryEngine(spark, cat).sql("SELECT v FROM t", db="d").collect()
    )
    assert got == [1, 2]  # int-typed column truncates like the fast path


def test_norm_index_path_rejects_remote_host():
    import pytest as _pytest

    from quackpipe_spark.plans.index import norm_index_path

    assert norm_index_path("file:///a/b") == "/a/b"
    assert norm_index_path("file:/a/b") == "/a/b"
    assert norm_index_path("file://localhost/a/b") == "/a/b"
    assert norm_index_path("/a/b") == "/a/b"
    assert norm_index_path("s3a://bkt/x") == "s3a://bkt/x"
    with _pytest.raises(ValueError, match="host"):
        norm_index_path("file://nas01/a/b")


def test_asof_join_nearest_semantics(spark):
    """'nearest' picks the closer of the backward/forward candidates,
    backward wins exact ties, rows reachable in only one direction still
    match (union coverage), and NULL keys/times match nothing."""
    import pytest

    from quackpipe_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("k", 0), ("k", 10), ("k", 14), ("k", 15), ("k", 30), (None, 10), ("k", None)],
        "k string, t long",
    )
    right = spark.createDataFrame(
        [("k", 10, "r10"), ("k", 20, "r20")], "k string, t long, p string"
    )
    j = asof_join(left, right, "k", "t", "t", ["p"], direction="nearest")
    out = {(r["k"], r["t"]): r["p"] for r in j.collect()}
    assert out[("k", 0)] == "r10"  # before first right: forward-only reach
    assert out[("k", 10)] == "r10"  # exact hit
    assert out[("k", 14)] == "r10"  # backward closer (4 < 6)
    assert out[("k", 15)] == "r10"  # exact tie (5 == 5) → backward wins
    assert out[("k", 30)] == "r20"  # after last right: backward-only reach
    assert out[(None, 10)] is None  # NULL key matches nothing
    assert out[("k", None)] is None  # NULL left time matches nothing
    # the internal struct field name is reserved
    with pytest.raises(ValueError, match="_rt"):
        asof_join(
            left, right.withColumnRenamed("p", "_rt"), "k", "t", "t", ["_rt"],
            direction="nearest",
        )
    # scale contract: nearest = the SAME single shuffle as backward — both
    # window frames share the partitionBy(_k) exchange; only an extra
    # in-partition sort is added
    plan = j._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints the tree twice
    assert final.count("Exchange") == 1, final
