"""HTTP API route parity + streaming ingest/window tests."""

from __future__ import annotations

import gzip
import json
import time
import urllib.request

import pytest

from quackpipe_spark.api import GigapiServer


@pytest.fixture
def server(spark, tmp_path):
    srv = GigapiServer(spark, str(tmp_path / "root"), port=0)
    # port=0 → pick free port; grab the real one after start
    srv.start()
    srv.base = f"http://127.0.0.1:{srv._httpd.server_address[1]}"
    yield srv
    srv.stop()


def _post(url: str, body: bytes, headers: dict | None = None):
    req = urllib.request.Request(url, data=body, headers=headers or {}, method="POST")
    try:
        with urllib.request.urlopen(req, timeout=60) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def test_http_write_then_query(server):
    status, _ = _post(
        server.base + "/write?db=mydb&precision=s",
        b"weather,location=us-east temperature=75 1717405200\n"
        b"weather,location=us-west temperature=48 1717408800",
    )
    assert status == 204
    status, body = _post(
        server.base + "/query?db=mydb",
        json.dumps({"query": "SELECT count() AS n, round(avg(temperature), 1) AS t FROM weather"}).encode(),
    )
    assert status == 200
    [row] = json.loads(body)["results"]
    assert row == {"n": 2, "t": 61.5}


def test_http_gzip_and_influx_routes(server):
    payload = gzip.compress(b"m v=1i 1717405200")
    for route in ("/api/v2/write?db=d2&precision=s", "/gigapi/write/d2?precision=s"):
        status, _ = _post(server.base + route, payload, {"Content-Encoding": "gzip"})
        assert status == 204
    status, body = _post(
        server.base + "/query?db=d2", json.dumps({"query": "SELECT count() n FROM m"}).encode()
    )
    assert json.loads(body)["results"][0]["n"] == 2


def test_http_create_health_ping_errors(server):
    status, _ = _post(
        server.base + "/gigapi/create",
        json.dumps(
            {"database": "dd", "table": "tt", "fields": {"v": "BIGINT"}, "order_by": ["__timestamp"]}
        ).encode(),
    )
    assert status == 200
    assert server.catalog.get("dd", "tt").schema == {"v": "INT8"}

    with urllib.request.urlopen(server.base + "/health", timeout=10) as r:
        assert r.status == 200 and json.loads(r.read())["status"] == "ok"
    with urllib.request.urlopen(server.base + "/ping", timeout=10) as r:
        assert r.status == 204

    status, body = _post(server.base + "/query", json.dumps({"query": "SELEKT nope"}).encode())
    assert status == 400 and "error" in json.loads(body)


def test_streaming_file_source_ingest(spark, tmp_path):
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.query import QueryEngine
    from quackpipe_spark.streaming import stream_lines_to_table

    src = tmp_path / "incoming"
    src.mkdir()
    (src / "batch1.lp").write_text(
        "sensors,zone=a temp=20 1717405200000000000\n"
        "sensors,zone=b temp=30 1717405201000000000\n"
    )
    catalog = Catalog(str(tmp_path / "root"))
    stream = spark.readStream.format("text").load(str(src))
    q = stream_lines_to_table(
        spark, catalog, stream, db="iot",
        checkpoint_dir=str(tmp_path / "ckpt"), trigger_seconds=0.5,
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            t = catalog.get("iot", "sensors")
            if t and any(t.partition_dirs()):
                break
            time.sleep(0.5)
        q.processAllAvailable()
    finally:
        q.stop()
    qe = QueryEngine(spark, catalog)
    rows = qe.sql("SELECT count() n, round(avg(temp),1) t FROM sensors", db="iot").collect()
    assert rows[0]["n"] == 2 and rows[0]["t"] == 25.0


def test_windowed_counts_batch_parity(spark, duck):
    # the windowed op runs identically on a batch DF; oracle via duckdb
    from quackpipe_spark.streaming import windowed_counts
    from tests.conftest import SF_DIR
    from tests.oracle_utils import assert_frames_match

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    df = windowed_counts(ev, window="1 hour", watermark="0 seconds")
    rel = duck.sql(
        """
        SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start_s,
               CAST(epoch(date_trunc('hour', ts)) + 3600 AS BIGINT) AS window_end_s,
               event_type, count(*) AS n
        FROM events GROUP BY 1, 2, 3
        """
    )
    assert_frames_match(df, rel, "windowed_counts")


def test_streaming_bulk_batch_distributed_path(spark, tmp_path, monkeypatch):
    """A micro-batch above driver_path_max_rows must take the distributed
    parse+write path (mapInArrow → sorted hive write), never collect() —
    and produce the same on-disk table contract as the driver path. The
    driver-side entrypoint is replaced with a tripwire so 'same result
    via the wrong path' cannot pass."""
    import quackpipe_spark.ingest as ingest_mod
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.query import QueryEngine
    from quackpipe_spark.streaming import stream_lines_to_table

    def _boom(*a, **k):
        raise AssertionError("driver-side ingest_lines used for a bulk batch")

    monkeypatch.setattr(ingest_mod, "ingest_lines", _boom)

    src = tmp_path / "incoming"
    src.mkdir()
    n = 200
    lines = [
        f"bulk,zone=z{i % 4} temp={20 + (i % 7)} {1717405200000000000 + i * 10**9}"
        for i in range(n)
    ]
    (src / "backfill.lp").write_text("\n".join(lines) + "\n")
    catalog = Catalog(str(tmp_path / "root"))
    stream = spark.readStream.format("text").load(str(src))
    q = stream_lines_to_table(
        spark, catalog, stream, db="iot",
        checkpoint_dir=str(tmp_path / "ckpt"), trigger_seconds=0.5,
        driver_path_max_rows=10,  # force the distributed path
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    t = catalog.get("iot", "bulk")
    assert t is not None and t.schema["temp"] == "FLOAT8"
    assert t.schema["__timestamp"] == "INT8"  # auto-timestamp applied
    qe = QueryEngine(spark, catalog)
    rows = qe.sql(
        "SELECT zone, count() AS n FROM bulk GROUP BY zone ORDER BY zone", db="iot"
    ).collect()
    assert [r["n"] for r in rows] == [50, 50, 50, 50]


def test_http_write_edge_routing(server):
    # trailing slash = empty {db} segment: Go's ServeMux wildcard
    # requires a non-empty segment, so the faithful answer is 404 —
    # and db='' would have landed tables at the catalog ROOT anyway
    status, _ = _post(
        server.base + "/gigapi/write/?precision=s", b"edge v=1i 1717405200"
    )
    assert status == 404
    # ...and multi-segment paths are not the single-segment {db} route
    status, _ = _post(
        server.base + "/gigapi/write/a/b?precision=s", b"edge v=1i 1717405200"
    )
    assert status == 404
    # ndjson without an explicit target table is a 400, not silent
    # misrouting into db.default
    status, body = _post(
        server.base + "/write?db=d9",
        b'{"a": 1}',
        {"Content-Type": "application/x-ndjson"},
    )
    assert status == 400
    assert "table" in json.loads(body)["error"]


def test_insert_route_with_db_suffix_404s(server):
    """Only /gigapi/write/{db} carries the db in the path; a /{db} suffix
    on any other write route must 404 instead of silently ingesting into
    'default' (reference registers exact routes + that one pattern)."""
    status, _ = _post(
        server.base + "/gigapi/insert/mydb?table=t",
        b'{"a": 1}',
        {"Content-Type": "application/x-ndjson"},
    )
    assert status == 404
    status, _ = _post(server.base + "/write/mydb", b"m v=1i 1717405200")
    assert status == 404


def test_create_passes_engine_through(server, spark):
    status, _ = _post(
        server.base + "/gigapi/create?db=edb",
        json.dumps({"create_table": "flat", "engine": "Merge"}).encode(),
    )
    assert status == 200
    t = server.catalog.get_or_create("edb", "flat")
    assert t.engine == "Merge"
    assert t.partition_by == []  # flat layout, not date/hour dirs


def test_stop_releases_port_for_restart(spark, tmp_path):
    srv = GigapiServer(spark, str(tmp_path / "root"), port=0)
    srv.start()
    port = srv._httpd.server_address[1]
    srv.stop()
    srv2 = GigapiServer(spark, str(tmp_path / "root2"), port=port)
    srv2.start()  # EADDRINUSE here before the server_close() fix
    assert srv2._httpd.server_address[1] == port
    srv2.stop()


@pytest.mark.parametrize("length", [b"-1", b"1_0"])
def test_bad_content_length_is_400_and_stop_returns(spark, tmp_path, length):
    """A negative Content-Length made the handler read to EOF, and '1_0'
    (int() accepts it as 10) past the body: either way the client got no
    reply and stop() blocked joining the handler until the client hung
    up. Both must get the JSON 400 at once while the client holds its
    end open, and stop() must then return."""
    import socket
    import threading

    srv = GigapiServer(spark, str(tmp_path / "root"), port=0)
    srv.start()
    sock = socket.create_connection(
        ("127.0.0.1", srv._httpd.server_address[1]), timeout=5
    )
    stopper = None
    try:
        sock.sendall(
            b"POST /write?db=cl HTTP/1.1\r\nHost: x\r\nContent-Length: "
            + length
            + b"\r\n\r\n"
        )
        reply = b""
        try:
            while chunk := sock.recv(4096):
                reply += chunk
        except TimeoutError:
            pass
        head, _, body = reply.partition(b"\r\n\r\n")
        assert head.split(b"\r\n")[0].split(b" ")[1:2] == [b"400"], reply
        assert "Content-Length" in json.loads(body)["error"]
        stopper = threading.Thread(target=srv.stop, daemon=True)
        stopper.start()
        stopper.join(10)
        assert not stopper.is_alive(), "stop() blocked on the handler"
    finally:
        sock.close()
        if stopper is None:
            srv.stop()
        else:
            stopper.join(30)


def test_query_response_is_streamed_shape(server):
    _post(
        server.base + "/write?db=sdb&precision=s",
        b"\n".join(b"m v=%di 171740520%d" % (i, i % 10) for i in range(50)),
    )
    status, body = _post(
        server.base + "/query?db=sdb",
        json.dumps({"query": "SELECT v FROM m ORDER BY v"}).encode(),
    )
    assert status == 200
    rows = json.loads(body)["results"]
    assert [r["v"] for r in rows] == list(range(50))


def test_query_error_shapes_around_streaming(server, spark, monkeypatch):
    """Two error paths of the /query response:

    - execution fails, in the first partition or a later one: the result
      is materialized before the 200 header commits, so the client gets
      the documented JSON 400 error shape with no partial rows;
    - encoding fails after the 200 committed: the body must close as
      valid JSON with an "error" key after the rows already written —
      never a second status line spliced into the body."""
    from pyspark.sql.types import LongType

    import quackpipe_spark.api as api

    def boom_late(x):
        if x >= 750:
            raise RuntimeError("kaboom-late")
        return x

    def boom_now(x):
        raise RuntimeError("kaboom-now")

    spark.udf.register("qp_test_boom_late", boom_late, LongType())
    spark.udf.register("qp_test_boom_now", boom_now, LongType())

    status, body = _post(
        server.base + "/query",
        json.dumps(
            {"query": "SELECT qp_test_boom_now(id) AS v FROM range(0, 10, 1, 1)"}
        ).encode(),
    )
    assert status == 400
    assert "error" in json.loads(body)

    status, body = _post(
        server.base + "/query",
        json.dumps(
            {"query": "SELECT qp_test_boom_late(id) AS v FROM range(0, 1000, 1, 4)"}
        ).encode(),
    )
    assert status == 400  # the late partition failed before any header
    doc = json.loads(body)
    assert "kaboom-late" in doc["error"]
    assert "results" not in doc
    # a type with no Row form fails before the header, as the row path did
    status, body = _post(
        server.base + "/query", json.dumps({"query": "SELECT make_interval(1, 2) AS i"}).encode()
    )
    assert status == 400 and "CalendarIntervalType" in json.loads(body)["error"]

    real, calls = api.json_rows, []

    def encode_fails_second_batch(batch, forms):
        calls.append(batch.num_rows)
        if len(calls) == 2:
            raise ValueError("encode-boom")
        return real(batch, forms)

    monkeypatch.setattr(api, "json_rows", encode_fails_second_batch)
    status, body = _post(
        server.base + "/query",
        json.dumps({"query": "SELECT id AS v FROM range(0, 25000, 1, 3) ORDER BY id"}).encode(),
    )
    assert status == 200  # the header was committed before encoding
    doc = json.loads(body)  # still valid JSON
    assert "encode-boom" in doc["error"]
    assert [r["v"] for r in doc["results"]] == list(range(calls[0]))
    assert 0 < calls[0] < 25000


# every type /query serves, with a null in each column on every third row
_ALL_TYPES = """
SELECT id, if(id % 3 = 0, NULL, x) AS x FROM (SELECT id, named_struct(
  'i', CAST(id AS INT), 'b8', CAST(id AS TINYINT), 's16', CAST(-id AS SMALLINT),
  'l', id * 3000000000, 'f', CAST(id / 10 AS FLOAT), 'd', id / 7,
  'nan', double('NaN'), 'pinf', double('inf'), 'ninf', double('-inf'),
  'dec', CAST(id / 8 AS DECIMAL(10, 3)), 'tiny', CAST(id / 10000000 AS DECIMAL(20, 9)),
  'dz', CAST(0 AS DECIMAL(20, 9)), 'big', CAST(id * 1e20 AS DECIMAL(38, 1)),
  's', concat('héllo ☃ 𝄞 "q" \\ ', id), 'bin', unhex(hex(id * 255)),
  'bo', id % 2 = 0, 'dt', date_add(DATE'1969-12-30', CAST(id AS INT)),
  'ts', TIMESTAMP'2024-03-10 01:59:59.5' + make_interval(0, 0, 0, 0, CAST(id AS INT)),
  'old', TIMESTAMP'1960-01-01 00:00:00.25' + make_interval(0, 0, 0, CAST(id AS INT)),
  'ntz', TIMESTAMP_NTZ'2024-01-02 03:04:05.6' + make_interval(0, 0, 0, CAST(id AS INT)),
  'arr', array(id, NULL, -id),
  'm', map_from_arrays(transform(sequence(0, 30), k -> concat('k', k * id)), sequence(0, 30)),
  'mi', map_from_arrays(sequence(0, 40, 8), transform(sequence(0, 40, 8), k -> k + id)),
  'ml', map(id * 4294967296, 'hi', -id, 'neg'),
  'mb', map(true, id, false, -id),
  'mt', map_from_arrays(transform(sequence(0, 40), k -> k * 64 + id), sequence(0, 40)),
  'nest', named_struct('t', TIMESTAMP'2020-01-01 00:00:00' + make_interval(0, 0, 0, CAST(id AS INT)),
                       'bb', X'00FF', 'arr', array(named_struct('q', CAST(id AS DECIMAL(5, 2)))),
                       'mm', map('k', X'01'))) AS x
FROM range(0, 12, 1, 3))
"""


def test_query_json_equals_the_row_path(server, monkeypatch):
    """/query renders its one Arrow collect byte for byte as the
    row-by-row path rendered ``json.dumps(row.asDict(recursive=True),
    default=str)``: ints, NaN and ±inf, decimals (tiny ones in Java's
    engineering notation), unicode, binary, bools, dates, timestamps as
    naive local time (here in a zone with a DST gap), timestamp_ntz,
    arrays, maps in Java HashMap order (tree bins too), nested structs and nulls; and a
    multi-partition ORDER BY over several Arrow batches keeps its order."""
    import time

    def both(q):
        status, body = _post(server.base + "/query", json.dumps({"query": q}).encode())
        rows = server.query.sql(q).toLocalIterator()
        want = ", ".join(json.dumps(r.asDict(recursive=True), default=str) for r in rows)
        return status, body.decode(), '{"results": [' + want + "]}"

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        for q in (
            _ALL_TYPES,
            "SELECT x.* FROM (" + _ALL_TYPES + ")",
            "SELECT id, id / 3 AS q, CAST(id AS STRING) AS s FROM range(0, 25000, 1, 4) ORDER BY id DESC",
            "SELECT id FROM range(0, 0)",
        ):
            status, got, want = both(q)
            assert status == 200
            assert got == want, q
    finally:
        monkeypatch.delenv("TZ")
        time.tzset()


def test_streaming_dead_letter_table(spark, tmp_path):
    """malformed='dead_letter': good lines ingest (distributed path
    forced, so the policy composes with the bulk gate), rejected lines
    land in the _dead_letter table with the parser's own error text and
    the batch id — queryable like any other table, nothing silently
    gone."""
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.query import QueryEngine
    from quackpipe_spark.streaming import stream_lines_to_table

    src = tmp_path / "incoming"
    src.mkdir()
    good = [
        f"dl,zone=z{i % 2} temp={20 + i} {1717405200000000000 + i * 10**9}"
        for i in range(40)
    ]
    bad = [
        "dl,zone=z1 temp=notanumber 1717405200000000000",  # bad field value
        "dl,zone=z1,zone=z2 temp=1 1717405200000000000",  # duplicate tag
        "dl,zone=z3 temp=2 99999999999999999999999999",  # ts out of range
    ]
    lines = good[:20] + bad + good[20:]
    (src / "mixed.lp").write_text("\n".join(lines) + "\n")
    catalog = Catalog(str(tmp_path / "root"))
    stream = spark.readStream.format("text").load(str(src))
    q = stream_lines_to_table(
        spark, catalog, stream, db="iot",
        checkpoint_dir=str(tmp_path / "ckpt"), trigger_seconds=0.5,
        driver_path_max_rows=10, malformed="dead_letter",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    qe = QueryEngine(spark, catalog)
    assert qe.sql("SELECT count() AS n FROM dl", db="iot").collect()[0]["n"] == 40
    dead = qe.sql(
        "SELECT line, error, batch_id FROM _dead_letter ORDER BY line", db="iot"
    ).collect()
    assert sorted(r["line"] for r in dead) == sorted(bad)
    for r in dead:
        assert r["error"] and r["batch_id"] is not None
    # the error text is the parser's own (exact policy parity with 'fail')
    by_line = {r["line"]: r["error"] for r in dead}
    assert "duplicate tag" in by_line[bad[1]]
    assert "out of int64-ns range" in by_line[bad[2]]


def test_streaming_dead_letter_rejects_bad_mode(spark, tmp_path):
    import pytest as _pytest

    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.streaming import stream_lines_to_table

    catalog = Catalog(str(tmp_path / "root"))
    stream = spark.readStream.format("rate").load().selectExpr(
        "CAST(value AS STRING) AS value"
    )
    with _pytest.raises(ValueError, match="dead_letter"):
        stream_lines_to_table(spark, catalog, stream, malformed="nope")


def test_dead_letter_partition_property(spark):
    """Exactness of the dead-letter split: every non-blank, non-comment
    line is EITHER parsed by the skip path OR flagged by the validator —
    never both, never neither. Guards against drift between
    _malformed_lines and parse_lines (they share parse_line, but the
    blank/comment skip logic is restated)."""
    from quackpipe_spark.sources.lineproto import parse_lines
    from quackpipe_spark.streaming.ingest import _malformed_lines

    lines = [
        "m,t=a f=1 1717405200000000000",          # good
        "",                                         # blank: neither
        "   ",                                      # whitespace: neither
        "# comment",                                # comment: neither
        "  # indented comment",                     # comment after strip
        "m f=notanum 1717405200000000000",          # bad value
        "m,t=a,t=b f=1",                            # duplicate tag
        "m,t=a f=1 99999999999999999999999999",     # ts overflow
        "m,t=a time=1 1717405200000000000",         # reserved column
        "m,t=é f=2i 1717405200000000000",      # unicode tag: good
        "m f=1,f=2",                                # duplicate field
        "weather,city=x temp=1u 1717405200000000000",  # uint: good
    ]
    df = spark.createDataFrame([(l,) for l in lines], "value string")
    bad = {r["line"] for r in _malformed_lines(df, "ns").collect()}
    kept = sum(
        len(b.data[next(iter(b.data))])
        for b in parse_lines(lines, skip_malformed=True)
    )
    skippable = sum(1 for l in lines if not l.strip() or l.strip().startswith("#"))
    assert kept + len(bad) + skippable == len(lines)
    # the validator agrees line-by-line with the fail path
    from quackpipe_spark.sources.lineproto import parse_line

    for l in lines:
        s = l.strip()
        if not s or s.startswith("#"):
            assert l not in bad
            continue
        try:
            parse_line(s, "ns")
            assert l not in bad
        except ValueError:
            assert l in bad
