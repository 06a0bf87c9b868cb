"""HTTP API surface (SURVEY §2C) — stdlib-only server on the driver.

Route parity with /root/reference/merge/merge.go:44-100 and the querier:

- POST /gigapi/create            — explicit CREATE TABLE (create_table.go:30-81)
- POST /gigapi/insert|/gigapi/write[/{db}]|/write|/api/v2/write|/api/v3/write_lp
                                 — line-protocol ingest (?db=, ?precision=)
- GET  /health | /ping           — health JSON / 204
- POST /query?db=                — SQL → {"results": [...]}

The handler thread parses and buffers; Spark executes on flush/query —
same thread boundaries as the reference (HTTP ↔ parser ↔ writer ↔ engine).
Gzip request bodies are decompressed transparently (insert_into.go:44-52).
"""

from __future__ import annotations

import gzip
import json
import threading
from concurrent.futures import TimeoutError as FuturesTimeout
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pyarrow as pa

from quackpipe_spark.catalog import Catalog
from quackpipe_spark.ingest import IngestService, ingest_lines
from quackpipe_spark.jsonrows import json_rows, row_form
from quackpipe_spark.query import QueryEngine
from quackpipe_spark.writer import PartialWriteError

_WRITE_PATHS = ("/gigapi/insert", "/gigapi/write", "/write", "/api/v2/write", "/api/v3/write_lp")

import logging

_log = logging.getLogger(__name__)

# Batches the server 422-acked while their flush outcome was still pending
# (flush timeout / partial write) whose flush ULTIMATELY FAILED: those rows
# are gone and the client was told not to retry — the loss must be
# observable server-side (ADVICE r14). Monotonic process-lifetime counter.
ACKED_BATCH_LOSSES = 0
_LOSS_LOCK = threading.Lock()


def _watch_unresolved(promises, route: str, reported=None) -> None:
    """Attach a loss watcher to every flush promise of a request that
    already got its (non-retryable) 4xx ack, EXCEPT the one promise whose
    failure the ack body itself reported (``reported``). If a watched
    flush fails — whether it already failed by ack time or fails later —
    the batch is silently lost from the client's view (the inverse hazard
    of the duplication the 422 prevents), so log it loudly and bump
    ACKED_BATCH_LOSSES. Success and cancellation are the expected quiet
    outcomes. Already-done futures are watched too: the handler's
    ``p.result(30)`` loop stops at its FIRST exception/timeout, so a
    sibling promise may have failed fast before the ack without the
    client ever hearing about it — ``add_done_callback`` fires
    immediately on done futures, counting exactly that silent loss."""

    def _on_done(fut):
        global ACKED_BATCH_LOSSES
        try:
            exc = None if fut.cancelled() else fut.exception()
        except Exception:  # pragma: no cover - defensive: exotic futures
            exc = None
        if exc is not None:
            with _LOSS_LOCK:
                ACKED_BATCH_LOSSES += 1
            _log.error(
                "batch acked non-retryable on %s while buffered later "
                "FAILED its flush — rows lost, client will not retry: %s: %s",
                route,
                type(exc).__name__,
                exc,
            )

    for p in promises:
        if p is reported:
            continue  # its failure is already in the 422 body — not silent
        # duck-type tolerant: the watcher is best-effort observability and
        # must never turn the 4xx ack it accompanies into a 400
        try:
            p.add_done_callback(_on_done)
        except Exception:  # pragma: no cover - promise-shaped test doubles
            pass


class GigapiServer:
    def __init__(
        self,
        spark,
        root: str,
        host: str = "127.0.0.1",
        port: int = 7971,
        merge_timeout_s: float | None = None,
    ):
        self.spark = spark
        self.catalog = Catalog(root)
        self.ingest = IngestService(spark, self.catalog)
        self.query = QueryEngine(spark, self.catalog)
        self.host, self.port = host, port
        self._httpd: ThreadingHTTPServer | None = None
        # merge ticker parity (registry.go:27-62): every MERGE_TIMEOUT_S,
        # run due compaction levels per table; NO_MERGES disables.
        import os as _os

        from quackpipe_spark.plans.compactor import MERGE_TIMEOUT_S

        self.merge_timeout_s = (
            merge_timeout_s
            if merge_timeout_s is not None
            else float(_os.environ.get("MERGE_TIMEOUT_S", MERGE_TIMEOUT_S))
        )
        self.merges_enabled = not _os.environ.get("NO_MERGES")
        self._compactors: dict = {}
        self._merge_stop = threading.Event()
        self._merge_thread: threading.Thread | None = None

    def _merge_loop(self) -> None:
        from quackpipe_spark.plans.compactor import Compactor

        while not self._merge_stop.wait(self.merge_timeout_s):
            # the try must cover EVERYTHING in the tick — an exception
            # escaping here (a bad table, a Compactor init failure) kills
            # the daemon thread permanently and silently, which is the
            # exact failure mode the inner handler exists to prevent
            try:
                tables = self.catalog.tables()  # lock-snapshotted copy
            except Exception:
                import traceback

                traceback.print_exc()
                continue
            for t in tables:
                try:
                    comp = self._compactors.get((t.database, t.name))
                    if comp is None:
                        comp = Compactor(self.spark, t)
                        self._compactors[(t.database, t.name)] = comp
                    levels = comp.due_levels(timeout_s=self.merge_timeout_s)
                    if levels:
                        comp.run_once(levels)
                except Exception:
                    # merge failure must not kill the ticker, but a
                    # persistently failing compaction (corrupt file,
                    # permissions) must be visible, not a silent no-op
                    # while small files pile up
                    import sys
                    import traceback

                    print(
                        f"[merge-ticker] compaction failed for "
                        f"{t.database}.{t.name}:",
                        file=sys.stderr,
                    )
                    traceback.print_exc()

    def start(self) -> None:
        self.ingest.start()
        if self.merges_enabled:
            self._merge_stop.clear()  # stop() sets it; a restart must reset
            self._merge_thread = threading.Thread(
                target=self._merge_loop, daemon=True, name="merge-ticker"
            )
            self._merge_thread.start()
        server = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _body(self) -> bytes:
                if self.headers.get("Content-Length") is None and self.headers.get(
                    "Transfer-Encoding"
                ):
                    # chunked bodies aren't framed by this stdlib handler:
                    # reading 0 bytes would ack 204 with nothing ingested
                    # AND desync the keep-alive connection — reject loudly
                    raise ValueError(
                        "Transfer-Encoding bodies unsupported; send Content-Length"
                    )
                n = self.headers.get("Content-Length", "0").strip()
                # digits only: rfile.read(-1) reads to EOF, so the client
                # waits for a reply that never comes and stop() blocks
                # joining this handler; int() would also take '1_0'
                if not (n.isascii() and n.isdigit()):
                    raise ValueError(f"invalid Content-Length {n!r}")
                raw = self.rfile.read(int(n))
                if self.headers.get("Content-Encoding") == "gzip" or raw[:2] == b"\x1f\x8b":
                    raw = gzip.decompress(raw)
                return raw

            def _send(self, code: int, payload: dict | None = None):
                # timestamps/dates/decimals/bytes serialize via str — the
                # reference's JSON rows render the same way
                body = (
                    json.dumps(payload, default=str).encode()
                    if payload is not None
                    else b""
                )
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _stream_rows(self, table: pa.Table):
                """Send {"results": [...]} from ``table``, the query's
                result materialized once as Arrow (QueryEngine.result: one
                Spark job, or none for a held result), written batch by
                batch with connection-close framing (HTTP/1.0, the handler
                default). The bytes equal the row-by-row path's
                ``json.dumps(row.asDict(recursive=True), default=str)``
                joined by ", " (see :mod:`quackpipe_spark.jsonrows`).
                Driver memory is bounded by the result held once as Arrow
                — Spark's ``spark.driver.maxResultSize`` caps it — plus
                one batch of Python rows.

                Error contract: the result is complete before the 200
                header goes out, so every analysis or execution failure is
                the documented JSON 400 shape. Only a failure while
                encoding or writing (a value JSON can't render, the client
                gone) comes after the committed 200: the body then closes
                as ``{"results": [...], "error": "..."}`` — still valid
                JSON, unambiguously not a success shape, never a second
                status line spliced mid-body."""
                bytes_ok = (
                    server.spark.conf.get("spark.sql.execution.pyspark.binaryAsBytes", "true").lower()
                    == "true"
                )
                forms = [row_form(f.type, bytes_ok) for f in table.schema]
                # past here the 200 is committed
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                w = self.wfile
                w.write(b'{"results": [')
                try:
                    sep = b""
                    for batch in table.to_batches():
                        if batch.num_rows:
                            w.write(sep + json_rows(batch, forms).encode())
                            sep = b", "
                    w.write(b"]}")
                except Exception as e:
                    try:
                        w.write(
                            b'], "error": '
                            + json.dumps(f"{type(e).__name__}: {e}").encode()
                            + b"}"
                        )
                    except OSError:
                        pass  # client already gone — nothing to salvage

            def do_GET(self):
                path = urlparse(self.path).path
                if path == "/health":
                    self._send(200, {"status": "ok"})
                elif path == "/ping":
                    self.send_response(204)
                    self.end_headers()
                else:
                    self._send(404, {"error": "not found"})

            def do_POST(self):
                url = urlparse(self.path)
                q = {k: v[0] for k, v in parse_qs(url.query).items()}
                path = url.path
                try:
                    if path == "/gigapi/create":
                        spec = _parse_create(self._body())
                        cdb = spec.get("database", q.get("db", "default"))
                        existing = server.catalog.get(cdb, spec["table"])
                        t = server.catalog.get_or_create(
                            cdb,
                            spec["table"],
                            fields=spec.get("fields"),
                            order_by=spec.get("order_by"),
                            # the spec's engine must flow through: a flat
                            # 'Merge' table silently created as partitioned
                            # HiveMerge has a different on-disk layout than
                            # the client asked for (create_table.go:23,69)
                            engine=spec.get("engine", "HiveMerge"),
                        )
                        if existing is None:
                            self._send(200, {"status": "created"})
                        else:
                            # get_or_create does NOT re-spec an existing
                            # table; answering "created" would let the
                            # client believe its layout/order took effect
                            resp: dict = {"status": "exists"}
                            mism = []
                            if spec.get("engine") and spec["engine"] != t.engine:
                                mism.append(f"engine={t.engine}")
                            # compare the NORMALIZED spec: the YAML scalar
                            # 'order_by: ts' is the spelling get_or_create
                            # itself normalizes to ['ts'] — comparing the
                            # raw scalar produced a false "spec was not
                            # applied" warning for an exactly-matching
                            # re-create (review r14)
                            req_ob = spec.get("order_by")
                            if isinstance(req_ob, str):
                                req_ob = [req_ob]
                            if req_ob and list(req_ob) != t.order_by:
                                mism.append(f"order_by={t.order_by}")
                            if mism:
                                resp["warning"] = (
                                    "existing table keeps " + ", ".join(mism)
                                    + "; requested spec was not applied"
                                )
                            self._send(200, resp)
                    elif path in _WRITE_PATHS or (
                        path.startswith("/gigapi/write/")
                        and "/" not in path[len("/gigapi/write/") :]
                        and path != "/gigapi/write/"
                    ):
                        # only /gigapi/write/{db} carries the db in the
                        # path (reference: merge.go registers exact routes
                        # plus that one SINGLE-SEGMENT pattern); a suffix
                        # on any other write route, a multi-segment path
                        # ('/gigapi/write/a/b' — Go's '{db}' matches one
                        # segment, so routing its LAST segment as the db
                        # would silently misroute into an auto-created db),
                        # and a trailing slash (db='' → tables under the
                        # catalog ROOT) must all 404 instead
                        db = (
                            q.get("db")
                            or (path.rsplit("/", 1)[-1] if path.startswith("/gigapi/write/") else "")
                            or "default"
                        )
                        ctype = (self.headers.get("Content-Type") or "").split(";")[0].strip()
                        if ctype == "application/x-ndjson":
                            # content-type parser dispatch (parsers.go:30-46);
                            # ndjson has no in-band table name, so a missing
                            # ?table= would silently misroute rows to
                            # db.default with a 204 — require it
                            from quackpipe_spark.sources.ndjson import ingest_ndjson

                            table = q.get("table")
                            if not table:
                                raise ValueError(
                                    "ndjson ingest requires an explicit ?table="
                                )
                            promises = ingest_ndjson(
                                server.ingest,
                                self._body().decode(),
                                db=db,
                                table=table,
                            )
                        else:  # default: influx line protocol
                            promises = ingest_lines(
                                server.ingest,
                                self._body().decode(),
                                db=db,
                                precision=q.get("precision", "ns"),
                            )
                        try:
                            for p in promises:
                                p.result(30)
                        except PartialWriteError as e:
                            # some partitions COMMITTED before the failure.
                            # Machine line-protocol clients (telegraf,
                            # influx client libs) auto-retry 5xx with
                            # backoff and never read the body, so a 503
                            # here would invite the exact blind retry that
                            # duplicates the committed partitions (ADVICE
                            # r12). 422 is in the non-retryable 4xx class
                            # those clients drop on; 503 stays reserved
                            # for retry-SAFE transient failures. Later
                            # promises of this request may still be
                            # pending or may have failed fast before this
                            # one raised — watch all but the reported one
                            # so every silent flush failure is observable
                            # (ADVICE r14).
                            _watch_unresolved(promises, path, reported=p)
                            self._send(
                                422,
                                {
                                    "error": f"partial write: {e}; committed "
                                    "partitions would duplicate on a blind "
                                    "retry"
                                },
                            )
                            return
                        except FuturesTimeout:
                            # AMBIGUOUS outcome: the rows are buffered and a
                            # later flush will likely still write them — a
                            # retryable status would duplicate every row
                            # once the pending flush lands, so this too is
                            # non-retryable 4xx (see PartialWriteError).
                            # If that pending flush ultimately FAILS the
                            # batch is lost with no client retry signal —
                            # keep the 422 but make the loss observable
                            # server-side (ADVICE r14).
                            _watch_unresolved(promises, path)
                            self._send(
                                422,
                                {
                                    "error": "flush timeout: write outcome "
                                    "unknown (rows remain buffered and may "
                                    "still be written); do not blindly retry"
                                },
                            )
                            return
                        except (TypeError, ValueError) as e:
                            # PERMANENT client-fault flush failure: the
                            # schema machinery raises TypeError (type
                            # conflict) / ValueError (reserved partition
                            # column) for data that can NEVER flush — a
                            # 503 here would have a compliant client
                            # retrying the same doomed batch forever
                            # instead of surfacing the data problem
                            # (ADVICE r15). Nothing committed, but retry
                            # cannot succeed: non-retryable 400.
                            self._send(
                                400,
                                {
                                    "error": f"flush rejected (permanent — "
                                    f"do not retry): "
                                    f"{type(e).__name__}: {e}"
                                },
                            )
                            return
                        except Exception as e:
                            # COMPLETE pre-publish flush failure: any
                            # non-Partial promise exception means NOTHING
                            # committed (_flush_parts/_commit raise plain
                            # errors only after full rollback), so this is
                            # exactly the retry-SAFE transient class the
                            # comments above reserve 503 for. Falling into
                            # the generic 400 conflated it with
                            # client-fault parse errors — machine LP
                            # clients never retry 4xx, permanently losing
                            # retryable data (review r14). Known-permanent
                            # schema faults are carved out above (r15).
                            self._send(
                                503,
                                {
                                    "error": f"flush failed, nothing "
                                    f"committed — safe to retry: "
                                    f"{type(e).__name__}: {e}"
                                },
                            )
                            return
                        self.send_response(204)
                        self.end_headers()
                    elif path == "/query":
                        body = json.loads(self._body() or b"{}")
                        table = server.query.result(body["query"], db=q.get("db", "default"))
                        self._stream_rows(table)
                    else:
                        self._send(404, {"error": "not found"})
                except Exception as e:  # error shape parity: JSON error body
                    self._send(400, {"error": f"{type(e).__name__}: {e}"})

        class _JoiningHTTPServer(ThreadingHTTPServer):
            # join in-flight handler threads at server_close(): with the
            # default daemon_threads=True, stop() could run the ingest's
            # FINAL flush while a handler is still buffering rows —
            # stranding them forever with their promise unresolved
            # (silent, uncounted loss; review r14). block_on_close is
            # True by default, so server_close() waits for handlers.
            daemon_threads = False

        self._httpd = _JoiningHTTPServer((self.host, self.port), Handler)
        threading.Thread(target=self._httpd.serve_forever, daemon=True, name="gigapi-http").start()

    def stop(self) -> None:
        if self._httpd:
            self._httpd.shutdown()
            self._httpd.server_close()  # release the listening socket/fd
            self._httpd = None
        self._merge_stop.set()
        if self._merge_thread:
            self._merge_thread.join(timeout=30)
            self._merge_thread = None
        self.ingest.stop()


def _parse_create(body: bytes) -> dict:
    """create_table.go:20-38 unmarshals the body as yaml (json is a yaml
    subset, so both content types land here, like the reference). Accepts
    the reference's key spelling (``create_table``) and ours (``table``)."""
    text = body.decode()
    try:
        spec = json.loads(text)
    except json.JSONDecodeError:
        try:
            import yaml
        except ImportError as e:  # pragma: no cover - yaml ships in-container
            raise ValueError("body is not JSON and no yaml parser is available") from e
        spec = yaml.safe_load(text)
    if not isinstance(spec, dict):
        raise ValueError("create body must be a mapping")
    if "table" not in spec and "create_table" in spec:
        spec["table"] = spec["create_table"]
    return spec
