"""CLI entry point.

``python -m quackpipe_spark --stdin`` pipes a ``;``-separated SQL script
straight to the engine — parity with the reference's stdin bootstrap,
which hands the whole stdin to DuckDB's multi-statement Exec
(stdin/init.go:29-49); newlines are statement-internal whitespace there,
so they are here too. ``--serve`` starts the HTTP server over ``--root``.
"""

from __future__ import annotations

import argparse
import sys


def split_statements(text: str) -> list[str]:
    """Split a SQL script on ``;`` OUTSIDE string literals and comments —
    the reference hands the whole stdin script to DuckDB's comment-aware
    multi-statement Exec (stdin/init.go:29-49), so a ``;`` inside either
    must not split (a naive ``text.split(';')`` also broke
    ``SELECT 'a;b'``). Literal forms: single-quoted ('' escape) AND
    double-quoted ("" escape) — Spark parses double quotes as string
    literals (doubleQuotedIdentifiers is off by default), so a ``--`` or
    ``;`` inside one is data. Block comments NEST, matching Spark's
    bracketed-comment grammar (an inner ``*/`` must not close the outer
    comment). Newlines are statement-internal whitespace; comment text
    is kept verbatim in its statement, but a fragment containing ONLY
    comments/whitespace is dropped — it is not a statement and would
    fail Spark's parser. Tokenization is the shared scanner
    (:func:`quackpipe_spark.sqltext.scan_segments`) — the same lexing
    rules as the pruner and the dialect rewriter, so the three can't
    drift apart again (the round-9/10 scanner-desync findings)."""
    from quackpipe_spark.sqltext import scan_segments

    out: list[str] = []
    cur: list[str] = []
    has_code = False
    for kind, a, b in scan_segments(text):
        seg = text[a:b]
        if kind in ("lit", "ident"):
            # a ';' inside a quoted identifier is identifier text, not a
            # statement boundary (same reasoning as literals)
            cur.append(seg)
            has_code = True
        elif kind == "comment":
            cur.append(seg)
        else:
            pieces = seg.split(";")
            for idx, p in enumerate(pieces):
                if idx:  # a ';' statement boundary precedes this piece
                    if has_code:
                        out.append("".join(cur))
                    cur, has_code = [], False
                if p:
                    cur.append(p)
                    if not has_code and p.strip():
                        has_code = True
    if has_code:
        out.append("".join(cur))
    return [s.strip() for s in out if s.strip()]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="quackpipe_spark")
    ap.add_argument("--stdin", action="store_true", help="execute SQL from stdin")
    ap.add_argument("--serve", action="store_true", help="start the HTTP server")
    ap.add_argument("--root", default="./gigadata", help="data root directory")
    ap.add_argument("--db", default="default")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=7971)
    args = ap.parse_args(argv)

    # no mode: print help WITHOUT paying several seconds of JVM startup
    if not (args.stdin or args.serve):
        ap.print_help()
        return 2

    from quackpipe_spark.session import get_spark

    spark = get_spark()
    if args.stdin:
        from quackpipe_spark.catalog import Catalog
        from quackpipe_spark.query import QueryEngine

        qe = QueryEngine(spark, Catalog(args.root))
        for stmt in split_statements(sys.stdin.read()):
            df = qe.sql(stmt, db=args.db)
            # toLocalIterator, not the /query path's one Arrow collect: one
            # partition in driver memory at a time — a bootstrap script can
            # SELECT an entire table without an unbounded driver
            # materialization, and a one-shot script has no repeat for a
            # result cache to serve nor a status line to send before rows
            for row in df.toLocalIterator():
                print("\t".join(str(v) for v in row))
        return 0
    from quackpipe_spark.api import GigapiServer

    srv = GigapiServer(spark, args.root, host=args.host, port=args.port)
    srv.start()
    print(f"listening on http://{args.host}:{srv._httpd.server_address[1]}")
    import signal
    import threading

    done = threading.Event()
    # SIGTERM is the standard docker/systemd stop signal: without a
    # handler Python dies inside the wait() with NO final flush — rows
    # the server 422-acked as "buffered, may still be written" would be
    # dropped and the graceful path below would be unreachable in the
    # most common deployment (review r14). SIGINT keeps Ctrl-C parity.
    signal.signal(signal.SIGTERM, lambda *_: done.set())
    try:
        done.wait()
    except KeyboardInterrupt:
        pass
    srv.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
