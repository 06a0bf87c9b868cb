"""The shared SQL text scanner (quackpipe_spark.sqltext) and the three
round-10 driver-advice repros it closes:

1. (high) SQL comments fabricated pruning bounds — ``-- AND
   __timestamp >= X`` extracted a live bound, pruning files and
   silently dropping rows; an apostrophe inside a comment (``-- don't``)
   desynced quote parity and re-opened the string-data fabrication
   channel.
2. (medium) the dialect rewriter ignored comments — the same
   apostrophe desync exposed a real literal's contents as code
   (rewriting user data; driver-side read_parquet URL fetch).
3. (medium) ``_list_mat`` silently sheared null/ragged embedding rows
   into a garbage matrix (tested in test_hardening-style unit below).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from quackpipe_spark.sqltext import blank_noncode, scan_segments


def test_scan_segments_cover_and_kinds():
    t = "a 'b''c' -- x\nd \"e\" /* f /* g */ h */ i"
    segs = scan_segments(t)
    assert [k for k, _, _ in segs] == [
        "code", "lit", "code", "comment", "code", "lit", "code", "comment", "code",
    ]
    # contiguous cover of the whole text
    assert segs[0][1] == 0 and segs[-1][2] == len(t)
    for (_, _, b1), (_, a2, _) in zip(segs, segs[1:]):
        assert b1 == a2
    b = blank_noncode(t)
    assert len(b) == len(t)
    # literal contents, comment text (incl. the nested block) all blank
    for ch in "bcxfgh":
        assert ch not in b
    assert b.count("'") == 2 and b.count('"') == 2
    # the -- comment's terminating newline stays (statement whitespace)
    assert "\n" in b


def test_blank_noncode_unterminated_tokens():
    # unterminated literal: content to EOF is non-code; opening quote kept
    assert blank_noncode("SELECT 'abc") == "SELECT '   "
    # at-EOF doubled quote is an ESCAPE, not a terminator
    assert blank_noncode("SELECT 'abc''") == "SELECT '     "
    # terminated literal ending in an escaped quote keeps both quotes
    assert blank_noncode("SELECT 'ab'''") == "SELECT '    '"
    # unterminated block comment blanks to EOF
    assert blank_noncode("SELECT 1 /* open; x") == "SELECT 1" + " " * 11
    # backslash escape does not close
    assert blank_noncode(r"x = 'a\'b' AND y") == "x = '    ' AND y"


def test_comments_cannot_fabricate_pruning_bounds(time_bounds):
    """ADVICE(high) repro: a commented-out time filter must contribute
    NO bound (a fabricated bound prunes files → silent missing rows)."""
    ex = time_bounds

    ns = 1750000000000000000
    assert ex(
        f"SELECT * FROM events WHERE x = 1 -- AND __timestamp >= {ns}",
        ["events"],
    ) == {}
    assert ex(
        f"SELECT * FROM events WHERE x = 1 /* AND __timestamp >= {ns} */",
        ["events"],
    ) == {}
    # the CTE spelling of the same hazard
    assert ex(
        f"WITH a AS (SELECT * FROM events WHERE x = 1 -- AND __timestamp >= {ns}\n"
        ") SELECT * FROM a",
        ["events"],
    ) == {}
    # a real bound next to a comment still extracts
    assert ex(
        "SELECT * FROM events WHERE /* window */ __timestamp >= 7",
        ["events"],
    ) == {"events": (7, None)}


def test_comment_apostrophe_does_not_desync_pruner(time_bounds):
    """``-- don't`` must not flip quote parity: the literal after it is
    still a literal (no fabricated bound), and a real bound after it is
    still code."""
    ex = time_bounds

    assert ex(
        "SELECT * FROM events -- don't\n"
        "WHERE note = 'x' AND __timestamp >= 100",
        ["events"],
    ) == {"events": (100, None)}
    assert ex(
        "SELECT * FROM events -- don't\n"
        "WHERE note = 'AND __timestamp >= 1'",
        ["events"],
    ) == {}


def test_rewrite_sql_comment_aware():
    """ADVICE(medium) repro: a comment apostrophe must not expose a
    literal's contents to the rewriter (mutating which rows match, or
    fetching a read_parquet URL found inside user data)."""
    from quackpipe_spark.functions.dialect import rewrite_sql

    out = rewrite_sql("SELECT * FROM t -- don't\nWHERE msg = 'x count() y'")
    assert "'x count() y'" in out and "count(*)" not in out
    out2 = rewrite_sql(
        "SELECT 1 FROM t -- don't\n"
        "WHERE m = 'read_parquet(''https://example.invalid/x.parquet'')'"
    )
    assert "parquet.`" not in out2
    # count()/read_parquet inside a comment is dead text — untouched
    out3 = rewrite_sql("SELECT count() FROM t -- count()")
    assert out3 == "SELECT count(*) FROM t -- count()"
    out4 = rewrite_sql("SELECT 1 FROM t /* read_parquet('/x.parquet') */")
    assert "parquet.`" not in out4
    # real calls around comments still rewrite
    out5 = rewrite_sql("SELECT count() FROM read_parquet('/tmp/x.parquet') -- tail")
    assert "count(*)" in out5 and "parquet.`" in out5


def test_split_statements_comment_apostrophe():
    from quackpipe_spark.__main__ import split_statements

    assert split_statements("SELECT 1 -- don't\n; SELECT 'a;b'") == [
        "SELECT 1 -- don't",
        "SELECT 'a;b'",
    ]


def test_list_mat_rejects_null_and_ragged_rows():
    """ADVICE(medium) repro: flatten() drops a null row's slot and
    reshape still succeeds when the count divides — one null/ragged
    vector sheared every later row into garbage with no error."""
    from quackpipe_spark.operators.similarity import _list_mat

    assert _list_mat(pa.array([[1.0] * 4, [2.0] * 4])).shape == (2, 4)
    with pytest.raises(ValueError, match="null"):
        _list_mat(pa.array([[1.0] * 4, None, [2.0] * 4, [3.0] * 4]))
    # ragged whose total count still divides by the row count
    with pytest.raises(ValueError, match="ragged"):
        _list_mat(pa.array([[1.0, 2.0], [1.0, 2.0, 3.0], [1.0]]))
    # sliced batch honors offsets
    sl = pa.array([[9.0, 9.0], [1.0, 2.0], [3.0, 4.0]]).slice(1, 2)
    assert _list_mat(sl).tolist() == [[1.0, 2.0], [3.0, 4.0]]
    # chunked input
    ch = pa.chunked_array([pa.array([[1.0, 2.0]]), pa.array([[3.0, 4.0]])])
    assert _list_mat(ch).shape == (2, 2)
    assert _list_mat(pa.array([], type=pa.list_(pa.float64()))).size == 0
