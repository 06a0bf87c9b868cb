"""Regression tests for the round-12 SQL-serving review findings:
backtick identifiers lex (quote parity can't desync), time-dependent
dialect sugar and WINDOW-clause names never cache, reference detection
ignores literals/comments, read_parquet interception anchors on a word
boundary and unfolds ''-escapes, and an unqualified bound over two
relations prunes nothing."""

from __future__ import annotations

import pytest

from quackpipe_spark.sqltext import blank_noncode, scan_segments


# ------------------------------------------------------------- sqltext


def test_backtick_apostrophe_cannot_desync_quote_parity(time_bounds):
    """The review's confirmed repro: an apostrophe inside a backtick
    identifier started a phantom literal, hiding a real OR and exposing
    literal contents as code — the pruner fabricated a bound under a
    disjunct (silent missing rows)."""
    q = (
        "SELECT * FROM events WHERE `x'y` = 'p' "
        "OR q = ' AND __timestamp >= 100 AND z = '"
    )
    assert time_bounds(q, ["events"]) == {}
    b = blank_noncode(q)
    assert "OR" in b  # the real OR is visible as code
    assert "__timestamp" not in b  # the literal's contents are blanked


def test_backtick_ident_lexed_and_weird_contents_blanked(time_bounds):
    kinds = [k for k, _a, _b in scan_segments("SELECT `a``b;c` FROM t")]
    assert "ident" in kinds
    b = blank_noncode("SELECT `a;b` FROM t; SELECT 2")
    assert ";" not in b.split("FROM")[0]  # the identifier ';' is blanked
    # plain-word identifiers stay visible (`events` must still read as a
    # table reference; `__timestamp` as the time column)
    assert "events" in blank_noncode("SELECT * FROM `events`")
    # an identifier NAMED like a bound cannot fabricate one
    q = "SELECT `__timestamp >= 100` FROM events"
    assert "__timestamp" not in blank_noncode(q)
    assert time_bounds(q, ["events"], analyzes=False) == {}


def test_statement_split_ignores_semicolon_in_backticks():
    from quackpipe_spark.__main__ import split_statements

    got = split_statements("SELECT `a;b` FROM t; SELECT 2")
    assert len(got) == 2
    assert got[0] == "SELECT `a;b` FROM t"


def test_unterminated_backtick_is_conservative():
    b = blank_noncode("SELECT `oops FROM t WHERE __timestamp >= 5")
    assert "__timestamp" not in b


# -------------------------------------------------------- cacheability


@pytest.fixture()
def qe(spark, tmp_path):
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.ingest import IngestService
    from quackpipe_spark.query import QueryEngine

    cat = Catalog(str(tmp_path / "root"))
    svc = IngestService(spark, cat, save_timeout_s=3600)
    svc.store("d", "ev", {"v": [1, 2, 3], "__timestamp": [10, 20, 30]})
    svc.flush()
    engine = QueryEngine(spark, cat)
    engine._ingest = svc
    return engine


def test_today_yesterday_never_cache(plan_cacheable):
    """today()/yesterday() inline to current_date, which Catalyst
    freezes at first execution — a cached plan would serve yesterday's
    rows after midnight."""

    def ok(q):
        return plan_cacheable(q, ["ev"])

    assert not ok("SELECT count(*) FROM ev WHERE d = today()")
    assert not ok("SELECT count(*) FROM ev WHERE d >= yesterday()")
    # ...but the same words as identifiers/literals are fine
    assert ok("SELECT today FROM ev")
    assert ok("SELECT v FROM ev WHERE note = 'today()'")


def test_window_clause_name_is_not_a_cte(plan_cacheable):
    """`WINDOW w AS (...)` defines no relation: a FROM over a session
    temp view named w must read as unpinnable (never cacheable), while a
    real WITH-defined w still caches."""
    names = ["ev"]
    assert not plan_cacheable(
        "SELECT sum(x) OVER w FROM w WINDOW w AS (ORDER BY x)", names
    )
    assert plan_cacheable(
        "WITH w AS (SELECT v FROM ev) SELECT sum(v) OVER (ORDER BY v) FROM w",
        names,
    )
    assert plan_cacheable(
        "WITH a AS (SELECT v FROM ev), b AS (SELECT v FROM a) SELECT * FROM b",
        names,
    )


def test_table_named_in_literal_is_not_a_reference(qe, spark):
    """A catalog table mentioned only inside a string literal must not be
    resolved/registered — previously it clobbered a same-named session
    temp view and paid its index I/O inside the serving lock."""
    qe._ingest.store("d", "other", {"v": [99], "__timestamp": [10]})
    qe._ingest.flush()
    spark.createDataFrame([(123,)], "user_col long").createOrReplaceTempView("other")
    try:
        rows = qe.sql("SELECT count(*) AS n FROM ev WHERE 'other' = 'x'", db="d")
        assert rows.collect()[0]["n"] == 0
        # the user's view survived (no clobber by the engine's pruned view)
        assert spark.sql("SELECT user_col FROM other").collect()[0]["user_col"] == 123
    finally:
        spark.catalog.dropTempView("other")


# ----------------------------------------------- interception anchoring


def test_read_parquet_interception_requires_word_boundary():
    from quackpipe_spark.query import QueryEngine

    assert QueryEngine._RP_CALL.search("SELECT my_read_parquet('/tmp/x')") is None
    assert QueryEngine._RP_CALL.search("SELECT * FROM read_parquet('/tmp/x')")
    assert (
        QueryEngine._RPMT_CALL.search("SELECT x_read_parquet_mergetree(ARRAY['a'], 'k')")
        is None
    )


def test_rewrite_sql_unfolds_quote_escapes_in_paths():
    from quackpipe_spark.functions.dialect import rewrite_sql

    out = rewrite_sql("SELECT * FROM read_parquet('/tmp/a''b.parquet')")
    assert "parquet.`/tmp/a'b.parquet`" in out
    assert "''" not in out


# ------------------------------------------------- unqualified bounds


def test_unqualified_bound_refuses_two_relation_scope(time_bounds):
    """`FROM events JOIN myview` has TWO relations in scope: an
    unqualified __timestamp could bind to either, so Spark rejects the
    text and nothing is pruned."""
    q = "SELECT * FROM events e JOIN myview v ON e.id = v.id WHERE __timestamp >= 100"
    assert time_bounds(q, ["events"], analyzes=False) == {}
    # a qualified bound prunes its own relation
    q2 = "SELECT * FROM events e JOIN myview v ON e.id = v.id WHERE e.__timestamp >= 100"
    assert time_bounds(q2, ["events"]) == {"events": (100, None)}
    # the single-relation shape keeps pruning; a bare fragment is no
    # statement
    assert time_bounds(
        "SELECT * FROM events WHERE __timestamp >= 100", ["events"]
    ) == {"events": (100, None)}
    assert time_bounds("WHERE __timestamp >= 5", ["_"], analyzes=False) == {}
    # a sole NON-catalog relation must not inherit the bound either
    assert (
        time_bounds(
            "SELECT * FROM myview WHERE __timestamp >= 100", ["events"]
        )
        == {}
    )


def test_backticked_relations_count_and_pin(plan_cacheable, time_bounds):
    """Backtick-quoted relations are visible to the relation scan (review
    r12 follow-up): a backticked second relation still defeats unqualified
    attribution, a plain-word backticked catalog table behaves like the
    bare word, and a backticked unknown view is never judged cacheable."""
    # the follow-up repro: backticked join partner must veto the bound
    q = "SELECT * FROM events JOIN `myview` v ON events.id = v.id WHERE __timestamp >= 100"
    assert time_bounds(q, ["events"], analyzes=False) == {}
    q2 = "SELECT * FROM `events` JOIN `myview` v ON 1=1 WHERE __timestamp >= 100"
    assert time_bounds(q2, ["events"], analyzes=False) == {}
    # plain-word backticked single relation = the bare word
    assert time_bounds(
        "SELECT * FROM `events` WHERE __timestamp >= 100", ["events"]
    ) == {"events": (100, None)}
    # a weird-content backticked relation is no catalog table
    assert (
        time_bounds(
            "SELECT * FROM `my view` WHERE __timestamp >= 100",
            ["events"],
            analyzes=False,
        )
        == {}
    )
    # cacheability: backticked unknown view unpinnable; backticked catalog ok
    names = ["ev"]
    assert not plan_cacheable("SELECT * FROM `tv`", names)
    assert not plan_cacheable("SELECT * FROM `a b`", names, analyzes=False)
    assert not plan_cacheable("SELECT * FROM `db`.`ev`", names, analyzes=False)
    assert plan_cacheable("SELECT * FROM `ev`", names)


def test_oracle_normalizer_canonical_forms():
    """The differential helper's canonicalizer (review r12): NaN is NOT
    null (a Spark NaN vs an oracle NULL must FAIL, two NaNs must match —
    including np.float32's, which is not a float subclass), ==-equal
    multisets pair correctly regardless of str() sort order (-0.0/0.0,
    Decimal dtype noise), arrays compare element-wise instead of raising,
    and DuckDB's midnight-datetime DATE carrier equals Spark's date."""
    import datetime

    import numpy as np
    import pandas as pd

    from tests.oracle_utils import _canon, _normalize

    assert _canon(float("nan")) == _canon(np.float32("nan")) == ("nan",)
    assert _canon(float("nan")) != _canon(None)
    assert _canon(-0.0) == _canon(0.0) == _canon(np.float64(0.0))
    from decimal import Decimal

    assert _canon(Decimal("1.50")) == _canon(1.5) == _canon(np.int64(1) + 0.5)
    assert _canon(np.array([1, 2])) == _canon([1, 2])
    assert _canon(pd.Timestamp("1996-07-01")) == _canon(datetime.date(1996, 7, 1))
    # the verified mispairing repro: equal multisets whose str() sort
    # orders differ must normalize identically
    a = pd.DataFrame({"v": [-0.0, -1.0]})
    b = pd.DataFrame({"v": [0.0, -1.0]})
    assert _normalize(a) == _normalize(b)


# ------------------------------------------------------ session purge


def test_dialect_session_registry_purges_dead_sessions(spark):
    from quackpipe_spark.workloads import sql_surface as S

    class _JSC:  # classic probe path reporting a STOPPED context
        def sc(self):
            return self

        def isStopped(self):
            return True

    class _SCHolder:
        _jsc = _JSC()

    class StoppedSession:
        _sc = _SCHolder()

    class UnknownShapeSession:  # probe path absent (Spark Connect shape)
        @property
        def _sc(self):
            raise RuntimeError("no classic context")

    S._DIALECT_SESSIONS[-7] = StoppedSession()
    S._DIALECT_SESSIONS[-8] = UnknownShapeSession()
    # force a fresh registration: the purge runs only on the (rare)
    # register path, and earlier tests may have registered this session
    S._DIALECT_SESSIONS.pop(id(spark), None)
    S._dialect(spark)
    # provably stopped → purged; unknown probe shape → kept (ADVICE r12:
    # judging Connect sessions dead purged live caches on every miss)
    assert -7 not in S._DIALECT_SESSIONS
    assert -8 in S._DIALECT_SESSIONS
    S._DIALECT_SESSIONS.pop(-8, None)  # cleanup
    assert S._DIALECT_SESSIONS.get(id(spark)) is spark
