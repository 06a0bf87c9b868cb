"""Serving-path plan cache (QueryEngine.sql LRU): a repeat query serves
the SAME analyzed DataFrame (skipping parse/analyze/optimize and Spark's
memoized physical plan), while ingest/compaction invalidate by
construction — the key carries each referenced table's pruned FILE LIST,
so a changed file set can never hit. Commands, nondeterministic
expressions, and relations the key can't pin are never cached."""

from __future__ import annotations

import pytest


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
    engine._ingest = svc  # test handle
    return engine


def test_repeat_query_hits_and_returns_same_rows(qe):
    q = "SELECT sum(v) AS s FROM ev WHERE __timestamp >= 15"
    df1 = qe.sql(q, db="d")
    assert df1.collect()[0]["s"] == 5
    df2 = qe.sql(q, db="d")
    assert df2 is df1  # cache hit: the identical analyzed plan
    assert df2.collect()[0]["s"] == 5
    # a different bound is a different key (and different files possibly)
    df3 = qe.sql("SELECT sum(v) AS s FROM ev WHERE __timestamp >= 25", db="d")
    assert df3 is not df1


def test_ingest_invalidates_by_file_list(qe):
    q = "SELECT sum(v) AS s FROM ev"
    assert qe.sql(q, db="d").collect()[0]["s"] == 6
    qe._ingest.store("d", "ev", {"v": [100], "__timestamp": [40]})
    qe._ingest.flush()
    # same text, new file set → MISS → new rows visible
    assert qe.sql(q, db="d").collect()[0]["s"] == 106


def test_function_redefinition_invalidates(qe, spark):
    """Hot-adding or redefining a dialect function in-session must miss
    the cache: an analyzed plan binds the definition live at analysis
    time, so a same-SQL hit after create_function would silently serve
    the OLD body (VERDICT r11 #5). Idempotent re-registration keeps the
    fingerprint — cached plans stay valid across register_dialect calls."""
    from quackpipe_spark.functions.dialect import (
        create_function,
        register_dialect,
        registry_fingerprint,
    )

    register_dialect(spark)
    create_function(spark, "double_it", "x BIGINT", "BIGINT", "x * 2")
    q = "SELECT double_it(sum(v)) AS s FROM ev"
    df1 = qe.sql(q, db="d")
    assert df1.collect()[0]["s"] == 12
    fp = registry_fingerprint()
    register_dialect(spark)  # idempotent: content hash unchanged → still hits
    assert registry_fingerprint() == fp
    assert qe.sql(q, db="d") is df1
    # redefinition → new fingerprint → miss → new semantics served
    create_function(spark, "double_it", "x BIGINT", "BIGINT", "x * 3")
    assert registry_fingerprint() != fp
    df2 = qe.sql(q, db="d")
    assert df2 is not df1
    assert df2.collect()[0]["s"] == 18
    # a changed Python-UDF registration also reads as a new fingerprint
    # (the bytecode digest seam _register_udf feeds into the registry)
    from quackpipe_spark.functions.extensions import _register_udf

    fp2 = registry_fingerprint()
    _register_udf(spark, "wobble", lambda x: x + 7)
    fp3 = registry_fingerprint()
    assert fp3 != fp2
    _register_udf(spark, "wobble", lambda x: x + 7)  # same bytecode → stable
    assert registry_fingerprint() == fp3
    _register_udf(spark, "wobble", lambda x: x + 8)  # changed impl → new
    assert registry_fingerprint() != fp3


def test_udf_fingerprint_sees_closures_defaults_and_helpers(spark):
    """A factory-produced UDF differing ONLY in a captured variable has
    byte-identical co_code/co_consts (a freevar is not a const), so a
    bytecode-only digest would let the plan cache serve the OLD binding
    after re-registration — the exact staleness class the fingerprint
    exists to prevent (review r12). Defaults and referenced helper
    functions are implementation content for the same reason."""
    from quackpipe_spark.functions.dialect import registry_fingerprint
    from quackpipe_spark.functions.extensions import _register_udf

    def make(k):
        return lambda x: x * k

    _register_udf(spark, "closure_probe", make(2))
    fp2 = registry_fingerprint()
    _register_udf(spark, "closure_probe", make(2))  # same capture → stable
    assert registry_fingerprint() == fp2
    _register_udf(spark, "closure_probe", make(3))  # changed capture → new
    fp3 = registry_fingerprint()
    assert fp3 != fp2

    def with_default(x, k=5):
        return x + k

    def with_default2(x, k=6):
        return x + k

    _register_udf(spark, "default_probe", with_default)
    fpa = registry_fingerprint()
    _register_udf(spark, "default_probe", with_default2)  # changed default
    assert registry_fingerprint() != fpa

    # a global helper the UDF calls is part of its implementation
    import types

    mod = {"helper": lambda x: x * 10, "__builtins__": {}}
    f1 = types.FunctionType(
        compile("def g(x):\n  return helper(x)\n", "<t>", "exec").co_consts[0], mod
    )
    _register_udf(spark, "helper_probe", f1)
    fph = registry_fingerprint()
    mod2 = {"helper": lambda x: x * 11, "__builtins__": {}}
    f2 = types.FunctionType(f1.__code__, mod2)
    _register_udf(spark, "helper_probe", f2)
    assert registry_fingerprint() != fph


def test_commands_and_nondeterminism_never_cache(plan_cacheable):
    def ok(q, **k):
        return plan_cacheable(q, ["ev"], **k)

    assert ok("SELECT v FROM ev")
    assert ok("WITH a AS (SELECT v FROM ev) SELECT * FROM a")
    # commands execute eagerly inside spark.sql — a hit would skip them
    assert not ok("SET spark.sql.session.timeZone=UTC")
    assert not ok("CREATE TEMP VIEW x AS SELECT 1")
    # an insert into the engine's relation does not analyze: no
    # catalog table is writable through SQL
    assert not ok("INSERT INTO ev VALUES (1, 2)", analyzes=False)
    assert not ok("EXPLAIN SELECT v FROM ev")
    # time-dependent / nondeterministic must stay per-call
    assert not ok("SELECT now() AS t FROM ev")
    assert not ok("SELECT current_date FROM ev")
    assert not ok("SELECT rand() FROM ev")
    assert not ok("SELECT unix_timestamp() FROM ev")
    assert not ok("SELECT * FROM ev TABLESAMPLE (10 PERCENT)")
    assert not ok("SELECT input_file_name() AS f FROM ev")
    assert not ok("SELECT * FROM (SELECT rand() AS r FROM ev) s")
    assert not ok("SELECT v FROM ev WHERE v IN (SELECT unix_timestamp())")
    assert not ok("SELECT current_database(), current_user() FROM ev")
    # ...but the same tokens inside literals/comments are fine
    assert ok("SELECT v FROM ev WHERE note = 'now()' -- rand()")
    assert ok("SELECT unix_timestamp(note) FROM ev")
    # relations the key can't pin: session views, qualified names, paths
    assert not ok("SELECT * FROM some_session_view")
    assert not ok("SELECT * FROM db1.ev", analyzes=False)
    assert not ok("SELECT * FROM parquet.`/tmp/x`", analyzes=False)
    # WITHDRAWALS is not WITH
    assert not ok("WITHDRAWALS", analyzes=False)


def test_cache_is_bounded(qe):
    for i in range(qe._plan_cache_cap + 8):
        qe.sql(f"SELECT v + {i} AS v2 FROM ev", db="d")
    assert len(qe._plan_cache) <= qe._plan_cache_cap


def test_repeat_text_runs_no_schema_only_analysis(qe, monkeypatch):
    """The judgment of a cacheable text (its references and time
    ranges) is memoized: a repeat runs no schema-only analysis, even when
    the plan itself misses (new files). A SET flushes the memo with the
    plan cache; the memo has the plan cache's bound."""
    import quackpipe_spark.query as Q

    calls = []
    real = Q.extract_time_bounds_per_table

    def spy(*a, **k):
        calls.append(a[1])
        return real(*a, **k)

    monkeypatch.setattr(Q, "extract_time_bounds_per_table", spy)
    q = "SELECT sum(v) AS s FROM ev WHERE __timestamp >= 15"
    assert qe.sql(q, db="d").collect()[0]["s"] == 5
    assert qe.sql(q, db="d").collect()[0]["s"] == 5
    assert len(calls) == 1
    qe._ingest.store("d", "ev", {"v": [100], "__timestamp": [40]})
    qe._ingest.flush()
    assert qe.sql(q, db="d").collect()[0]["s"] == 105  # plan miss, memo hit
    assert len(calls) == 1
    qe.sql("SET spark.sql.ansi.enabled=false", db="d")
    qe.sql(q, db="d")
    assert len(calls) == 2
    # a text the key can't pin (a session view) is analyzed every time
    qe.spark.createDataFrame([(1,)], "k long").createOrReplaceTempView("pc_side")
    try:
        q2 = "SELECT count(*) AS n FROM ev JOIN pc_side ON ev.v = pc_side.k WHERE __timestamp >= 5"
        qe.sql(q2, db="d")
        qe.sql(q2, db="d")
        assert len(calls) == 4
    finally:
        qe.spark.catalog.dropTempView("pc_side")
    for i in range(qe._plan_cache_cap + 8):
        qe.sql(f"SELECT v + {i} AS v2 FROM ev WHERE __timestamp >= {i}", db="d")
    assert len(qe._judgments) <= qe._plan_cache_cap


def test_tz_change_misses(qe):
    q = "SELECT count(*) AS n FROM ev"
    df1 = qe.sql(q, db="d")
    tz = qe.spark.conf.get("spark.sql.session.timeZone")
    try:
        qe.spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        df2 = qe.sql(q, db="d")
        assert df2 is not df1
    finally:
        qe.spark.conf.set("spark.sql.session.timeZone", tz)


def test_set_statement_flushes_cache(qe):
    """A conf change through the engine can alter the semantics of an
    already-analyzed plan (ansi.enabled, caseSensitive, ...) — the key
    pins only the timezone, so any SET/RESET flushes everything."""
    q = "SELECT count(*) AS n FROM ev"
    df1 = qe.sql(q, db="d")
    assert qe.sql(q, db="d") is df1
    qe.sql("SET spark.sql.ansi.enabled=false", db="d")
    df2 = qe.sql(q, db="d")
    assert df2 is not df1
    # a comment-prefixed SET still executes the conf change — it must
    # still flush (the match runs over comment-blanked text)
    assert qe.sql(q, db="d") is df2
    qe.sql("-- tuning note\nSET spark.sql.ansi.enabled=false", db="d")
    assert qe.sql(q, db="d") is not df2
    df3 = qe.sql(q, db="d")
    assert qe.sql(q, db="d") is df3
    qe.sql("/* hint */ RESET spark.sql.ansi.enabled", db="d")
    assert qe.sql(q, db="d") is not df3


def test_set_between_ranges_and_execution_replans(qe, monkeypatch):
    """A SET that runs after a query derived its time ranges but before
    the query executes sends the query round again: ranges derived under
    the old session zone would prune files the new zone needs."""
    real = qe.table_df
    fired = []

    def table_df(t, *a, **k):
        if not qe._sql_lock.locked() and not fired:  # the unlocked scan build
            fired.append(1)
            qe.sql("SET spark.sql.session.timeZone=UTC", db="d")
        return real(t, *a, **k)

    q = (
        "SELECT count(*) AS n FROM ev "
        "WHERE __timestamp >= epoch_ns('1970-01-01 00:00:00'::TIMESTAMP)"
    )
    qe.sql("SET spark.sql.session.timeZone=America/New_York", db="d")
    try:
        # under New York the bound is 05:00 UTC: every file is pruned
        assert qe.sql(q, db="d").collect()[0]["n"] == 0
        qe.sql("SET spark.sql.session.timeZone=America/New_York", db="d")
        monkeypatch.setattr(qe, "table_df", table_df)
        assert qe.sql(q, db="d").collect()[0]["n"] == 3
        assert fired
    finally:
        monkeypatch.undo()
        qe.sql("SET spark.sql.session.timeZone=UTC", db="d")


def test_curdate_never_caches(plan_cacheable):
    # curdate() is Spark's alias of current_date — folded at first
    # analysis, so a cached plan would serve yesterday's date
    assert not plan_cacheable("SELECT curdate() AS d FROM ev", ["ev"])
    assert plan_cacheable("SELECT v FROM ev WHERE note = 'curdate()'", ["ev"])


def test_plan_cache_randomized_interleaving(qe, spark):
    """Seeded random interleaving of queries and ingests: every result
    served by the caching engine equals a cache-free engine's result on
    the same store at the same moment — the staleness-impossible-by-key
    claim, exercised across hits, misses, and evictions."""
    import random

    from quackpipe_spark.query import QueryEngine

    nocache = QueryEngine(spark, qe.catalog)
    nocache._plan_cache_cap = 0  # insert-then-evict: no reuse ever
    rng = random.Random(7)
    templates = [
        "SELECT sum(v) AS s FROM ev",
        "SELECT count(*) AS n FROM ev WHERE __timestamp >= 15",
        "SELECT max(v) AS m FROM ev WHERE __timestamp BETWEEN 10 AND 60",
        "SELECT v FROM ev WHERE v > 1 ORDER BY v",
    ]
    next_ts = 100
    hits = 0
    for step in range(30):
        if rng.random() < 0.35:
            qe._ingest.store(
                "d", "ev", {"v": [step + 1000], "__timestamp": [next_ts]}
            )
            qe._ingest.flush()
            next_ts += 10
        q = rng.choice(templates)
        before = len(qe._plan_cache)
        got = sorted(map(tuple, qe.sql(q, db="d").collect()))
        if len(qe._plan_cache) == before:
            hits += 1
        want = sorted(map(tuple, nocache.sql(q, db="d").collect()))
        assert got == want, (step, q)
    assert hits > 0  # the interleaving actually exercised cache hits


def test_http_query_path_uses_cache_and_sees_new_writes(spark, tmp_path):
    """End-to-end through the HTTP door: a repeated /query hits the plan
    cache, and a /write between repeats invalidates it (new rows appear)
    — the dashboard pattern the cache exists for."""
    import json
    import urllib.request

    from quackpipe_spark.api import GigapiServer

    srv = GigapiServer(spark, str(tmp_path / "root"), port=0)
    srv.start()
    base = f"http://127.0.0.1:{srv._httpd.server_address[1]}"

    def post(path, body):
        req = urllib.request.Request(base + path, data=body, method="POST")
        with urllib.request.urlopen(req, timeout=60) as resp:
            return resp.status, resp.read()

    try:
        assert post("/write?db=d&precision=s", b"w t=1.0 1717405200")[0] == 204
        srv.ingest.flush()
        q = json.dumps({"query": "SELECT count() AS n, round(sum(t),1) AS s FROM w"}).encode()
        st1, b1 = post("/query?db=d", q)
        assert st1 == 200 and json.loads(b1)["results"][0]["n"] == 1
        n_cache = len(srv.query._plan_cache)
        assert n_cache == 1
        st2, b2 = post("/query?db=d", q)  # repeat: served from cache
        assert st2 == 200 and json.loads(b2) == json.loads(b1)
        assert len(srv.query._plan_cache) == n_cache
        assert post("/write?db=d&precision=s", b"w t=2.0 1717405260")[0] == 204
        srv.ingest.flush()
        st3, b3 = post("/query?db=d", q)  # new file set: MISS, new rows
        assert st3 == 200
        got = json.loads(b3)["results"][0]
        assert got["n"] == 2 and got["s"] == 3.0
    finally:
        srv.stop()


def test_with_insert_runs_every_time(qe, spark, tmp_path):
    """`WITH … INSERT` is a command: a repeat must insert again, not be
    served from the plan cache (3 rows instead of 6, silently)."""
    spark.sql(f"CREATE TABLE fsink (v BIGINT) USING parquet LOCATION '{tmp_path}/fsink'")
    try:
        q = "WITH a AS (SELECT v FROM ev) INSERT INTO fsink SELECT v FROM a"
        qe.sql(q, db="d")
        qe.sql(q, db="d")
        assert spark.sql("SELECT count(*) AS n FROM fsink").collect()[0]["n"] == 6
    finally:
        spark.sql("DROP TABLE IF EXISTS fsink")


def test_sql_function_redefined_through_sql_invalidates(qe):
    """A SQL temporary function redefined through the engine changes what
    a cached plan means: every command flushes the caches, so the next
    repeat is planned again against the new body."""
    try:
        qe.sql("CREATE OR REPLACE TEMPORARY FUNCTION plus1(x BIGINT) RETURNS BIGINT RETURN x + 1", db="d")
        q = "SELECT sum(plus1(v)) AS s FROM ev"
        assert qe.sql(q, db="d").collect()[0]["s"] == 9
        assert qe.sql(q, db="d").collect()[0]["s"] == 9
        qe.sql("CREATE OR REPLACE TEMPORARY FUNCTION plus1(x BIGINT) RETURNS BIGINT RETURN x + 100", db="d")
        assert qe.sql(q, db="d").collect()[0]["s"] == 306
    finally:
        qe.spark.sql("DROP TEMPORARY FUNCTION IF EXISTS plus1")
