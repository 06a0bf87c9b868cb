"""Shared fixtures: one tuned SparkSession per test run + a DuckDB oracle
connection with the test tables registered as views (mirrors the driver's
CORRECTNESS harness at small scale)."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    from quackpipe_spark.session import get_spark

    spark = get_spark(app_name="quackpipe_spark_tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


# The time-pruning corpus: SQL texts asserted on across the test files
# run through one helper. Every relation a text may name is a schema-only
# view with the corpus columns; only the tables a case lists as catalog
# tables are pruning leaves, the rest stand for session views.
_CORPUS_RELATIONS = (
    "events", "ev", "aux", "orders", "other", "t", "u", "a", "b", "ta",
    "tb", "ticks", "ticks2", "weather", "myview", "m",
)
_CORPUS_SCHEMA = (
    "__timestamp bigint, v bigint, k bigint, x bigint, id bigint, "
    "event_id bigint, event__timestamp bigint, ts timestamp, a bigint, "
    "b bigint, c bigint, w bigint, flag boolean, note string, q string, "
    "`where` bigint, `x'y` string, date date, hour int"
)


@pytest.fixture(scope="session")
def time_bounds(spark):
    """``time_bounds(sql, tables, analyzes=True)`` → the per-table
    ``{table: (lo, hi)}`` that ``QueryEngine.sql`` derives for ``sql``
    when ``tables`` are its catalog tables: the text is dialect-rewritten
    and handed to ``extract_time_bounds_per_table`` with the schema-only
    views registered. ``analyzes`` states whether Spark accepts the text
    at all, so a ``{}`` expectation never holds only because a column or
    relation is missing from the corpus schema."""
    from quackpipe_spark.functions.dialect import register_dialect, rewrite_sql
    from quackpipe_spark.query import extract_time_bounds_per_table

    register_dialect(spark)
    state = spark._jsparkSession.sessionState()
    skip = spark._jvm.org.apache.spark.sql.execution.CommandExecutionMode.SKIP()
    views = {}
    for name in _CORPUS_RELATIONS:
        df = spark.createDataFrame([], _CORPUS_SCHEMA)
        views[name] = (df, df._jdf.queryExecution().analyzed().rdd().id())

    def bounds(sql, tables, analyzes=True):
        sql = rewrite_sql(sql)
        for name, (df, _rid) in views.items():
            df.createOrReplaceTempView(name)
        try:
            try:  # analyze only: a WITH … INSERT must not run here either
                state.executePlan(state.sqlParser().parsePlan(sql), skip).assertAnalyzed()
                ok = True
            except Exception:
                ok = False
            assert ok == analyzes, f"analyzes={ok}: {sql}"
            leaves = {views[t][1]: t for t in tables if t in views}
            return extract_time_bounds_per_table(spark, sql, leaves)
        finally:
            for name in views:
                spark.catalog.dropTempView(name)

    return bounds


# Session views the plan-cacheability corpus reads: the engine does not
# own them, so a text reading one is never cacheable, while a text that
# does not analyze at all is a separate case (``analyzes=False``).
_SESSION_VIEWS = ("some_session_view", "tv", "my_temp_view", "w", "pc_side")


@pytest.fixture(scope="session")
def plan_cacheable(spark):
    """``plan_cacheable(sql, tables, analyzes=True)`` → whether
    ``QueryEngine.sql`` may reuse its analyzed plan of ``sql`` when
    ``tables`` are its catalog tables: the text is dialect-rewritten and
    judged (``query.judge``) with those tables bound to schema-only
    relations and the corpus's session views registered. ``analyzes``
    states whether Spark accepts the text at all."""
    from quackpipe_spark.functions.dialect import register_dialect, rewrite_sql
    from quackpipe_spark.query import judge

    register_dialect(spark)
    schema = _CORPUS_SCHEMA + ", d date, today bigint"
    frames = {}
    for name in _CORPUS_RELATIONS + _SESSION_VIEWS:
        df = spark.createDataFrame([], schema)
        frames[name] = (df, df._jdf.queryExecution().analyzed().rdd().id())

    def cacheable(sql, tables, analyzes=True):
        sql = rewrite_sql(sql)
        bound = [n for n in frames if n in tables or n in _SESSION_VIEWS]
        for name in bound:
            frames[name][0].createOrReplaceTempView(name)
        try:
            leaves = {frames[t][1]: t for t in tables}
            judged = judge(spark, sql, leaves)
            assert (judged is not None) == analyzes, f"analyzes={judged is not None}: {sql}"
            return judged is not None and judged.cacheable
        finally:
            for name in bound:
                spark.catalog.dropTempView(name)

    return cacheable
