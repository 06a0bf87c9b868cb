"""Time-range extraction + partition pruning on written tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

NS = 10**9


def test_extract_literal_bounds(time_bounds):
    assert time_bounds(
        "SELECT * FROM t WHERE __timestamp >= 100 AND __timestamp < 200", ["t"]
    ) == {"t": (100, 200)}
    assert time_bounds(
        "SELECT * FROM t WHERE __timestamp BETWEEN 5 AND 9", ["t"]
    ) == {"t": (5, 9)}
    # a bare WHERE fragment is not a statement: nothing to analyze
    assert time_bounds("WHERE __timestamp BETWEEN 5 AND 9", ["t"], analyzes=False) == {}
    assert time_bounds("SELECT 1", ["t"]) == {}


def test_extract_epoch_ns_idiom(time_bounds):
    # README.md:121 documented form
    lo, hi = time_bounds(
        "SELECT * FROM weather WHERE __timestamp >= epoch_ns('2024-01-05 00:00:00'::TIMESTAMP) "
        "AND __timestamp < epoch_ns(TIMESTAMP '2024-01-06 12:30:00')",
        ["weather"],
    )["weather"]
    assert lo == 1704412800 * NS  # 2024-01-05 00:00:00 UTC
    assert hi == 1704544200 * NS  # 2024-01-06 12:30:00 UTC


def test_partition_filter_pushdown_on_written_table(spark, tmp_path):
    """date/hour filters on the ingested store prune hive partitions."""
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.ingest import IngestService
    from quackpipe_spark.query import QueryEngine

    catalog = Catalog(str(tmp_path / "root"))
    svc = IngestService(spark, catalog, save_timeout_s=3600)
    t0 = 1_700_000_000 * NS
    svc.store("d", "pp", {"v": [1], "__timestamp": [t0]})
    svc.store("d", "pp", {"v": [2], "__timestamp": [t0 + 86_400 * NS]})
    svc.flush()
    qe = QueryEngine(spark, catalog)
    df = qe.table_df(catalog.get("d", "pp")).filter(F.col("date") == "2023-11-14")
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "2023-11-14" in plan
    assert df.count() == 1

    # index-level pruning via __timestamp bounds selects one file
    files_all = qe.table_files(catalog.get("d", "pp"))
    files_pruned = qe.table_files(catalog.get("d", "pp"), lo=t0 + 86_000 * NS)
    assert len(files_all) == 2 and len(files_pruned) == 1


def test_read_parquet_array_form(spark, tmp_path):
    """The reference's read_parquet(ARRAY[...]) multi-file scan."""
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.query import QueryEngine

    qe = QueryEngine(spark, Catalog(str(tmp_path / "root")))
    f1 = "/root/testdata/sf0.001/region.parquet"
    f2 = "/root/testdata/sf0.001/region.parquet"
    df = qe.sql(f"SELECT count() AS n FROM read_parquet(ARRAY['{f1}', '{f2}'])")
    assert df.collect()[0]["n"] == 10  # both files scanned


def test_read_parquet_paths_with_commas_and_quotes(spark, tmp_path):
    """ARRAY element extraction must honor SQL quoting: a path containing
    a comma (legal on every filesystem) or an ''-escaped quote is ONE
    element, not split on the bare comma / stripped of its quote chars
    (ADVICE r11 — the naive inner.split(',') failure)."""
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.query import QueryEngine

    d = tmp_path / "odd, dir"
    spark.createDataFrame([(1,), (2,)], "k long").coalesce(1).write.parquet(
        str(d / "a,b.parquet")
    )
    spark.createDataFrame([(3,)], "k long").coalesce(1).write.parquet(
        str(d / "it's.parquet")
    )
    qe = QueryEngine(spark, Catalog(str(tmp_path / "root")))
    p1 = str(d / "a,b.parquet")
    p2 = str(d / "it's.parquet").replace("'", "''")
    df = qe.sql(f"SELECT count() AS n FROM read_parquet(ARRAY['{p1}', '{p2}'])")
    assert df.collect()[0]["n"] == 3
    # same extraction path for the mergetree scan + single-path form
    df = qe.sql(f"SELECT k FROM read_parquet_mergetree(ARRAY['{p1}', '{p2}'], 'k')")
    assert [r["k"] for r in df.collect()] == [1, 2, 3]
    df = qe.sql(f"SELECT count() AS n FROM read_parquet('{p2}')")
    assert df.collect()[0]["n"] == 1


def test_read_parquet_array_double_quotes_and_loud_parse_failure(spark, tmp_path):
    """Spark parses "..." as a string literal and the pre-r12 element
    parser accepted it, so the quote-aware extractor must too; and an
    ARRAY body it can't fully account for (a bare unquoted token) raises
    a clear error at the call site instead of silently scanning an empty
    or truncated file list (review r12)."""
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.query import QueryEngine

    p = str(tmp_path / "dq.parquet")
    spark.createDataFrame([(1,), (2,)], "k long").coalesce(1).write.parquet(p)
    qe = QueryEngine(spark, Catalog(str(tmp_path / "root")))
    df = qe.sql(f'SELECT count() AS n FROM read_parquet(ARRAY["{p}", \'{p}\'])')
    assert df.collect()[0]["n"] == 4
    with pytest.raises(ValueError, match="quoted paths"):
        qe.sql(f"SELECT count() AS n FROM read_parquet(ARRAY['{p}', {p}])")


def test_query_http_dialect(spark, tmp_path):
    """ClickHouse dialect through the HTTP /query endpoint."""
    import json
    import urllib.request

    from quackpipe_spark.api import GigapiServer

    srv = GigapiServer(spark, str(tmp_path / "root"), port=0)
    srv.start()
    base = f"http://127.0.0.1:{srv._httpd.server_address[1]}"
    try:
        body = (
            b'weather,location=east temperature=70 1717405200\n'
            b'weather,location=east temperature=80 1717405260\n'
        )
        req = urllib.request.Request(
            base + "/write?db=d&precision=s", data=body, method="POST"
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            assert r.status == 204
        q = {
            "query": "SELECT location, count() AS n, toInt64(round(avg(temperature))) AS t,"
            " toStartOfMinute(from_epoch_ns(min(time))) AS m FROM weather GROUP BY location"
        }
        req = urllib.request.Request(
            base + "/query?db=d", data=json.dumps(q).encode(), method="POST"
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            [row] = json.loads(r.read())["results"]
        assert row["location"] == "east" and row["n"] == 2 and row["t"] == 75
        assert row["m"].startswith("2024-06-03")
    finally:
        srv.stop()


def test_read_parquet_options_forms(spark, tmp_path):
    """read_parquet('path', union_by_name=…, hive_partitioning=…,
    filename=…) — the reference's own scan idiom
    (merge_service_fs.go:215 uses the ARRAY form with both options)."""
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.query import QueryEngine

    # two schema generations in one directory → union_by_name territory
    d = tmp_path / "store"
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(
        str(d / "g1.parquet")
    )
    spark.createDataFrame([(2, "b", 9.5)], "id long, name string, score double").write.parquet(
        str(d / "g2.parquet")
    )
    qe = QueryEngine(spark, Catalog(str(tmp_path / "root")))

    df = qe.sql(
        f"SELECT id, name, score FROM read_parquet('{d}/*', union_by_name = true) ORDER BY id"
    )
    rows = df.collect()
    assert [r["id"] for r in rows] == [1, 2]
    assert rows[0]["score"] is None and rows[1]["score"] == 9.5

    # ARRAY form with the reference's exact option spelling
    f1, f2 = str(d / "g1.parquet"), str(d / "g2.parquet")
    df = qe.sql(
        "SELECT count() AS n FROM read_parquet("
        f"ARRAY['{f1}', '{f2}'], hive_partitioning = false, union_by_name = true)"
    )
    assert df.collect()[0]["n"] == 2

    # filename=true projects the source file (DuckDB semantics)
    df = qe.sql(
        f"SELECT DISTINCT filename FROM read_parquet('{f1}', filename = true)"
    )
    assert all("g1.parquet" in r["filename"] for r in df.collect())


def test_read_parquet_mergetree_user_sql(spark, tmp_path):
    """read_parquet_mergetree(ARRAY[...], 'col') — chsql's k-way merge
    scan (merge_service_fs.go:266): the reference uses it internally for
    compaction but a /query user can issue it on their own files; rows
    come back globally ordered by the sort columns, with union-by-name
    schema merging across files."""
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.query import QueryEngine

    d = tmp_path / "runs"
    # two sorted runs with interleaved key ranges + a schema difference
    spark.createDataFrame(
        [(1, "a"), (3, "c"), (5, "e")], "k long, v string"
    ).coalesce(1).sortWithinPartitions("k").write.parquet(str(d / "r1.parquet"))
    spark.createDataFrame(
        [(2, "b", 1.5), (4, "d", 2.5)], "k long, v string, extra double"
    ).coalesce(1).sortWithinPartitions("k").write.parquet(str(d / "r2.parquet"))
    qe = QueryEngine(spark, Catalog(str(tmp_path / "root")))

    f1, f2 = str(d / "r1.parquet"), str(d / "r2.parquet")
    df = qe.sql(
        f"SELECT * FROM read_parquet_mergetree(ARRAY['{f1}', '{f2}'], 'k')"
    )
    rows = df.collect()
    assert [r["k"] for r in rows] == [1, 2, 3, 4, 5]  # merged, globally sorted
    assert rows[1]["extra"] == 1.5 and rows[0]["extra"] is None  # union_by_name

    # multi-column order spec: 'col1,col2' (OrderBy joined with ',')
    df = qe.sql(
        f"SELECT k, v FROM read_parquet_mergetree(ARRAY['{f1}', '{f2}'], 'v,k')"
    )
    assert [r["v"] for r in df.collect()] == ["a", "b", "c", "d", "e"]

    # literal/comment immunity: the call inside a string or comment is
    # data/dead text — it must NOT be intercepted (shared blanked scanner)
    df = qe.sql(
        "SELECT 'read_parquet_mergetree(ARRAY[''/x''], ''k'')' AS s"
        " -- read_parquet_mergetree(ARRAY['/y'], 'k')"
    )
    assert df.collect()[0]["s"].startswith("read_parquet_mergetree(ARRAY[")


def test_rewrite_sql_tolerates_options():
    """The engine-less rewriter must not choke on the options tail."""
    from quackpipe_spark.functions.dialect import rewrite_sql

    out = rewrite_sql(
        "SELECT count() FROM read_parquet('/x/y.parquet', union_by_name = true)"
    )
    assert out == "SELECT count(*) FROM parquet.`/x/y.parquet`"


def test_bounds_disabled_for_non_conjunctive_contexts(time_bounds):
    """Constructs under which an ANDed bound silently loses rows must
    disable pruning entirely: set ops across SELECT scopes, NOT(...)
    negation, CASE expressions, and subqueries."""
    # UNION ALL of two one-sided branches: the envelope is unbounded
    assert time_bounds(
        "SELECT * FROM t WHERE __timestamp < 100 "
        "UNION ALL SELECT * FROM t WHERE __timestamp >= 200",
        ["t"],
    ) == {}
    # NOT(x >= 1000) is x < 1000: Catalyst pushes the negation inward
    assert time_bounds(
        "SELECT * FROM t WHERE NOT (__timestamp >= 1000)", ["t"]
    ) == {"t": (None, 1000)}
    assert time_bounds(
        "SELECT CASE WHEN __timestamp >= 50 THEN 'new' ELSE 'old' END FROM t", ["t"]
    ) == {}
    # the subquery's bound is u's, not t's
    assert time_bounds(
        "SELECT * FROM t WHERE a IN (SELECT a FROM u WHERE __timestamp > 7)", ["t"]
    ) == {}
    assert time_bounds(
        "SELECT * FROM t WHERE a IN (SELECT a FROM u WHERE __timestamp > 7)", ["t", "u"]
    ) == {"u": (7, None)}
    # plain IS NOT NULL must NOT disable pruning (NOT without a group)
    assert time_bounds(
        "SELECT * FROM t WHERE a IS NOT NULL AND __timestamp >= 100", ["t"]
    ) == {"t": (100, None)}


def test_parenless_not_disables_pruning(spark, tmp_path, time_bounds):
    """NOT binds looser than a comparison: 'NOT __timestamp >= x' inverts
    the bound without parentheses, so any NOT (except IS NOT NULL /
    IS NOT DISTINCT) must disable pruning — applying the bound as a
    positive prune silently drops exactly the rows the query wants."""

    # negated bounds never prune as the positive bound: NOT(x >= 1000)
    # is x < 1000, and NOT BETWEEN is an OR of two one-sided ranges
    assert time_bounds(
        "SELECT * FROM t WHERE NOT __timestamp >= 1000", ["t"]
    ) == {"t": (None, 1000)}
    assert time_bounds(
        "SELECT * FROM t WHERE NOT __timestamp BETWEEN 5 AND 9", ["t"]
    ) == {}
    # the safe forms still prune
    assert time_bounds(
        "SELECT * FROM t WHERE __timestamp >= 1000 AND v IS NOT NULL", ["t"]
    )["t"][0] == 1000
    assert time_bounds(
        "SELECT * FROM t WHERE __timestamp >= 7 AND a IS NOT DISTINCT FROM b", ["t"]
    )["t"][0] == 7


def test_mixed_case_table_reference_reregisters_view(spark, tmp_path):
    """Spark resolves view names case-insensitively; the engine's
    table-reference scan must agree, or 'FROM Weather' reuses a stale
    pruned view registered by an earlier 'FROM weather' query."""
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.query import QueryEngine
    from quackpipe_spark.writer import HiveWriter

    cat = Catalog(str(tmp_path / "root"))
    w = HiveWriter(spark, cat)
    w.write_columnar(
        "db", "weather", {"__timestamp": [1_000, 2_000], "v": [1, 2]}
    )
    qe = QueryEngine(spark, cat)
    # prune-registering query first
    assert qe.sql(
        "SELECT count(*) AS n FROM weather WHERE __timestamp >= 2000", db="db"
    ).collect()[0]["n"] == 1
    # mixed-case follow-up must see the FULL table, not the pruned view
    assert qe.sql("SELECT count(*) AS n FROM Weather", db="db").collect()[0]["n"] == 2


def test_per_table_bounds_qualified_join(time_bounds):
    ex = time_bounds

    q = (
        "SELECT a.v, b.v FROM ta a JOIN tb b ON a.v = b.v "
        "WHERE a.__timestamp >= 100 AND a.__timestamp < 200 "
        "AND b.__timestamp BETWEEN 50 AND 80"
    )
    assert ex(q, ["ta", "tb"]) == {"ta": (100, 200), "tb": (50, 80)}
    # unaliased relations resolve by their own name
    q2 = (
        "SELECT * FROM ta JOIN tb ON ta.v = tb.v "
        "WHERE ta.__timestamp >= 7 AND tb.__timestamp < 9"
    )
    assert ex(q2, ["ta", "tb"]) == {"ta": (7, None), "tb": (None, 9)}
    # a db-qualified name is not the engine's temp view: Spark rejects it
    q2db = (
        "SELECT * FROM db.ta JOIN tb ON ta.v = tb.v "
        "WHERE ta.__timestamp >= 7 AND tb.__timestamp < 9"
    )
    assert ex(q2db, ["ta", "tb"], analyzes=False) == {}
    # unqualified bound in a join is ambiguous: Spark rejects the text
    assert ex(
        "SELECT * FROM ta JOIN tb ON ta.v=tb.v WHERE __timestamp >= 5",
        ["ta", "tb"],
        analyzes=False,
    ) == {}
    # an unknown qualifier does not resolve: nothing is pruned
    assert ex(
        "SELECT * FROM ta a JOIN tb b ON a.v=b.v WHERE zz.__timestamp >= 5 AND a.__timestamp >= 3",
        ["ta", "tb"],
        analyzes=False,
    ) == {}


def test_per_table_bounds_alias_shadowing_and_ambiguity(time_bounds):
    ex = time_bounds

    # an alias that equals ANOTHER table's name must win over the bare
    # table (standard SQL: aliased relations are addressable only by
    # alias) — here `tb` names the ta relation
    q = "SELECT * FROM ta tb JOIN tb x ON tb.v = x.v WHERE tb.__timestamp >= 5"
    assert ex(q, ["ta", "tb"]) == {"ta": (5, None)}
    # a name claimed by two different tables is ambiguous → dropped
    q2 = "SELECT * FROM ta x JOIN tb x ON 1=1 WHERE x.__timestamp >= 5"
    assert ex(q2, ["ta", "tb"], analyzes=False) == {}


def test_per_table_bounds_outer_join_scoping(time_bounds):
    ex = time_bounds

    # ON-clause bound on the PRESERVED side of a LEFT JOIN does not
    # filter its rows — must not prune
    q = "SELECT * FROM ta a LEFT JOIN tb b ON a.v = b.v AND a.__timestamp >= 100"
    assert ex(q, ["ta", "tb"]) == {}
    # ...but a WHERE bound stays safe under any join flavor
    q2 = (
        "SELECT * FROM ta a LEFT JOIN tb b ON a.v = b.v "
        "WHERE a.__timestamp >= 100 AND b.__timestamp < 50"
    )
    assert ex(q2, ["ta", "tb"]) == {"ta": (100, None), "tb": (None, 50)}
    # the NULL-extended side's ON bound does filter that side's rows
    q2b = "SELECT * FROM ta a LEFT JOIN tb b ON a.v = b.v AND b.__timestamp >= 100"
    assert ex(q2b, ["ta", "tb"]) == {"tb": (100, None)}
    # an ON bound on the preserved side against a session view (not a
    # catalog table) is likewise ignored
    q3 = "SELECT * FROM ta LEFT JOIN myview ON ta.__timestamp >= 100"
    assert ex(q3, ["ta"]) == {}
    q3x = "SELECT * FROM ta LEFT JOIN _rp_x ON __timestamp >= 100"
    assert ex(q3x, ["ta"], analyzes=False) == {}


def test_join_query_prunes_both_tables_files(spark, tmp_path, monkeypatch):
    """End-to-end: a two-big-table join with qualified __timestamp bounds
    reads only the overlapping files of EACH side, and returns the same
    rows as the unpruned plan."""
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.ingest import IngestService
    from quackpipe_spark.query import QueryEngine

    catalog = Catalog(str(tmp_path / "root"))
    svc = IngestService(spark, catalog, save_timeout_s=3600)
    t0 = 1_700_000_000 * NS
    day = 86_400 * NS
    # two files per table: day-0 and day-1
    for tbl in ("pa", "pb"):
        svc.store("d", tbl, {"v": [1, 2], "__timestamp": [t0, t0 + 1]})
        svc.store("d", tbl, {"v": [2, 3], "__timestamp": [t0 + day, t0 + day + 1]})
    svc.flush()
    qe = QueryEngine(spark, catalog)
    assert len(qe.table_files(catalog.get("d", "pa"))) == 2
    q = (
        "SELECT a.v AS v FROM pa a JOIN pb b ON a.v = b.v "
        f"WHERE a.__timestamp >= {t0 + day} AND b.__timestamp >= {t0 + day}"
    )
    df = qe.sql(q, db="d")
    pruned_inputs = df.inputFiles()
    assert len(pruned_inputs) == 2  # one file per side, not 2+2
    got = sorted(r["v"] for r in df.collect())
    # unpruned truth: the same query with time pruning switched off
    import quackpipe_spark.query as Q

    monkeypatch.setattr(Q, "extract_time_bounds_per_table", lambda *a, **k: {})
    full = qe.sql(q + " ORDER BY v", db="d")
    assert len(full.inputFiles()) == 4
    assert got == sorted(r["v"] for r in full.collect())


def test_self_join_never_prunes(time_bounds):
    """Both aliases of a self-joined table read the SAME registered view,
    so per-alias bounds must not prune it: a one-sided bound would drop
    the other alias's rows, and conflicting per-alias bounds would
    intersect to an empty range that prunes every file."""

    # one-sided qualified bound on a self-join: no pruning
    assert time_bounds(
        "SELECT a.v, b.v FROM events a JOIN events b ON a.k = b.k "
        "WHERE a.__timestamp >= 100",
        ["events"],
    ) == {}
    # conflicting per-alias bounds (recent vs historical self-join):
    # must NOT intersect to the impossible (200, 100)
    assert time_bounds(
        "SELECT * FROM events a JOIN events b ON a.k = b.k "
        "WHERE a.__timestamp >= 200 AND b.__timestamp < 100",
        ["events"],
    ) == {}
    # unqualified bound with the table referenced twice: ambiguous, so
    # Spark rejects the text
    assert time_bounds(
        "SELECT * FROM events a JOIN events b USING (k) WHERE __timestamp >= 100",
        ["events"],
        analyzes=False,
    ) == {}
    # both sides bounded: the table prunes to the envelope of the two
    assert time_bounds(
        "SELECT * FROM events a JOIN events b ON a.k = b.k "
        "WHERE a.__timestamp BETWEEN 100 AND 150 AND b.__timestamp BETWEEN 300 AND 400",
        ["events"],
    ) == {"events": (100, 400)}
    # a distinct second table in the same query still prunes normally
    assert time_bounds(
        "SELECT * FROM events a JOIN events b ON a.k = b.k "
        "JOIN ticks t ON t.k = a.k "
        "WHERE a.__timestamp >= 100 AND t.__timestamp >= 7",
        ["events", "ticks"],
    ) == {"ticks": (7, None)}


def test_comma_join_disables_pruning(time_bounds):
    """A legacy comma join is a join like any other to Catalyst: a comma
    SELF-join with a one-sided bound must not prune (the other alias
    still reads every file), while a bound on a distinct table does."""

    # the motivating bug: comma self-join + one-sided qualified bound
    assert time_bounds(
        "SELECT * FROM events e, events e2 "
        "WHERE e.__timestamp >= 123 AND e.k = e2.k",
        ["events"],
    ) == {}
    # comma-join over two distinct tables: the bounded one prunes
    assert time_bounds(
        "SELECT * FROM events e, ticks t "
        "WHERE e.__timestamp >= 5 AND e.k = t.k",
        ["events", "ticks"],
    ) == {"events": (5, None)}
    # mixed JOIN ... ON cond, tbl
    assert time_bounds(
        "SELECT * FROM ticks a JOIN ticks2 b ON a.x = b.x, events e2 "
        "WHERE a.__timestamp >= 5",
        ["ticks", "ticks2", "events"],
    ) == {"ticks": (5, None)}
    # non-FROM commas must NOT disable pruning: SELECT list, EXTRACT's
    # internal FROM, function args, GROUP BY lists
    assert time_bounds(
        "SELECT EXTRACT(MONTH FROM ts), coalesce(a, b) FROM events "
        "WHERE __timestamp >= 1 GROUP BY a, b, ts",
        ["events"],
    ) == {"events": (1, None)}
    # (ts ungrouped: Spark rejects the text)
    assert time_bounds(
        "SELECT EXTRACT(MONTH FROM ts), coalesce(a, b) FROM events "
        "WHERE __timestamp >= 1 GROUP BY a, b",
        ["events"],
        analyzes=False,
    ) == {}

def test_bounds_only_from_where_clause_body(time_bounds):
    """A __timestamp comparison OUTSIDE the WHERE clause body is not a
    row filter: in a SELECT list it's a projected boolean, in ORDER BY
    a sort key, in HAVING a post-aggregation predicate over possibly
    different rows. Extracting a bound from any of those prunes files
    whose rows the query still wants — silent missing rows."""
    ex = time_bounds

    # the ADVICE repro: projected qualified comparison in a join query
    assert ex(
        "SELECT e.__timestamp >= 1000 AS recent FROM events e "
        "JOIN m ON e.k = m.k",
        ["events", "m"],
    ) == {}
    # projected comparison in a single-table query (unqualified path)
    assert ex(
        "SELECT __timestamp >= 1000 AS recent FROM events", ["events"]
    ) == {}
    # ORDER BY / HAVING comparisons after the WHERE body
    assert ex(
        "SELECT * FROM events WHERE v > 0 ORDER BY __timestamp >= 1000",
        ["events"],
    ) == {}
    assert ex(
        "SELECT k FROM events WHERE v > 0 GROUP BY k "
        "HAVING max(__timestamp) >= 1000",
        ["events"],
    ) == {}
    # projected comparison AND a real WHERE bound: only WHERE extracts
    assert ex(
        "SELECT __timestamp >= 9999 AS late FROM events "
        "WHERE __timestamp >= 100",
        ["events"],
    ) == {"events": (100, None)}
    # no WHERE at all → nothing to extract
    assert ex("SELECT __timestamp >= 5 FROM events", ["events"]) == {}


def test_bounds_require_top_level_conjunct(time_bounds):
    """Inside the WHERE body a bound must be a TOP-LEVEL conjunct:
    chained comparisons, function arguments, and parenthesized operand
    groups all change its meaning and must not prune."""
    ex = time_bounds

    # chained comparison: (__timestamp >= 1000) = false selects OLD rows,
    # which Catalyst reads as __timestamp < 1000
    assert ex(
        "SELECT * FROM events WHERE __timestamp >= 1000 = false", ["events"]
    ) == {"events": (None, 1000)}
    # function argument
    assert ex(
        "SELECT * FROM events WHERE coalesce(__timestamp >= 1000, true)",
        ["events"],
    ) == {}
    # parenthesized group used as an operand
    assert ex(
        "SELECT * FROM events WHERE flag = (v > 0 AND __timestamp >= 1000)",
        ["events"],
    ) == {}
    # plain ANDed conjuncts still prune, in any position
    assert ex(
        "SELECT * FROM events WHERE v > 0 AND __timestamp >= 50 AND w < 9",
        ["events"],
    ) == {"events": (50, None)}
    assert ex(
        "SELECT * FROM events WHERE __timestamp BETWEEN 5 AND 9 AND v > 0",
        ["events"],
    ) == {"events": (5, 9)}


def test_string_literals_cannot_move_scope_or_fabricate_bounds(time_bounds):
    """User data like 'WHERE __timestamp >= 1' inside a string literal
    is a value, never a bound; epoch_ns('...') literals fold to their
    nanosecond value."""
    ex = time_bounds

    # a literal containing WHERE + a bound fabricates nothing
    assert ex(
        "SELECT * FROM events WHERE note = 'WHERE __timestamp >= 1'",
        ["events"],
    ) == {}
    # a literal mentioning a bound before the real WHERE doesn't shift it
    assert ex(
        "SELECT '__timestamp >= 7' AS doc FROM events "
        "WHERE __timestamp >= 100",
        ["events"],
    ) == {"events": (100, None)}
    # epoch_ns timestamp literal is re-read from the original string
    NS = 10**9
    got = ex(
        "SELECT * FROM events "
        "WHERE __timestamp >= epoch_ns('2024-01-05 00:00:00'::TIMESTAMP)",
        ["events"],
    )
    assert got == {"events": (1704412800 * NS, None)}


def test_cte_bounds_simple_chain(time_bounds):
    """WITH x AS (bounded single-table SELECT) SELECT ... — the #1
    real-user shape: bounds inside a CTE body attribute to that body's
    one table (reference prunes by timerange regardless of SQL shape,
    README.md:115)."""
    ex = time_bounds

    assert ex(
        "WITH recent AS (SELECT * FROM events WHERE __timestamp >= 100) "
        "SELECT count(*) AS n FROM recent",
        ["events"],
    ) == {"events": (100, None)}
    assert ex(
        "WITH w AS (SELECT * FROM events WHERE __timestamp BETWEEN 5 AND 9 AND v > 0) "
        "SELECT * FROM w",
        ["events"],
    ) == {"events": (5, 9)}
    # two CTEs over two tables: each body prunes its own table
    assert ex(
        "WITH a AS (SELECT * FROM events WHERE __timestamp >= 10), "
        "b AS (SELECT * FROM ticks WHERE __timestamp < 99) "
        "SELECT * FROM a JOIN b ON a.k = b.k",
        ["events", "ticks"],
    ) == {"events": (10, None), "ticks": (None, 99)}
    # main-query WHERE with a qualified bound on a REAL table joined to
    # a CTE still prunes the real table
    assert ex(
        "WITH a AS (SELECT * FROM events WHERE __timestamp >= 10) "
        "SELECT * FROM a JOIN ticks t ON a.k = t.k WHERE t.__timestamp < 50",
        ["events", "ticks"],
    ) == {"events": (10, None), "ticks": (None, 50)}


def test_cte_bounds_multi_scope_reads_never_prune(time_bounds):
    """A table read by MORE THAN ONE scope (two bodies, or body + main
    subquery) is the self-join hazard in CTE clothing: one scope's
    bound would drop the other scope's rows."""
    ex = time_bounds

    # body + main both read events
    assert ex(
        "WITH recent AS (SELECT * FROM events WHERE __timestamp >= 100) "
        "SELECT * FROM recent r JOIN events e ON r.k = e.k",
        ["events"],
    ) == {}
    # two bodies read events with conflicting bounds
    assert ex(
        "WITH a AS (SELECT * FROM events WHERE __timestamp >= 200), "
        "b AS (SELECT * FROM events WHERE __timestamp < 100) "
        "SELECT * FROM a JOIN b ON a.k = b.k",
        ["events"],
    ) == {}
    # bounded in body, ALSO read by a main-scope subquery
    assert ex(
        "WITH a AS (SELECT * FROM events WHERE __timestamp >= 100) "
        "SELECT * FROM a WHERE k IN (SELECT k FROM events)",
        ["events"],
    ) == {}
    # an unrelated second table stays prunable
    assert ex(
        "WITH a AS (SELECT * FROM events WHERE __timestamp >= 200), "
        "b AS (SELECT * FROM events WHERE __timestamp < 100) "
        "SELECT * FROM a JOIN b ON a.k = b.k "
        "JOIN ticks t ON t.k = a.k WHERE t.__timestamp >= 7",
        ["events", "ticks"],
    ) == {"ticks": (7, None)}


def test_cte_bounds_shadowing_and_unsafe_scopes(time_bounds):
    ex = time_bounds

    # CTE shadowing a real table: the main query's `events` is the CTE,
    # so its bound never prunes the real events — it filters the ticks
    # rows the body reads
    assert ex(
        "WITH events AS (SELECT k, __timestamp FROM ticks) "
        "SELECT * FROM events WHERE __timestamp >= 5",
        ["events", "ticks"],
    ) == {"ticks": (5, None)}
    # non-recursive self-shadowing: inside the body, `events` is still
    # the REAL table — the body's bound prunes it
    assert ex(
        "WITH events AS (SELECT * FROM events WHERE __timestamp >= 100) "
        "SELECT * FROM events",
        ["events"],
    ) == {"events": (100, None)}
    # an unsafe construct in ONE scope only disables THAT scope's bounds
    assert ex(
        "WITH a AS (SELECT * FROM events WHERE __timestamp >= 10 OR v = 1), "
        "b AS (SELECT * FROM ticks WHERE __timestamp < 99) "
        "SELECT * FROM a JOIN b ON a.k = b.k",
        ["events", "ticks"],
    ) == {"ticks": (None, 99)}
    # ...but its tables still count toward the multi-scope guard
    assert ex(
        "WITH a AS (SELECT * FROM events WHERE __timestamp >= 10), "
        "b AS (SELECT * FROM events WHERE v = 1 OR v = 2) "
        "SELECT * FROM a JOIN b ON a.k = b.k",
        ["events"],
    ) == {}


def test_cte_bounds_refused_shapes(time_bounds):
    ex = time_bounds

    # RECURSIVE with a body that does not recurse: an ordinary CTE
    assert ex(
        "WITH RECURSIVE r AS (SELECT * FROM events WHERE __timestamp >= 1) "
        "SELECT * FROM r",
        ["events"],
    ) == {"events": (1, None)}
    # the column-list form is a CTE like any other
    assert ex(
        "WITH r(k) AS (SELECT k FROM events WHERE __timestamp >= 1) "
        "SELECT * FROM r",
        ["events"],
    ) == {"events": (1, None)}
    # a comma join in the main query: the CTE body still prunes
    assert ex(
        "WITH a AS (SELECT * FROM events WHERE __timestamp >= 10) "
        "SELECT * FROM a, ticks WHERE a.k = ticks.k",
        ["events", "ticks"],
    ) == {"events": (10, None)}
    # main that isn't a plain SELECT: analyzed without running, and an
    # insert into the engine's view does not analyze
    assert ex(
        "WITH a AS (SELECT * FROM events WHERE __timestamp >= 10) "
        "INSERT INTO t SELECT * FROM a",
        ["events"],
        analyzes=False,
    ) == {}
    # 'WITH' inside a string literal is data, not a CTE — normal path
    assert ex(
        "SELECT * FROM events WHERE note = 'WITH x AS' AND __timestamp >= 4",
        ["events"],
    ) == {"events": (4, None)}


def test_cte_query_prunes_files_end_to_end(spark, tmp_path, time_bounds):
    """A CTE-bounded query reads only the overlapping files and returns
    the same rows as the unpruned plan."""
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.ingest import IngestService
    from quackpipe_spark.query import QueryEngine

    NS = 10**9
    cat = Catalog(str(tmp_path / "root"))
    svc = IngestService(spark, cat, save_timeout_s=3600)
    t0 = 1_700_000_000 * NS
    # two files a day apart
    svc.store("d", "ev", {"v": [1, 2], "__timestamp": [t0, t0 + NS]})
    svc.flush()
    svc.store("d", "ev", {"v": [3], "__timestamp": [t0 + 86_400 * NS]})
    svc.flush()
    qe = QueryEngine(spark, cat)
    tbl = cat.get("d", "ev")
    assert len(qe.table_files(tbl)) == 2

    q = (
        f"WITH recent AS (SELECT * FROM ev WHERE __timestamp >= {t0 + 86_000 * NS}) "
        "SELECT sum(v) AS s FROM recent"
    )
    got = qe.sql(q, db="d").collect()[0]["s"]
    assert got == 3
    # the registered view for ev held ONE file during that query

    bounds = time_bounds(q, ["ev"])
    assert bounds == {"ev": (t0 + 86_000 * NS, None)}
    assert len(qe.table_files(tbl, *bounds["ev"])) == 1
    # unpruned result identical
    assert (
        qe.sql("WITH recent AS (SELECT * FROM ev) SELECT sum(v) AS s FROM recent", db="d")
        .collect()[0]["s"]
        == 6
    )


def test_derived_table_bounds_prune(time_bounds):
    """round-10: `FROM (SELECT … WHERE __timestamp >= X) t` prunes like
    the CTE spelling — the reference prunes by time range regardless of
    SQL shape (README.md:115)."""
    ex = time_bounds

    assert ex(
        "SELECT count(*) AS n FROM "
        "(SELECT * FROM events WHERE __timestamp >= 100 AND __timestamp < 200) t",
        ["events"],
    ) == {"events": (100, 200)}
    # derived JOIN real table: inner bound + qualified outer bound
    assert ex(
        "SELECT count(*) AS n FROM "
        "(SELECT * FROM events WHERE __timestamp >= 100) t "
        "JOIN orders o ON t.k = o.k WHERE o.__timestamp < 50",
        ["events", "orders"],
    ) == {"events": (100, None), "orders": (None, 50)}
    # JOIN-introduced derived table
    assert ex(
        "SELECT count(*) AS n FROM orders o JOIN "
        "(SELECT * FROM events WHERE __timestamp > 7) t ON o.k = t.k",
        ["events", "orders"],
    ) == {"events": (7, None)}


def test_derived_table_bounds_refused_shapes(time_bounds):
    """Derived-table shapes the SQL-text pruner refused: Catalyst pushes
    each subquery's filter to its own scan, so all but the unsound ones
    (a table also read unbounded, a disjunction with a non-time branch)
    now prune."""
    ex = time_bounds

    # nested derived tables
    assert ex(
        "SELECT * FROM (SELECT * FROM "
        "(SELECT * FROM events WHERE __timestamp >= 5) u) t",
        ["events"],
    ) == {"events": (5, None)}
    # two derived tables
    assert ex(
        "SELECT * FROM (SELECT k FROM events WHERE __timestamp >= 5) a "
        "JOIN (SELECT k FROM orders WHERE __timestamp >= 5) b ON a.k = b.k",
        ["events", "orders"],
    ) == {"events": (5, None), "orders": (5, None)}
    # same table read by inner AND outer → self-join hazard → no prune
    assert ex(
        "SELECT count(*) AS n FROM "
        "(SELECT k FROM events WHERE __timestamp >= 100) t "
        "JOIN events e ON t.k = e.k",
        ["events"],
    ) == {}
    # alias shadowing a real table name: the outer bound filters the
    # orders rows behind the alias, never the real events table
    assert ex(
        "SELECT * FROM (SELECT * FROM orders WHERE k = 1) events "
        "WHERE events.__timestamp >= 5",
        ["events", "orders"],
    ) == {"orders": (5, None)}
    # an OUTER bound pushes through the derived table to its scan
    assert ex(
        "SELECT * FROM (SELECT * FROM events) t WHERE __timestamp >= 5",
        ["events"],
    ) == {"events": (5, None)}
    # unsafe construct INSIDE the subquery refuses its bounds
    assert ex(
        "SELECT * FROM "
        "(SELECT * FROM events WHERE __timestamp >= 5 OR k = 1) t",
        ["events"],
    ) == {}
    # IN (SELECT …): the outer table prunes, the unbounded subquery
    # table does not
    assert ex(
        "SELECT * FROM events WHERE __timestamp >= 5 "
        "AND k IN (SELECT k FROM orders)",
        ["events", "orders"],
    ) == {"events": (5, None)}
    # a comma join next to the derived table
    assert ex(
        "SELECT * FROM (SELECT * FROM events WHERE __timestamp >= 5) t, orders",
        ["events", "orders"],
    ) == {"events": (5, None)}


def test_derived_query_prunes_files_end_to_end(spark, tmp_path, time_bounds):
    """The derived-table spelling reads only the overlapping files and
    matches the unpruned plan."""
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.ingest import IngestService
    from quackpipe_spark.query import QueryEngine

    NS = 10**9
    cat = Catalog(str(tmp_path / "root"))
    svc = IngestService(spark, cat, save_timeout_s=3600)
    t0 = 1_700_000_000 * NS
    svc.store("d", "ev", {"v": [1, 2], "__timestamp": [t0, t0 + NS]})
    svc.flush()
    svc.store("d", "ev", {"v": [3], "__timestamp": [t0 + 86_400 * NS]})
    svc.flush()
    qe = QueryEngine(spark, cat)
    tbl = cat.get("d", "ev")
    assert len(qe.table_files(tbl)) == 2

    q = (
        f"SELECT sum(v) AS s FROM "
        f"(SELECT * FROM ev WHERE __timestamp >= {t0 + 86_000 * NS}) recent"
    )
    assert qe.sql(q, db="d").collect()[0]["s"] == 3
    bounds = time_bounds(q, ["ev"])
    assert bounds == {"ev": (t0 + 86_000 * NS, None)}
    assert len(qe.table_files(tbl, *bounds["ev"])) == 1
    assert (
        qe.sql("SELECT sum(v) AS s FROM (SELECT * FROM ev) t", db="d")
        .collect()[0]["s"]
        == 6
    )


def test_derived_table_bounds_nested_contexts(time_bounds):
    """A subquery's own WHERE conjunct filters THAT scope's table read in
    every consuming context — pruned files contain only rows the scope's
    WHERE rejects, so the scope's output (and anything composed on top,
    EXISTS and set-ops included) is identical after pruning."""
    ex = time_bounds

    # derived inside EXISTS: still prunes the inner table
    assert ex(
        "SELECT count(*) AS n FROM orders o WHERE EXISTS "
        "(SELECT 1 FROM (SELECT k FROM events WHERE __timestamp >= 9) t "
        "WHERE t.k = o.k)",
        ["events", "orders"],
    ) == {"events": (9, None)}
    # derived under a set-op
    assert ex(
        "SELECT k FROM (SELECT k FROM events WHERE __timestamp >= 9) t "
        "EXCEPT SELECT k FROM orders",
        ["events", "orders"],
    ) == {"events": (9, None)}
    # ... but not when the set-op's other leg reads the SAME table
    assert ex(
        "SELECT k FROM (SELECT k FROM events WHERE __timestamp >= 9) t "
        "EXCEPT SELECT k FROM events",
        ["events"],
    ) == {}


def test_rp_interception_ignores_literals_and_comments(spark, tmp_path):
    """QueryEngine.sql's read_parquet pre-pass (which registers reader
    views and can fetch http paths driver-side) must match on the
    blanked view: a read_parquet inside a double-quoted literal or a
    comment is user data / dead text. Until r10 this pre-pass ran over
    RAW text — a literal containing read_parquet('http://…') was
    rewritten AND fetched at registration time."""
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.ingest import IngestService
    from quackpipe_spark.query import QueryEngine

    cat = Catalog(str(tmp_path / "root"))
    svc = IngestService(spark, cat, save_timeout_s=3600)
    svc.store("d", "ev", {"v": [1], "__timestamp": [10]})
    svc.flush()
    qe = QueryEngine(spark, cat)
    # in a double-quoted literal: returned verbatim, never fetched
    # (a fetch to port 1 would raise inside sql())
    rows = qe.sql(
        'SELECT "read_parquet(\'http://127.0.0.1:1/x.parquet\')" AS s FROM ev',
        db="d",
    ).collect()
    assert rows[0]["s"] == "read_parquet('http://127.0.0.1:1/x.parquet')"
    # in a comment: dead text
    assert (
        qe.sql(
            "SELECT count(*) AS n FROM ev "
            "-- read_parquet('http://127.0.0.1:1/x.parquet')",
            db="d",
        ).collect()[0]["n"]
        == 1
    )
    # a REAL call right next to a comment still intercepts
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "x.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), p)
    got = qe.sql(
        f"SELECT count(*) AS n FROM read_parquet('{p}') -- tail", db="d"
    ).collect()
    assert got[0]["n"] == 2


def test_unified_scope_analyzer_r14_semantics(time_bounds):
    """Attribution pins carried over from the SQL-text pruner: a bound
    reaches only the relation it filters, a session view is never a
    pruning target, and a bare WHERE fragment is not a statement."""
    ex = time_bounds

    # MULTI-candidate table list + a FROM reading exactly one of them:
    # the unqualified bound can only bind to that one relation, so it now
    # attributes (the old main path refused whenever len(tables) > 1)
    assert ex(
        "SELECT * FROM ta WHERE __timestamp >= 5", ["ta", "tb"]
    ) == {"ta": (5, None)}
    # ...but a sole relation NOT in the candidate list still refuses
    assert ex("SELECT * FROM other WHERE __timestamp >= 5", ["ta", "tb"]) == {}
    # CTE body with an EXTRACT(... FROM ts) phantom relation: true-FROM
    # counting means the phantom no longer vetoes the body's bound
    assert ex(
        "WITH a AS (SELECT EXTRACT(MONTH FROM ts) AS m FROM events "
        "WHERE __timestamp >= 100) SELECT * FROM a",
        ["events"],
    ) == {"events": (100, None)}
    # bare fragments and unknown relations do not analyze: no pruning
    assert ex("WHERE __timestamp >= 5", ["_"], analyzes=False) == {}
    assert ex("WHERE __timestamp >= 5", ["events"], analyzes=False) == {}
    assert ex(
        "SELECT * FROM anything WHERE __timestamp BETWEEN 3 AND 9", ["_"], analyzes=False
    ) == {}
    assert ex(
        "SELECT * FROM t WHERE __timestamp BETWEEN 3 AND 9", ["t"]
    ) == {"t": (3, 9)}
    assert (
        ex(
            "SELECT * FROM ta a JOIN ta b ON a.k = b.k "
            "WHERE a.__timestamp >= 5",
            ["ta", "tb"],
        )
        == {}
    )


def test_or_of_time_ranges_envelope_r14(time_bounds):
    """VERDICT r13 #7: a top-level conjunct of the exact shape
    ``( range OR range [OR ...] )`` prunes by its interval-union ENVELOPE
    (min lo, max hi) — a file outside the envelope satisfies no branch.
    An OR with an unbounded branch (another column, the other join
    side) does not prune."""
    ex = time_bounds

    # two BETWEEN windows: envelope spans both (and the gap — conservative)
    assert ex(
        "SELECT * FROM ev WHERE (__timestamp BETWEEN 100 AND 200 "
        "OR __timestamp BETWEEN 300 AND 400)",
        ["ev"],
    ) == {"ev": (100, 400)}
    # envelope intersects with plain conjuncts
    assert ex(
        "SELECT * FROM ev WHERE (__timestamp BETWEEN 100 AND 200 "
        "OR __timestamp BETWEEN 300 AND 400) AND __timestamp >= 150",
        ["ev"],
    ) == {"ev": (150, 400)}
    # three branches; comparison branches leave their side unbounded
    assert ex(
        "SELECT * FROM ev WHERE (__timestamp BETWEEN 10 AND 20 "
        "OR __timestamp BETWEEN 50 AND 60 OR __timestamp >= 500)",
        ["ev"],
    ) == {"ev": (10, None)}
    # one-sided branches on both ends: envelope unbounded -> no bound
    assert ex(
        "SELECT * FROM ev WHERE (__timestamp < 5 OR __timestamp >= 100)",
        ["ev"],
    ) == {}
    # qualified groups resolve per join side
    assert ex(
        "SELECT * FROM ev e JOIN aux a ON e.k = a.k "
        "WHERE (e.__timestamp BETWEEN 1 AND 2 OR e.__timestamp BETWEEN 8 AND 9) "
        "AND (a.__timestamp BETWEEN 100 AND 110 OR a.__timestamp BETWEEN 200 AND 210)",
        ["ev", "aux"],
    ) == {"ev": (1, 9), "aux": (100, 210)}
    # CTE body group
    assert ex(
        "WITH r AS (SELECT * FROM ev WHERE (__timestamp BETWEEN 5 AND 6 "
        "OR __timestamp BETWEEN 9 AND 12)) SELECT count(*) AS n FROM r",
        ["ev"],
    ) == {"ev": (5, 12)}

    # --- refusals: everything else about OR stays conservative ---
    # non-ts branch in the group
    assert ex(
        "SELECT * FROM ev WHERE (__timestamp BETWEEN 1 AND 2 OR v >= 5)", ["ev"]
    ) == {}
    # mixed qualifiers inside one group
    assert ex(
        "SELECT * FROM ev e JOIN aux a ON e.k = a.k "
        "WHERE (e.__timestamp BETWEEN 1 AND 2 OR a.__timestamp BETWEEN 3 AND 4)",
        ["ev", "aux"],
    ) == {}
    # negated group
    assert ex(
        "SELECT * FROM ev WHERE NOT (__timestamp BETWEEN 1 AND 2 "
        "OR __timestamp BETWEEN 3 AND 4)",
        ["ev"],
    ) == {}
    # group that is an OR OPERAND, not a conjunct
    assert ex(
        "SELECT * FROM ev WHERE (__timestamp BETWEEN 1 AND 2 "
        "OR __timestamp BETWEEN 3 AND 4) OR v = 1",
        ["ev"],
    ) == {}
    # a second OR over other columns is unbounded and intersects away
    assert ex(
        "SELECT * FROM ev WHERE (__timestamp BETWEEN 1 AND 2 "
        "OR __timestamp BETWEEN 3 AND 4) AND (v = 1 OR k = 2)",
        ["ev"],
    ) == {"ev": (1, 4)}
    # a conjunction inside a branch folds to that branch's range
    assert ex(
        "SELECT * FROM ev WHERE (__timestamp >= 1 AND __timestamp <= 2 "
        "OR __timestamp BETWEEN 3 AND 4)",
        ["ev"],
    ) == {"ev": (1, 4)}
    # self-join: envelopes obey the referenced-twice guard
    assert ex(
        "SELECT * FROM ev a JOIN ev b ON a.k = b.k "
        "WHERE (a.__timestamp BETWEEN 1 AND 2 OR a.__timestamp BETWEEN 3 AND 4)",
        ["ev"],
    ) == {}
    # epoch_ns literals re-read from the original text inside the group
    got = ex(
        "SELECT * FROM ev WHERE (__timestamp BETWEEN epoch_ns('2023-01-01') "
        "AND epoch_ns('2023-01-02') OR __timestamp BETWEEN "
        "epoch_ns('2023-03-01') AND epoch_ns('2023-03-02'))",
        ["ev"],
    )
    assert got["ev"][0] == 1672531200 * 10**9
    assert got["ev"][1] == 1677715200 * 10**9


def test_or_envelope_unwraps_redundant_nesting_r15(time_bounds):
    """VERDICT r14 optional #6: a conjunct group whose WHOLE body is
    itself one parenthesized group peels before the OR split, so
    ``((a OR b))`` (any depth, any spacing) prunes by the same envelope
    as ``(a OR b)``. Only whole-body wraps peel — a group whose parens
    are operand structure still refuses."""
    ex = time_bounds

    assert ex(
        "SELECT * FROM ev WHERE ((__timestamp BETWEEN 100 AND 200 "
        "OR __timestamp BETWEEN 300 AND 400))",
        ["ev"],
    ) == {"ev": (100, 400)}
    # deeper nesting + interior whitespace
    assert ex(
        "SELECT * FROM ev WHERE ( ( ( __timestamp BETWEEN 100 AND 200 "
        "OR __timestamp BETWEEN 300 AND 400 ) ) ) AND __timestamp >= 150",
        ["ev"],
    ) == {"ev": (150, 400)}
    # qualified + nested, per join side
    assert ex(
        "SELECT * FROM ev e JOIN aux a ON e.k = a.k "
        "WHERE ((e.__timestamp BETWEEN 1 AND 2 OR e.__timestamp BETWEEN 8 AND 9)) "
        "AND a.__timestamp >= 7",
        ["ev", "aux"],
    ) == {"ev": (1, 9), "aux": (7, None)}
    # not a whole-body wrap: '( (a OR b) AND v = 1 )' is the envelope
    # ANDed with an unbounded conjunct
    assert ex(
        "SELECT * FROM ev WHERE ((__timestamp BETWEEN 1 AND 2 "
        "OR __timestamp BETWEEN 3 AND 4) AND v = 1)",
        ["ev"],
    ) == {"ev": (1, 4)}
    # parenthesized branches
    assert ex(
        "SELECT * FROM ev WHERE ((__timestamp BETWEEN 1 AND 2) "
        "OR (__timestamp BETWEEN 3 AND 4))",
        ["ev"],
    ) == {"ev": (1, 4)}
    # nested wrap with a non-ts branch still refuses after peeling
    assert ex(
        "SELECT * FROM ev WHERE ((__timestamp BETWEEN 1 AND 2 OR v >= 5))",
        ["ev"],
    ) == {}


def test_commands_through_sql_take_effect_once(spark, tmp_path):
    """The schema-only analysis never runs a statement: SET, CREATE TEMP
    VIEW, INSERT and WITH … INSERT sent through QueryEngine.sql each take
    effect once. A command whose input query is kept out of its plan
    tree (CREATE VIEW, CTAS) reads every table unpruned, even right after
    a pruned query on the same table."""
    import quackpipe_spark.query as Q
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.ingest import IngestService
    from quackpipe_spark.query import QueryEngine

    cat = Catalog(str(tmp_path / "root"))
    svc = IngestService(spark, cat, save_timeout_s=3600)
    svc.store("d", "ev", {"v": [1, 2, 3], "__timestamp": [10, 20, 30]})
    svc.flush()
    qe = QueryEngine(spark, cat)
    calls = []
    real = Q.extract_time_bounds_per_table

    def spy(*a, **k):
        calls.append(a[1])
        return real(*a, **k)

    Q.extract_time_bounds_per_table = spy
    spark.sql(f"CREATE TABLE once_sink (v BIGINT) USING parquet LOCATION '{tmp_path}/sink'")
    try:
        qe.sql("SET quackpipe.test.note=__timestamp", db="d")
        assert spark.conf.get("quackpipe.test.note") == "__timestamp"
        # run twice, CREATE TEMP VIEW (no OR REPLACE) raises "already exists"
        qe.sql("CREATE TEMP VIEW once_v AS SELECT * FROM ev WHERE __timestamp >= 1", db="d")
        assert spark.sql("SELECT count(*) AS n FROM once_v").collect()[0]["n"] == 3
        assert calls == []  # no input query in the plan tree: nothing to prune
        ins = "INSERT INTO once_sink SELECT v FROM ev WHERE __timestamp >= 15"
        qe.sql(ins, db="d")
        assert calls == [ins]  # the insert's query is its child: it prunes
        # an aggregate yields a row even over the empty schema-only
        # relation, so running the statement during analysis would show
        qe.sql(
            "WITH a AS (SELECT count(*) AS v FROM ev WHERE __timestamp >= 25) "
            "INSERT INTO once_sink SELECT v FROM a",
            db="d",
        )
        assert len(calls) == 2
        rows = sorted(r["v"] for r in spark.sql("SELECT v FROM once_sink").collect())
        assert rows == [1, 2, 3]
        # CTAS keeps its query out of the plan tree: after a pruned query
        # left a one-file scan bound to ev, it must still read every row
        assert qe.sql("SELECT count(*) AS n FROM ev WHERE __timestamp >= 25", db="d").collect()[0]["n"] == 1
        qe.sql(f"CREATE TABLE once_ctas USING parquet LOCATION '{tmp_path}/ctas' AS SELECT * FROM ev", db="d")
        assert spark.sql("SELECT count(*) AS n FROM once_ctas").collect()[0]["n"] == 3
    finally:
        Q.extract_time_bounds_per_table = real
        spark.sql("DROP TABLE IF EXISTS once_sink")
        spark.sql("DROP TABLE IF EXISTS once_ctas")
        spark.catalog.dropTempView("once_v")
        spark.conf.unset("quackpipe.test.note")


def test_session_view_over_catalog_table_reads_current_files(spark, tmp_path):
    """A SQL temp view over a catalog table resolves the table when it is
    read: the engine must find the table inside the view and bind its
    current scan, not leave the previous query's pruned file list bound
    (a count of 1 instead of 3, silently)."""
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.ingest import IngestService
    from quackpipe_spark.query import QueryEngine

    cat = Catalog(str(tmp_path / "root"))
    svc = IngestService(spark, cat, save_timeout_s=3600)
    for ts in (10, 20, 30):
        svc.store("d", "ev", {"v": [ts], "__timestamp": [ts]})
        svc.flush()
    qe = QueryEngine(spark, cat)
    try:
        qe.sql("CREATE TEMP VIEW allev AS SELECT * FROM ev", db="d")
        pruned = qe.sql("SELECT count(*) AS n FROM ev WHERE __timestamp >= 25", db="d")
        assert pruned.collect()[0]["n"] == 1
        assert len(pruned.inputFiles()) == 1
        for _ in range(2):  # a user view is never served from the plan cache
            assert qe.sql("SELECT count(*) AS n FROM allev", db="d").collect()[0]["n"] == 3
        # the view's own filter prunes the table it reaches
        q = "SELECT count(*) AS n FROM allev WHERE __timestamp >= 25"
        df = qe.sql(q, db="d")
        assert df.collect()[0]["n"] == 1 and len(df.inputFiles()) == 1
    finally:
        spark.catalog.dropTempView("allev")


def test_scan_schema_is_the_catalog_schema(spark, tmp_path):
    """A scan of any pruned file list — old files only, new files only,
    none — has the schema a mergeSchema read of every file has (names,
    order, types), and the rows a mergeSchema read of its own files has,
    with a column those files lack read as null. Building it over up to
    32 files starts no Spark job (no footer read)."""
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.ingest import IngestService
    from quackpipe_spark.query import QueryEngine

    cat = Catalog(str(tmp_path / "root"))
    svc = IngestService(spark, cat, save_timeout_s=3600)
    hour = 3600 * NS
    svc.store("d", "ev", {"v": [1], "__timestamp": [hour]})
    svc.flush()
    svc.store("d", "ev", {"v": [2], "__timestamp": [2 * hour]})
    svc.flush()
    svc.store("d", "ev", {"v": [3], "__timestamp": [3 * hour], "note": ["new"]})
    svc.flush()
    qe = QueryEngine(spark, cat)
    t = cat.get("d", "ev")

    def merged(files):
        return spark.read.option("mergeSchema", "true").option("basePath", t.path).parquet(*files)

    def rows(df, cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    every = qe.table_files(t)
    assert len(every) == 3
    want = [(f.name, f.dataType) for f in merged(every).schema]
    assert [c for c, _ in want] == ["v", "__timestamp", "note", "date", "hour"]
    cols = [c for c, _ in want]
    for files in (qe.table_files(t, hi=2 * hour), qe.table_files(t, lo=3 * hour), []):
        got = qe.table_df(t, files=files)
        assert [(f.name, f.dataType) for f in got.schema] == want
        if files:
            truth = merged(files)
            have = set(truth.columns)
            truth = truth.select(*[c if c in have else F.lit(None).alias(c) for c in cols])
            assert rows(got, cols) == rows(truth, cols)
        else:
            assert got.count() == 0
    sc = spark.sparkContext
    sc.setJobGroup("scan-schema-probe", "table_df builds no job")
    try:
        qe.table_df(t, files=every)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("scan-schema-probe")) == []


def test_metadata_column_query_matches_unpruned(spark, tmp_path, monkeypatch):
    """`_metadata` does not resolve on the schema-only relations, so the
    analysis raises and the table is not pruned — the query fails or
    answers exactly as it does with pruning off (the engine's views are
    DataFrame views, which do not expose `_metadata` either)."""
    import quackpipe_spark.query as Q
    from pyspark.errors import AnalysisException

    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.ingest import IngestService
    from quackpipe_spark.query import QueryEngine, extract_time_bounds_per_table

    cat = Catalog(str(tmp_path / "root"))
    svc = IngestService(spark, cat, save_timeout_s=3600)
    for ts in (10, 20):
        svc.store("d", "ev", {"v": [ts], "__timestamp": [ts]})
        svc.flush()
    qe = QueryEngine(spark, cat)
    q = "SELECT _metadata.file_path AS f FROM ev WHERE __timestamp >= 15"
    with qe._sql_lock:
        leaves = qe._schema_leaves([cat.get("d", "ev")])
    assert extract_time_bounds_per_table(spark, q, leaves) == {}

    def outcome():
        try:
            return sorted(r["f"] for r in qe.sql(q, db="d").collect())
        except AnalysisException as e:
            return e.getCondition()

    pruned = outcome()
    monkeypatch.setattr(Q, "extract_time_bounds_per_table", lambda *a, **k: {})
    assert outcome() == pruned
