"""Differential property test for time-range file pruning: ANY query the
pruner touches must return the same rows as the same query with pruning
disabled. Wrong pruning is silent missing rows — this is the generative
backstop behind test_query_pruning's example-based cases, covering
WHERE scoping, CTEs, derived tables, joins, subqueries, set operations
and the session time zone."""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.ingest import IngestService
    from quackpipe_spark.query import QueryEngine

    root = tmp_path_factory.mktemp("prune_prop")
    cat = Catalog(str(root))
    svc = IngestService(spark, cat, save_timeout_s=3600)
    # four files with disjoint, known time ranges so wrong pruning is
    # visible: any dropped file loses rows some predicate still wants
    for lo in (0, 100, 200, 300):
        svc.store(
            "d",
            "ev",
            {
                "v": list(range(lo, lo + 100)),
                "k": [i % 7 for i in range(lo, lo + 100)],
                "__timestamp": list(range(lo, lo + 100)),
            },
        )
        svc.flush()
        svc.store(
            "d",
            "aux",
            {"k": [i % 7 for i in range(lo, lo + 50)], "__timestamp": list(range(lo, lo + 50))},
        )
        svc.flush()
    # a day of half-hourly rows in four 6-hour files, for bounds written
    # as epoch_ns('…'::TIMESTAMP) literals in the session time zone
    half_hour = 1800 * 10**9
    for f in range(4):
        svc.store(
            "d",
            "tzev",
            {"v": list(range(12)), "__timestamp": [(f * 12 + i) * half_hour for i in range(12)]},
        )
        svc.flush()
    qe = QueryEngine(spark, cat)
    assert len(qe.table_files(cat.get("d", "ev"))) == 4
    return qe


bound_val = st.integers(min_value=-20, max_value=450)
cmp_op = st.sampled_from([">=", ">", "<", "<="])


def _qual(pred: str, alias: str) -> str:
    """``pred`` with its column qualified by ``alias``."""
    return re.sub(r"\b(__timestamp|v)\b", rf"{alias}.\1", pred, count=1)


@st.composite
def ts_predicate(draw):
    form = draw(st.integers(0, 2))
    if form == 0:
        return f"__timestamp {draw(cmp_op)} {draw(bound_val)}"
    if form == 1:
        a, b = draw(bound_val), draw(bound_val)
        return f"__timestamp BETWEEN {min(a, b)} AND {max(a, b)}"
    return f"v {draw(cmp_op)} {draw(bound_val)}"


@st.composite
def query(draw):
    p1 = draw(ts_predicate())
    p2 = draw(ts_predicate())
    glue = draw(st.sampled_from(["AND", "OR"]))
    where = f"{p1} {glue} {p2}"
    shape = draw(st.integers(0, 28))
    # shapes the SQL-text pruner refused outright; Catalyst bounds them
    if shape == 22:  # self-join, both sides bounded
        return (
            f"SELECT count(*) AS n, sum(a.v) AS s FROM ev a JOIN ev b ON a.k = b.k "
            f"WHERE {_qual(p1, 'a')} AND {_qual(p2, 'b')}"
        )
    if shape == 23:  # CTE self-join
        return (
            f"WITH c AS (SELECT * FROM ev WHERE {p1}) "
            f"SELECT count(*) AS n FROM c x JOIN c y ON x.k = y.k WHERE {_qual(p2, 'y')}"
        )
    if shape == 24:  # comma join
        return (
            f"SELECT count(*) AS n FROM ev e, aux x WHERE e.k = x.k AND {_qual(p1, 'e')} "
            f"AND x.__timestamp {draw(cmp_op)} {draw(bound_val)}"
        )
    if shape == 25:  # same-table scalar subquery
        return (
            f"SELECT count(*) AS n, sum(v) AS s FROM ev "
            f"WHERE {p1} AND v > (SELECT avg(v) FROM ev WHERE {p2})"
        )
    if shape == 26:  # same-table IN subquery
        return (
            f"SELECT count(*) AS n, sum(v) AS s FROM ev "
            f"WHERE {p1} AND k IN (SELECT k FROM ev WHERE {p2})"
        )
    if shape == 27:  # IN list (more than 10 values becomes an InSet)
        vals = draw(st.lists(bound_val, min_size=1, max_size=14))
        return (
            f"SELECT count(*) AS n, sum(v) AS s FROM ev "
            f"WHERE __timestamp IN ({', '.join(map(str, vals))}) {glue} {p1}"
        )
    if shape == 28:  # UNION ALL
        return (
            f"SELECT count(*) AS n, sum(v) AS s FROM "
            f"(SELECT v FROM ev WHERE {p1} UNION ALL SELECT v FROM ev WHERE {p2})"
        )
    if shape == 21:  # redundantly NESTED OR group (r15 unwrap): any depth
        # of whole-body parens peels to the same envelope; non-ts
        # branches must still refuse after peeling
        depth = draw(st.integers(1, 3))
        return (
            f"SELECT count(*) AS n, sum(v) AS s FROM ev "
            f"WHERE {'(' * depth}({p1} OR {p2}){')' * depth} "
            f"AND {draw(ts_predicate())}"
        )
    if shape == 17:  # OR-of-ranges conjunct group (r14 envelope pruning);
        # branches may be non-ts predicates — those groups must refuse
        return (
            f"SELECT count(*) AS n, sum(v) AS s FROM ev "
            f"WHERE ({p1} OR {p2}) AND {draw(ts_predicate())}"
        )
    if shape == 18:  # qualified OR groups per join side
        a, b = draw(bound_val), draw(bound_val)
        return (
            f"SELECT count(*) AS n FROM ev e JOIN aux x ON e.k = x.k "
            f"WHERE (e.__timestamp BETWEEN {min(a,b)} AND {max(a,b)} "
            f"OR e.__timestamp {draw(cmp_op)} {draw(bound_val)}) "
            f"AND x.__timestamp {draw(cmp_op)} {draw(bound_val)}"
        )
    if shape == 19:  # OR group NEGATED — must refuse, never envelope
        return f"SELECT count(*) AS n FROM ev WHERE NOT ({p1} OR {p2})"
    if shape == 20:  # OR group inside a CTE body
        return (
            f"WITH r AS (SELECT * FROM ev WHERE ({p1} OR {p2}) AND {draw(ts_predicate())}) "
            f"SELECT count(*) AS n, sum(v) AS s FROM r"
        )
    if shape == 14:  # backtick-quoted table name (means the bare word)
        return f"SELECT count(*) AS n, sum(v) AS s FROM `ev` WHERE {where}"
    if shape == 15:  # apostrophe INSIDE a backtick alias must not desync
        # quote parity (r12 scanner fix): bound-shaped alias text is
        # identifier data, never a live bound
        return (
            f"SELECT v AS `it's {p1}` FROM ev "
            f"WHERE {p2} ORDER BY v LIMIT 500"
        )
    if shape == 16:  # backtick-apostrophe alias FOLLOWED by a literal
        # carrying bound text — pre-fix parity desync exposed the
        # literal's contents as code (the r12 review's top repro shape)
        return (
            f"SELECT v AS `a'b`, 'x {p1} y' AS lit FROM ev "
            f"WHERE {p2} ORDER BY v LIMIT 500"
        )
    if shape == 12:  # derived table nested inside EXISTS (still prunes ev)
        return (
            f"SELECT count(*) AS n FROM aux a WHERE EXISTS "
            f"(SELECT 1 FROM (SELECT k FROM ev WHERE {p1}) t WHERE t.k = a.k)"
        )
    if shape == 13:  # derived under a set-op: inner bound stays sound
        return (
            f"SELECT k FROM (SELECT k FROM ev WHERE {p1}) t "
            f"EXCEPT SELECT k FROM aux"
        )
    if shape == 0:
        return f"SELECT count(*) AS n, sum(v) AS s FROM ev WHERE {where}"
    if shape == 1:  # projected comparison + real filter
        return (
            f"SELECT __timestamp >= {draw(bound_val)} AS recent, v FROM ev "
            f"WHERE {where} ORDER BY v LIMIT 500"
        )
    if shape == 2:  # CTE body bound
        return (
            f"WITH r AS (SELECT * FROM ev WHERE {where}) "
            f"SELECT count(*) AS n, sum(v) AS s FROM r"
        )
    if shape == 3:  # CTE + join with second table, qualified bounds
        return (
            f"WITH r AS (SELECT * FROM ev WHERE {p1}) "
            f"SELECT count(*) AS n FROM r JOIN aux a ON r.k = a.k "
            f"WHERE a.__timestamp {draw(cmp_op)} {draw(bound_val)}"
        )
    if shape == 4:  # two CTEs reading the SAME table (must not prune)
        return (
            f"WITH x AS (SELECT * FROM ev WHERE {p1}), "
            f"y AS (SELECT * FROM ev WHERE {p2}) "
            f"SELECT count(*) AS n FROM x JOIN y ON x.k = y.k"
        )
    if shape == 5:  # NOT / nested parens
        return f"SELECT count(*) AS n FROM ev WHERE NOT ({p1}) AND {p2}"
    if shape == 6:  # double-quoted literal carrying bound-shaped text
        return (
            f'SELECT count(*) AS n FROM ev '
            f'WHERE k >= 0 AND "x {p1}" != "y" AND {p2}'
        )
    if shape == 7:  # Spark SORT BY tail carrying a comparison
        return (
            f"SELECT v, __timestamp {draw(cmp_op)} {draw(bound_val)} AS flag "
            f"FROM ev WHERE {p1} SORT BY {p2}"
        )
    if shape == 8:  # derived-table bound (round-10 reach)
        return (
            f"SELECT count(*) AS n, sum(v) AS s FROM "
            f"(SELECT * FROM ev WHERE {where}) t"
        )
    if shape == 9:  # derived + join, qualified outer bound
        return (
            f"SELECT count(*) AS n FROM (SELECT * FROM ev WHERE {p1}) t "
            f"JOIN aux a ON t.k = a.k "
            f"WHERE a.__timestamp {draw(cmp_op)} {draw(bound_val)}"
        )
    if shape == 10:  # derived reading the SAME table as outer (no prune)
        return (
            f"SELECT count(*) AS n FROM (SELECT k FROM ev WHERE {p1}) t "
            f"JOIN ev e ON t.k = e.k WHERE e.__timestamp {draw(cmp_op)} {draw(bound_val)}"
        )
    # comments carrying bound-shaped text (round-10 advice: a commented
    # predicate must never fabricate a live bound)
    style = draw(st.integers(0, 2))
    if style == 0:
        return f"SELECT count(*) AS n FROM ev WHERE {p1} -- AND {p2}"
    if style == 1:
        return f"SELECT count(*) AS n FROM ev WHERE {p1} /* {p2} */ AND {p2}"
    return f"SELECT count(*) AS n FROM ev -- don't\nWHERE {p1}"


def _unpruned(store, monkeypatch, q):
    """``q``'s rows with time pruning switched off. The judgment memo
    is cleared on both sides, or a repeat would reuse the pruned ranges."""
    import quackpipe_spark.query as Q

    store._judgments.clear()
    monkeypatch.setattr(Q, "extract_time_bounds_per_table", lambda *a, **k: {})
    try:
        return sorted(map(tuple, store.sql(q, db="d").collect()))
    finally:
        monkeypatch.undo()
        store._judgments.clear()


@settings(
    max_examples=80,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(q=query())
def test_pruned_equals_unpruned(store, monkeypatch, q):
    pruned = sorted(map(tuple, store.sql(q, db="d").collect()))
    assert pruned == _unpruned(store, monkeypatch, q), q


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    tz=st.sampled_from(["America/New_York", "Asia/Kolkata", "-03:00", "+05:45", "UTC"]),
    hour=st.integers(0, 23),
    op=cmp_op,
)
def test_pruned_equals_unpruned_under_session_timezone(store, monkeypatch, tz, hour, op):
    """A SET of the session time zone sent through QueryEngine.sql moves
    where epoch_ns('…'::TIMESTAMP) bounds fall; pruning must follow the
    zone the query executes in."""
    q = (
        "SELECT count(*) AS n, sum(v) AS s FROM tzev WHERE __timestamp "
        f"{op} epoch_ns('1970-01-01 {hour:02d}:15:00'::TIMESTAMP)"
    )
    store.sql(f"SET spark.sql.session.timeZone={tz}", db="d")
    try:
        pruned = sorted(map(tuple, store.sql(q, db="d").collect()))
        assert pruned == _unpruned(store, monkeypatch, q), (tz, q)
    finally:
        store.sql("SET spark.sql.session.timeZone=UTC", db="d")
