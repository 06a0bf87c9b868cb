"""Query path: SQL → pruned file list → Spark SQL → rows (SURVEY §3.2).

Parity with the gigapi-querier flow (ARCHITECTURE.md:2075-2083): resolve
the table's parquet files from the metadata catalog **and the query's time
range**, then execute the SQL against that file list. Two pruning layers:

1. **Index pruning (ours, driver-side)** — each referenced table's
   ``__timestamp`` range selects only the files whose [min_time,
   max_time] overlap (the reference's "resolve data location based on
   database, table and timerange", README.md:115). At 100 TB this keeps
   the Spark file listing itself small — partition pruning can't help
   once a million files have been listed.
2. **Catalyst pruning (built-in)** — remaining predicates push into the
   parquet scan (footer stats, partition columns date/hour).

Nothing is read from the SQL text. Each fresh text is analyzed once,
never executed, with every catalog table of the database bound to a
schema-only relation, and that one ``QueryExecution`` decides the serving
path (:func:`judge` and :func:`extract_time_bounds_per_table`):

- **references** — the tables whose schema-only relation the analyzed
  plan reaches, inside session views, CTE bodies and subqueries too;
- **time ranges** — read off the optimized plan, so every shape the
  optimizer pushes a filter through (joins, CTEs, derived tables,
  subqueries, set operations) prunes, and every shape it can't stays
  unpruned;
- **cacheability** — a repeat may reuse the analyzed plan only if it is
  no command, deterministic, folds no current time/user/database, samples
  nothing, and reads only the engine's relations or constants.

Scans are built with the catalog schema (schema-on-write), so a pruned
scan, an unpruned one and the schema-only relation have one schema.

Reading via the index file list (not directory glob) is also what makes
compaction safe for readers: during the tombstone window both the merged
output and its inputs exist on disk; the index lists exactly one
generation (json_index.go drop-queue semantics).
"""

from __future__ import annotations

import hashlib
import os
import re
import threading
from collections import OrderedDict
from functools import lru_cache, reduce
from typing import NamedTuple

import pyarrow as pa
from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.logger import PySparkLogger
from pyspark.sql import DataFrame, SparkSession

from quackpipe_spark.catalog import Catalog, Table
from quackpipe_spark.functions.dialect import (
    register_dialect,
    registry_fingerprint,
    rewrite_sql,
)
from quackpipe_spark.plans.index import PartitionIndex

# a collected result smaller than this (Arrow bytes) is held under its
# plan-cache key; with the cache's 64 entries, at most 64 MiB of results
RESULT_CACHE_BYTES = 1 << 20

Range = tuple[int | None, int | None]
_UNBOUNDED: Range = (None, None)
# `__timestamp <op> literal`: which side of the range the literal bounds
# (strict comparisons keep the literal — an inclusive, conservative
# bound); a literal on the left flips the operator
_LOWER = frozenset({"GreaterThanOrEqual", "GreaterThan"})
_UPPER = frozenset({"LessThanOrEqual", "LessThan"})
_FLIP = {
    "GreaterThanOrEqual": "LessThanOrEqual",
    "GreaterThan": "LessThan",
    "LessThanOrEqual": "GreaterThanOrEqual",
    "LessThan": "GreaterThan",
    "EqualTo": "EqualTo",
}

# A text the schema-only relations can't analyze (a `_metadata` column
# does not resolve on them) is an expected miss, not a query error, but
# PySpark logs every converted SQL error at ERROR: drop those records
# while this thread is analyzing.
_ANALYZING = threading.local()
PySparkLogger.getLogger("SQLQueryContextLogger").addFilter(
    lambda record: not getattr(_ANALYZING, "on", False)
)


def _table_shape(t: Table) -> tuple:
    """What a table's schema-only relation is built from."""
    return (tuple(t.schema.items()), tuple(t.partition_by))


def _seq(s) -> list:
    """A Scala Seq over py4j as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def _as_long(v) -> int | None:
    return v if isinstance(v, int) and not isinstance(v, bool) else None


def _long_literal(e) -> int | None:
    return _as_long(e.value()) if e.nodeName() == "Literal" else None


def _intersect(a: Range, b: Range) -> Range:
    (alo, ahi), (blo, bhi) = a, b
    return (
        alo if blo is None else blo if alo is None else max(alo, blo),
        ahi if bhi is None else bhi if ahi is None else min(ahi, bhi),
    )


def _envelope(a: Range, b: Range) -> Range:
    (alo, ahi), (blo, bhi) = a, b
    return (
        None if alo is None or blo is None else min(alo, blo),
        None if ahi is None or bhi is None else max(ahi, bhi),
    )


def _fold(e, ts_id: int) -> Range:
    """Inclusive [lo, hi] of the time attribute (exprId ``ts_id``) over
    every row that passes the predicate ``e``; a None side is unbounded.
    ``And`` intersects, ``Or`` takes the envelope, a comparison with a
    literal or an ``In``/``InSet`` of literals bounds, anything else is
    unbounded (Catalyst has already pushed NOT inward and folded
    constants such as ``epoch_ns('…'::TIMESTAMP)``)."""

    def is_ts(x) -> bool:
        return x.nodeName() == "AttributeReference" and x.exprId().id() == ts_id

    kind = e.nodeName()
    if kind in ("And", "Or"):
        merge = _intersect if kind == "And" else _envelope
        return merge(_fold(e.left(), ts_id), _fold(e.right(), ts_id))
    if kind in _FLIP:
        left, right = e.left(), e.right()
        if not is_ts(left):
            left, right, kind = right, left, _FLIP[kind]
        v = _long_literal(right) if is_ts(left) else None
        if v is None:
            return _UNBOUNDED
        if kind in _LOWER:
            return (v, None)
        return (None, v) if kind in _UPPER else (v, v)
    if kind == "In" and is_ts(e.value()):
        vals = [_long_literal(x) for x in _seq(e.list())]
    elif kind == "InSet" and is_ts(e.child()):
        it, vals = e.hset().iterator(), []
        while it.hasNext():
            vals.append(_as_long(it.next()))
    else:
        return _UNBOUNDED
    return (min(vals), max(vals)) if vals and None not in vals else _UNBOUNDED


def _leaf_range(leaf, conds: list) -> Range:
    """The range the Filter conditions directly above ``leaf`` allow its
    ``__timestamp`` (a bigint column; any other type is unbounded)."""
    if not conds:
        return _UNBOUNDED
    idx = leaf.schema().getFieldIndex("__timestamp")
    if idx.isEmpty():
        return _UNBOUNDED
    attr = leaf.output().apply(idx.get())
    if attr.dataType().typeName() != "long":
        return _UNBOUNDED
    ts_id = attr.exprId().id()
    return reduce(_intersect, (_fold(c, ts_id) for c in conds))


def _walk(node, conds: list, leaves: dict[int, str], found: dict[str, list]) -> None:
    """Collect one range per instance of each schema-only leaf in the
    optimized plan (subquery plans included). ``conds`` holds the
    conditions of the Filter chain directly above ``node``."""
    kind = node.nodeName()
    if kind == "LogicalRDD":
        name = leaves.get(node.rdd().id())
        if name is not None:
            found.setdefault(name, []).append(_leaf_range(node, conds))
        return
    for sub in _seq(node.subqueries()):
        _walk(sub, [], leaves, found)
    below = conds + [node.condition()] if kind == "Filter" else []
    for child in _seq(node.children()):
        _walk(child, below, leaves, found)


def extract_time_bounds_per_table(
    spark: SparkSession, sql: str, leaves: dict[int, str], execution=None
) -> dict[str, tuple[int | None, int | None]]:
    """Per-table inclusive ``__timestamp`` range ``{table: (lo, hi)}``
    (None = unbounded side) that ``sql`` can read, from Catalyst's
    optimized plan. ``leaves`` maps the RDD id of each table's
    schema-only relation — registered under the table's name by the
    caller — to the table name. ``execution`` is the text's
    ``QueryExecution`` when the caller has already built it (see
    :func:`judge`), so the text is analyzed once.

    Each instance of a table in the plan gets the range of the Filter
    conditions directly above it (after pushdown); the table's range is
    the envelope of its instances. Sound by construction: every row an
    instance reads outside its range is dropped by that Filter, so files
    wholly outside the envelope hold no row the query uses. A table is
    left out (not pruned) when any instance is unbounded or none was
    found; the result is ``{}`` when the text does not analyze against
    the schema-only relations. The statement is analyzed and optimized
    only, never executed: a ``WITH … INSERT`` runs no command here."""
    found: dict[str, list[Range]] = {}
    _ANALYZING.on = True
    try:
        if execution is None:
            execution = _execution(spark, sql)
        _walk(execution.optimizedPlan(), [], leaves, found)
    except (Py4JError, PySparkException):
        return {}
    finally:
        _ANALYZING.on = False
    out = {}
    for name, ranges in found.items():
        rng = reduce(_envelope, ranges)
        if rng != _UNBOUNDED:
            out[name] = rng
    return out


def _execution(spark: SparkSession, sql: str):
    """The ``QueryExecution`` of ``sql`` in SKIP mode: analysis and
    optimization never run a command (a ``WITH … INSERT`` inserts
    nothing)."""
    state = spark._jsparkSession.sessionState()
    skip = spark._jvm.org.apache.spark.sql.execution.CommandExecutionMode.SKIP()
    return state.executePlan(state.sqlParser().parsePlan(sql), skip)


# leaves a reusable plan may hold besides the engine's own: constant
# relations, and a CTE reference (its body is walked where it is defined)
_CONSTANT_LEAVES = frozenset({"LocalRelation", "OneRowRelation", "Range", "CTERelationRef"})


def _reach(node, leaves: dict[int, str], reached: set[str]) -> bool:
    """Add the table of every schema-only leaf under ``node`` (View,
    CTE and subquery bodies included) to ``reached``. True when every
    leaf is the engine's own or a constant relation, every View is the
    engine's own (a view straight over its leaf) and no Sample draws
    rows."""
    kind = node.nodeName()
    if kind == "LogicalRDD":
        name = leaves.get(node.rdd().id())
        if name is not None:
            reached.add(name)
        return name is not None
    kids = _seq(node.children())
    if kind == "View" and kids[0].nodeName() == "LogicalRDD":
        return _reach(kids[0], leaves, reached)
    ok = kind not in ("Sample", "View") if kids else kind in _CONSTANT_LEAVES
    for sub in _seq(node.subqueries()) + kids:
        ok = _reach(sub, leaves, reached) and ok
    return ok


@lru_cache(maxsize=1)
def _plan_classes(spark: SparkSession) -> tuple:
    """Catalyst's ``Command`` class and the ``CURRENT_LIKE`` tree
    pattern, looked up once for the latest session (each py4j lookup
    is a few round trips)."""
    jvm = spark._jvm
    return (
        jvm.java.lang.Class.forName("org.apache.spark.sql.catalyst.plans.logical.Command"),
        jvm.org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE(),
    )


class Judgment(NamedTuple):
    """What one schema-only analysis of a text decides."""

    execution: object  # the text's QueryExecution (py4j)
    refs: set[str] | None  # reached tables; None: a command hides its input
    command: bool
    cacheable: bool


def judge(spark: SparkSession, sql: str, leaves: dict[int, str]) -> Judgment | None:
    """Analyze ``sql`` once against the schema-only relations ``leaves``
    (RDD id → table, registered under the tables' names by the caller)
    and judge it from the analyzed plan; None when it does not analyze.

    A repeat may reuse the plan only when it is no command (a command
    runs when ``spark.sql`` is called, so a hit would skip it), it is
    deterministic (a cached plan replays ``rand()``'s seed), folds no
    current time, date, user or database (``ComputeCurrentTime`` and
    ``ReplaceCurrentLike`` would freeze them at the first run), holds no
    Sample, and reads only the engine's relations and constants — the
    plan-cache key pins nothing else. A command without children (SET,
    CREATE VIEW, CTAS, EXPLAIN, …) may keep its input query out of the
    plan tree, so its references are unknown (``refs`` None)."""
    command_class, current_like = _plan_classes(spark)
    _ANALYZING.on = True
    try:
        execution = _execution(spark, sql)
        plan = execution.analyzed()
        reached: set[str] = set()
        own = _reach(plan, leaves, reached)
        command = command_class.isInstance(plan)
        cacheable = (
            own
            and not command
            and plan.deterministic()
            and not plan.containsPattern(current_like)
        )
    except (Py4JError, PySparkException):
        return None
    finally:
        _ANALYZING.on = False
    hidden = command and plan.children().isEmpty()
    return Judgment(execution, None if hidden else reached, command, cacheable)


def _to_arrow(df: DataFrame) -> pa.Table:
    """``df``'s rows as one Arrow table, collected by one Spark job.
    ``DataFrame.toArrow`` also casts the batches to the schema PySpark
    derives from ``df.schema``, which the JVM already wrote them in; for
    a non-nullable field inside a struct that is null in some row, the
    cast fails (pyarrow checks the child's null slots under the null
    parent), so the batches are taken as written."""
    return pa.Table.from_batches(df._collect_as_arrow(empty_list_if_zero_records=False))


class QueryEngine:
    def __init__(self, spark: SparkSession, catalog: Catalog):
        self.spark = spark
        self.catalog = catalog
        # sql() registers per-query schema-only and pruned temp views under
        # the BARE table name; concurrent /query handler threads would
        # otherwise swap each other's file lists mid-flight (silent missing
        # rows). The lock covers registration + analysis only — Spark
        # analyzes eagerly, so the view's file list is captured before the
        # lock releases; building the scans and execution/collect proceed
        # unlocked.
        self._sql_lock = threading.Lock()
        # Bounded LRU of analyzed plans for the /query serving path:
        # (db, rewritten SQL, session tz, per-table pruned FILE LISTS) →
        # DataFrame. Keying on the resolved file lists makes staleness
        # impossible by construction — ingest/compaction changes a
        # table's file set, so the next identical query MISSES and
        # re-analyzes; no invalidation hooks to get wrong. A hit skips
        # parse+analyze+optimize AND (after the first action) Spark's
        # memoized physical plan + AQE adaptation — the per-call
        # compile/schedule floor BASELINE.md pins at ~0.1–0.3 s, while
        # DuckDB re-plans in single-digit ms. bench.py does not route
        # through QueryEngine.sql, so the honest bench still compiles
        # fresh per rep. A small collected result takes its key's entry in
        # place of the DataFrame (see result()).
        self._plan_cache: "OrderedDict[tuple, DataFrame | pa.Table]" = OrderedDict()
        self._plan_cache_cap = 64
        # judgments of plan-cacheable texts, same bound and flush as the
        # plan cache: (db, SQL, tz, registry fingerprint) → (the reached
        # tables with their shapes, {table: (lo, hi)}), so a repeat runs
        # no schema-only analysis. Both depend on the text and the
        # schemas, not on files; an entry is used only while the reached
        # tables keep their shapes.
        self._judgments: "OrderedDict[tuple, tuple]" = OrderedDict()
        # (db, table) → (shape, schema-only TemporaryViewRelation, RDD id)
        self._schema_views: dict[tuple[str, str], tuple] = {}
        # bumped by each command run through sql(); a query whose ranges
        # were derived under an older value is planned again
        self._conf_gen = 0
        register_dialect(spark)
        from quackpipe_spark.sources.tables import _ensure_read_confs

        _ensure_read_confs(spark)

    def table_files(
        self, table: Table, lo: int | None = None, hi: int | None = None
    ) -> list[str]:
        """Live files from the per-partition indexes, pruned by time range."""
        out = []
        for pdir in table.partition_dirs():
            idx = PartitionIndex.load(pdir)
            for entry in idx.files.values():
                if lo is not None and entry.max_time is not None and entry.max_time < lo:
                    continue
                if hi is not None and entry.min_time is not None and entry.min_time > hi:
                    continue
                out.append(os.path.join(pdir, entry.name))
        return out

    def table_df(
        self,
        table: Table,
        lo: int | None = None,
        hi: int | None = None,
        files: list[str] | None = None,
    ) -> DataFrame:
        """A scan of ``files`` (default: the live files in [lo, hi]) with
        the catalog schema plus the hive partition columns (date DATE,
        hour INT) — whatever subset of files is read, including none, and
        with no footer-reading job. A column a file lacks reads null."""
        from pyspark.sql.types import DateType, IntegerType, StructField, StructType

        from quackpipe_spark.types import CANONICAL

        if files is None:
            files = self.table_files(table, lo, hi)
        fields = [StructField(c, CANONICAL[t], True) for c, t in table.schema.items()]
        for pcol, ptype in zip(table.partition_by, (DateType(), IntegerType())):
            if pcol not in table.schema:
                fields.append(StructField(pcol, ptype, True))
        schema = StructType(fields)
        if not files:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).option("basePath", table.path).parquet(*files)

    def _schema_leaves(self, tables: list[Table]) -> dict[int, str]:
        """Bind each table's bare name to its schema-only relation
        (``table_df`` with no files: a LogicalRDD) and map the relation's
        RDD id to the table name. The relation is built once per table
        shape and rebound straight into the session catalog. Caller holds
        ``_sql_lock``."""
        views = self.spark._jsparkSession.sessionState().catalog()
        leaves = {}
        for t in tables:
            shape = _table_shape(t)
            hit = self._schema_views.get((t.database, t.name))
            if hit is None or hit[0] != shape:
                df = self.table_df(t, files=[])
                df.createOrReplaceTempView(t.name)
                rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
                hit = (shape, views.getRawTempView(t.name).get(), rdd_id)
                self._schema_views[(t.database, t.name)] = hit
            else:
                views.createTempView(t.name, hit[1], True)
            leaves[hit[2]] = t.name
        return leaves

    def _bind(self, table: Table, scan: DataFrame) -> None:
        """Bind ``scan`` to ``table``'s bare name as a session temp view,
        straight into the session catalog with the view metadata of the
        table's schema-only relation (same name, same schema): about
        0.3 ms, where ``createOrReplaceTempView`` runs an 8–9 ms command.
        A scan whose schema differs from that relation's (the table
        evolved meanwhile) takes the command. Caller holds ``_sql_lock``."""
        plan = scan._jdf.queryExecution().analyzed()
        hit = self._schema_views.get((table.database, table.name))
        meta = hit[1].tableMeta() if hit else None
        if meta is None or not meta.schema().equals(plan.schema()):
            scan.createOrReplaceTempView(table.name)
            return
        jvm = self.spark._jvm
        view = jvm.org.apache.spark.sql.catalyst.catalog.TemporaryViewRelation(
            meta, jvm.scala.Some(plan)
        )
        self.spark._jsparkSession.sessionState().catalog().createTempView(table.name, view, True)

    def _analyze(
        self, query: str, tables: list[Table]
    ) -> tuple[Judgment | None, dict[str, tuple[int | None, int | None]]]:
        """Judge ``query`` (see :func:`judge`) with every table of
        ``tables`` bound to its schema-only relation, and derive its time
        ranges from the same analysis. The session's temp views under
        those names are put back afterwards, so a session view the query
        does not read is left as it was. Caller holds ``_sql_lock``."""
        views = self.spark._jsparkSession.sessionState().catalog()
        saved = [(t.name, views.getRawTempView(t.name)) for t in tables]
        try:
            leaves = self._schema_leaves(tables)
            judged = judge(self.spark, query, leaves)
            bounds = {}
            if judged is not None and judged.refs:
                bounds = extract_time_bounds_per_table(
                    self.spark, query, leaves, execution=judged.execution
                )
        finally:
            for name, prev in saved:
                if prev.isDefined():
                    views.createTempView(name, prev.get(), True)
                else:
                    views.dropTempView(name)
        return judged, bounds

    # read_parquet(<ARRAY[...] | 'path'> [, key = value ...]) — the
    # reference's scan idiom in both forms (merge_service_fs.go:215:
    # read_parquet(ARRAY['…'], hive_partitioning = false,
    # union_by_name = true); README/BENCHMARK single-path form).
    # \b: without it the pattern matched INSIDE longer identifiers — a
    # user UDF my_read_parquet('/p') was intercepted, its path fetched or
    # opened driver-side, and the view splice produced my__rp_<hash>,
    # breaking a valid query (review r12)
    _RP_CALL = re.compile(
        r"\bread_parquet\s*\(\s*(ARRAY\s*\[[^\]]+\]|'[^']+')"
        r"((?:\s*,\s*\w+\s*=\s*(?:'[^']*'|\w+))*)\s*\)",
        re.IGNORECASE,
    )
    _RP_OPT = re.compile(r"(\w+)\s*=\s*('[^']*'|\w+)")
    # one quoted ARRAY element ('' / "" = escaped quote): paths may
    # legally contain commas or quotes, so the element list is extracted
    # by this regex over the ORIGINAL text of the matched span, never by
    # splitting on bare commas (ADVICE r11). Both quote styles parse —
    # Spark treats "..." as a string literal, and the pre-r12 parser
    # accepted it — and anything in the ARRAY body that is NOT a quoted
    # element (or the commas/space between them) raises instead of
    # silently producing an empty or truncated file list.
    _SQ_ELEM = re.compile(r"'((?:[^']|'')*)'|\"((?:[^\"]|\"\")*)\"")

    @classmethod
    def _path_list(cls, src: str) -> list[str]:
        """File paths from a matched source group: ARRAY['a','b',...] or a
        single quoted path, decoded through the scanner's escape
        conventions ('' doubling AND backslash escapes —
        sqltext.unescape_sql_string; an escaped quote INSIDE an ARRAY
        element still desyncs the element split and raises the loud
        could-not-parse error rather than truncating silently)."""
        from quackpipe_spark.sqltext import unescape_sql_string

        if src.upper().startswith("ARRAY"):
            inner = src[src.index("[") + 1 : src.rindex("]")]
            paths: list[str] = []
            spans: list[tuple[int, int]] = []
            for m in cls._SQ_ELEM.finditer(inner):
                sq, dq = m.group(1), m.group(2)
                paths.append(
                    unescape_sql_string(sq)
                    if sq is not None
                    else unescape_sql_string(dq, quote='"')
                )
                spans.append((m.start(), m.end()))
            leftover = "".join(
                inner[e1:s2] for (_, e1), (s2, _) in zip(
                    [(0, 0)] + spans, spans + [(len(inner), len(inner))]
                )
            )
            if not paths or leftover.strip().strip(",").replace(",", "").strip():
                raise ValueError(
                    "read_parquet ARRAY elements must be quoted paths "
                    f"separated by commas; could not parse: {inner!r}"
                )
            return paths
        return [unescape_sql_string(src[1:-1], quote=src[0])]
    # read_parquet_mergetree(ARRAY['f1','f2'], 'col1,col2') — chsql's
    # k-way merge scan of sorted parquet files (merge_service_fs.go:266,
    # merge_service_s3.go:114): reads the union and yields rows ordered
    # by the comma-separated sort columns. The reference invokes it
    # internally for compaction but it is chsql public surface a /query
    # user can issue on their own files; Spark equivalent is a
    # mergeSchema read + Catalyst sort (SURVEY §4 — same plan the
    # compactor uses; Spark's SortExec merges pre-sorted runs after
    # a cheap in-partition check).
    _RPMT_CALL = re.compile(
        r"\bread_parquet_mergetree\s*\(\s*(ARRAY\s*\[[^\]]+\]|'[^']+')"
        r"\s*,\s*('[^']+')\s*\)",
        re.IGNORECASE,
    )

    def sql(self, query: str, db: str = "default") -> DataFrame:
        """Execute dialect-rewritten SQL with tables resolved to pruned
        scans. A key whose entry holds a result table (see
        :meth:`result`) is planned again and the plan is not kept."""
        return self._plan(query, db)[0]

    def result(self, query: str, db: str = "default") -> pa.Table:
        """The result of ``query`` as one Arrow table, collected by one
        Spark job (the POST /query handler semantics of README.md).

        A cacheable result under ``RESULT_CACHE_BYTES`` takes its plan-cache
        key's entry in place of the DataFrame, so a repeat with unchanged
        files runs no Spark at all and the entry drops the plan's
        ``QueryExecution``. The key pins every input file, the timezone
        and the registry, and every command run through :meth:`sql`
        flushes the cache, so a held table is never stale; a table whose
        key was computed before such a command is not stored."""
        got, key, gen = self._plan(query, db, tables=True)
        if isinstance(got, pa.Table):
            return got
        table = _to_arrow(got)
        if key is not None and table.nbytes < RESULT_CACHE_BYTES:
            with self._sql_lock:
                if self._conf_gen == gen:
                    self._keep(key, table)
        return table

    def _keep(self, key: tuple, entry) -> None:
        """Hold ``entry`` under ``key`` as the most recent plan-cache
        entry. Caller holds ``_sql_lock``."""
        self._plan_cache[key] = entry
        self._plan_cache.move_to_end(key)
        if len(self._plan_cache) > self._plan_cache_cap:
            self._plan_cache.popitem(last=False)

    def _plan(
        self, query: str, db: str, tables: bool = False
    ) -> tuple[DataFrame | pa.Table, tuple | None, int]:
        """(the DataFrame of ``query`` on ``db`` — or, with ``tables``,
        a held result table —, its plan-cache key or None when it is not
        cacheable, the ``_conf_gen`` the key was computed under)."""
        # Spark's path-table syntax (parquet.`p`) is single-path and takes
        # no options, so every read_parquet() call becomes a registered
        # view over a reader configured from the DuckDB-style options:
        #   union_by_name  → mergeSchema (default true: the reference
        #                    always reads its stores union_by_name)
        #   hive_partitioning=false → recursiveFileLookup (disables
        #                    partition-column discovery, like DuckDB)
        #   filename       → input_file_name() projected as `filename`
        def _rp_view(m: re.Match, orig: str) -> str:
            from quackpipe_spark.sources.remote import resolve_scan_path

            # m matched on the comment+literal-BLANKED view; the path and
            # option literals are spaces there, so their true text is
            # re-read from the original at the same spans (offsets are
            # preserved by blanking)
            src = orig[m.start(1) : m.end(1)].strip()
            opts = {
                k.lower(): v.strip("'").lower()
                for k, v in self._RP_OPT.findall(orig[m.start(2) : m.end(2)])
            }
            files = [resolve_scan_path(f) for f in self._path_list(src)]
            reader = self.spark.read.option(
                "mergeSchema", opts.get("union_by_name", "true")
            )
            if opts.get("hive_partitioning") == "false":
                reader = reader.option("recursiveFileLookup", "true")
            df = reader.parquet(*files)
            if opts.get("filename") == "true":
                from pyspark.sql import functions as F

                df = df.withColumn("filename", F.input_file_name())
            name = "_rp_" + hashlib.md5(
                ("|".join(files) + repr(sorted(opts.items()))).encode()
            ).hexdigest()[:12]
            df.createOrReplaceTempView(name)
            return name

        def _rpmt_view(m: re.Match, orig: str) -> str:
            from quackpipe_spark.sources.remote import resolve_scan_path

            src = orig[m.start(1) : m.end(1)].strip()
            order = orig[m.start(2) : m.end(2)].strip().strip("'")
            files = [resolve_scan_path(f) for f in self._path_list(src)]
            cols = [c.strip() for c in order.split(",") if c.strip()]
            df = (
                self.spark.read.option("mergeSchema", "true")
                .parquet(*files)
                .orderBy(*cols)
            )
            name = "_rpmt_" + hashlib.md5(
                ("|".join(files) + "|" + order).encode()
            ).hexdigest()[:12]
            df.createOrReplaceTempView(name)
            return name

        # read_parquet / read_parquet_mergetree interception matches the
        # BLANKED view of the query (one scanner with the rewriter):
        # a read_parquet('http://…') inside a string literal or a comment
        # is user data / dead text — intercepting it would mutate the
        # literal AND fetch the URL driver-side at registration time (the
        # rewrite_sql hazard, which this pre-pass reproduced until r10)
        from quackpipe_spark.sqltext import blank_noncode

        for pat, mk in ((self._RPMT_CALL, _rpmt_view), (self._RP_CALL, _rp_view)):
            out, last = [], 0
            for m in pat.finditer(blank_noncode(query)):
                out.append(query[last : m.start()])
                out.append(mk(m, query))
                last = m.end()
            out.append(query[last:])
            query = "".join(out)
        query = rewrite_sql(query)
        while True:
            with self._sql_lock:
                gen = self._conf_gen
                try:
                    tz = self.spark.conf.get("spark.sql.session.timeZone", "")
                except Exception:
                    tz = ""
                # dialect/UDF registry content hash: a hot-added or
                # redefined function in-session must not serve a plan
                # analyzed against the old binding (VERDICT r11 #5)
                text_key = (db, query, tz, registry_fingerprint())
                refs, bounds, command, cacheable = self._judgment(text_key, query, db)
                per_table: list[tuple[Table, list[str]]] = []
                for t in refs:
                    # a custom order_by indexes a different column: comparing
                    # time bounds against its min/max would prune wrong files
                    tracks_ts = (
                        t.order_by[0] if t.order_by else "__timestamp"
                    ) == "__timestamp"
                    lo, hi = bounds.get(t.name, (None, None)) if tracks_ts else (None, None)
                    per_table.append((t, self.table_files(t, lo, hi)))
                key = None
                if cacheable:
                    key = text_key + (
                        tuple(
                            # file-list DIGEST pins the scan (the full tuple held
                            # every path string — ~100 bytes × 1500 files × 64
                            # cache entries; an md5 over the sorted list keeps the
                            # staleness-impossible-by-key property at 32 bytes);
                            # schema+partition_by pin the scan's schema
                            (
                                t.name,
                                len(files),
                                hashlib.md5(
                                    "\n".join(sorted(files)).encode()
                                ).hexdigest(),
                                tuple(t.schema.items()),
                                tuple(t.partition_by),
                            )
                            for t, files in per_table
                        ),
                    )
                    hit = self._plan_cache.get(key)
                    if hit is not None and (tables or isinstance(hit, DataFrame)):
                        self._plan_cache.move_to_end(key)
                        return hit, key, gen
            # built unlocked: a scan over more than 32 files lists them
            # with a Spark job, which must not stall the other queries
            views = [(t, self.table_df(t, files=files)) for t, files in per_table]
            with self._sql_lock:
                if self._conf_gen != gen:
                    continue  # a command ran meanwhile: ranges may differ
                for t, view in views:
                    self._bind(t, view)
                df = self.spark.sql(query)
                if command:
                    # a command can change what an analyzed plan means (a
                    # conf, a SQL function, a view) and the keys pin only
                    # the timezone and the registry, so flush everything
                    # and send queries judged before it round again.
                    # (Changes made directly on the SparkSession bypass
                    # this engine and are out of scope.)
                    self._conf_gen += 1
                    self._plan_cache.clear()
                    self._judgments.clear()
                elif key is not None and not isinstance(self._plan_cache.get(key), pa.Table):
                    self._keep(key, df)
                return df, key, gen

    def _judgment(
        self, text_key: tuple, query: str, db: str
    ) -> tuple[list[Table], dict, bool, bool]:
        """(referenced tables, their time ranges, command?, cacheable?)
        for ``query`` on ``db``: a memoized judgment while the tables it
        reached keep their shapes, else a fresh one. A text whose
        references can't be read — it does not analyze against the
        schema-only relations, or a command hides its input — reads every
        table of ``db`` unpruned and counts as a command. Caller holds
        ``_sql_lock``."""
        hit = self._judgments.get(text_key)
        if hit is not None:
            shapes, bounds = hit
            refs = [self.catalog.get(db, name) for name, _ in shapes]
            if all(t is not None and _table_shape(t) == s for t, (_, s) in zip(refs, shapes)):
                self._judgments.move_to_end(text_key)
                return refs, bounds, False, True
        tables = self.catalog.tables(db)
        # taken before the analysis: a schema change racing it leaves a
        # memo entry that no longer matches, never a stale one that does
        shapes = [(t.name, _table_shape(t)) for t in tables]
        judged, bounds = self._analyze(query, tables)
        if judged is None or judged.refs is None:
            return tables, {}, True, False
        refs = [t for t in tables if t.name in judged.refs]
        if judged.cacheable:
            self._judgments[text_key] = (
                tuple(s for s in shapes if s[0] in judged.refs),
                bounds,
            )
            if len(self._judgments) > self._plan_cache_cap:
                self._judgments.popitem(last=False)
        return refs, bounds, judged.command, judged.cacheable
