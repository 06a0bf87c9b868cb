"""Engine-side probes for the traced run.

``install`` wraps the public callables of each layer at the place its
callers look them up, and ``summarize`` turns the recorded spans and
counters into the per-layer metrics. A Spark status-store poller and an
L1-backlog sampler run beside the workload while it is timed.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict

from perfbench.stats import median
from perfbench.spans import Tracer, by_name, overlap, self_times


class Counters:
    def __init__(self):
        self.lock = threading.Lock()
        self.n: dict[str, float] = defaultdict(float)
        self.lists: dict[str, list] = defaultdict(list)
        self.tls = threading.local()
        self.seen_frames: dict[int, object] = {}
        self.raw_load = None  # PartitionIndex.load as it was before install()

    def add(self, key: str, v: float = 1) -> None:
        with self.lock:
            self.n[key] += v

    def push(self, key: str, v) -> None:
        with self.lock:
            self.lists[key].append(v)


def install(tracer: Tracer, c: Counters) -> None:
    import quackpipe_spark.api as api
    import quackpipe_spark.plans.compactor as cm
    import quackpipe_spark.plans.index as ix
    import quackpipe_spark.query as qm
    import quackpipe_spark.sources.lineproto as lp
    import quackpipe_spark.writer as wr
    from pyspark.sql.classic.dataframe import DataFrame
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.ingest import IngestService

    c.raw_load = ix.PartitionIndex.__dict__["load"].__func__
    clock = tracer.clock

    def on_ingest_lines(promises, args, kwargs, end):
        c.push("batches_per_request", len(promises))
        if not promises:
            c.push("request_wait", 0.0)
            return
        state = {"left": len(promises), "last": end}
        lock = threading.Lock()

        def done(_f):
            with lock:
                state["last"] = max(state["last"], clock())
                state["left"] -= 1
                if state["left"] == 0:
                    c.push("request_wait", state["last"] - end)

        for p in promises:
            p.add_done_callback(done)

    def on_parse(batches, args, kwargs, end):
        c.add("lineproto.lines", sum(len(next(iter(b.data.values()))) if b.data else 0 for b in batches))

    def on_store(promise, args, kwargs, end):
        promise.add_done_callback(lambda _f: c.push("ack_wait", clock() - end))

    def on_flush(written, args, kwargs, end):
        if written:
            c.add("ingest.flushes")
            c.add("ingest.rows_flushed", written)
            if (args[1] if len(args) > 1 else kwargs.get("key")) is not None:
                c.add("ingest.size_flushes")

    def on_write(files, args, kwargs, end):
        c.add("writer.files_written", len(files))
        c.add("writer.bytes_written", sum(os.path.getsize(f) for f in files if os.path.exists(f)))

    def on_load(idx, args, kwargs, end):
        if getattr(c.tls, "counting", False):
            c.tls.live += len(idx.files)

    def on_sql(df, args, kwargs, end):
        with c.lock:
            hit = id(df) in c.seen_frames
            c.seen_frames[id(df)] = df
        c.add("query.plan_hits" if hit else "query.plan_misses")

    def on_plans(plans, args, kwargs, end):
        idx = kwargs.get("idx")
        for p in plans:
            if p.promote:
                c.add("compactor.promotions")
            else:
                c.add("compactor.merges")
                if idx is not None:
                    c.add("compactor.bytes_rewritten", sum(idx.files[f].size_bytes for f in p.files if f in idx.files))

    tracer.patch(api, "ingest_lines", "api.ingest_lines", on_ingest_lines)
    tracer.patch(lp, "parse_lines", "lineproto.parse_lines", on_parse)
    tracer.patch(IngestService, "store", "ingest.store", on_store)
    tracer.patch(IngestService, "validate_schema", "ingest.validate_schema")
    tracer.patch(IngestService, "flush", "ingest.flush", on_flush)
    tracer.patch(wr.HiveWriter, "write_columnar", "writer.write_columnar", on_write)
    tracer.patch(Catalog, "update_schema", "catalog.update_schema")
    tracer.patch(ix.PartitionIndex, "load", "index.load", on_load)
    tracer.patch(ix.PartitionIndex, "save", "index.save")
    for mod, attr in ((ix, "fsync_dir"), (ix, "fsync_file"), (wr, "fsync_file"), (cm, "_fsync_file"), (cm, "_fsync_dir")):
        tracer.patch(mod, attr, "index.fsync")
    tracer.patch(qm, "rewrite_sql", "dialect.rewrite_sql")
    tracer.patch(qm, "extract_time_bounds_per_table", "query.bounds")
    tracer.patch(qm.QueryEngine, "sql", "query.sql", on_sql)
    tracer.patch(cm.Compactor, "run_once", "compactor.run_once")
    tracer.patch(cm, "plan_merges", "compactor.plan_merges", on_plans)

    table_files = qm.QueryEngine.table_files
    traced_files = tracer.wrap("query.table_files", table_files)

    def counted_table_files(self, table, lo=None, hi=None):
        if not tracer.enabled:
            return table_files(self, table, lo, hi)
        c.tls.counting, c.tls.live = True, 0
        try:
            out = traced_files(self, table, lo, hi)
        finally:
            c.tls.counting = False
        c.add("query.files_returned", len(out))
        c.add("query.files_live", c.tls.live)
        return out

    qm.QueryEngine.table_files = counted_table_files
    tracer._undo.append((qm.QueryEngine, "table_files", table_files))

    to_iter = DataFrame.toLocalIterator

    def streamed(self, *a, **k):
        if not tracer.enabled:
            return to_iter(self, *a, **k)
        start = clock()
        it = to_iter(self, *a, **k)

        def gen():
            try:
                yield from it
            finally:
                tracer.record("api.query.stream", start, clock())

        return gen()

    DataFrame.toLocalIterator = streamed
    tracer._undo.append((DataFrame, "toLocalIterator", to_iter))


class Toggler(threading.Thread):
    """Flips tracing on and off in fixed windows counted from ``origin``
    (a CLOCK_MONOTONIC reading shared with the load generator): even
    windows traced, odd windows not. The generator classifies each
    request by the same rule, which gives the traced-vs-untraced
    comparison inside one run."""

    def __init__(self, tracer: Tracer, origin: float, window_s: float):
        super().__init__(daemon=True, name="perfbench-toggler")
        self.tracer, self.origin, self.window_s = tracer, origin, window_s
        self.stop_evt = threading.Event()

    def run(self) -> None:
        while not self.stop_evt.is_set():
            k = int((time.monotonic() - self.origin) // self.window_s)
            self.tracer.enabled = k >= 0 and k % 2 == 0
            nxt = self.origin + (k + 1) * self.window_s
            self.stop_evt.wait(max(0.001, nxt - time.monotonic()))
        self.tracer.enabled = False


class SparkPoller(threading.Thread):
    """Totals of the stages and jobs that ran after ``baseline()``, read
    from the JVM status store every ``every_s`` seconds so nothing ages
    out of its retention limit (1000 stages by default)."""

    FIELDS = ("executorRunTime", "executorCpuTime", "inputBytes", "shuffleReadBytes",
              "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled")

    def __init__(self, spark, every_s: float = 1.0):
        super().__init__(daemon=True, name="perfbench-spark-poller")
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.every_s = every_s
        self.stop_evt = threading.Event()
        self.tot: dict[str, float] = defaultdict(float)
        self.lock = threading.Lock()
        self.first_job = self.last_job = self.final_stage = -1

    def _empty(self):
        jvm = self.sc._jvm
        return jvm.java.util.ArrayList(), self.sc._gateway.new_array(jvm.double, 0)

    def _last_job(self) -> int:
        jobs = self.store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.length() else -1

    def _max_stage(self) -> int:
        lst, q = self._empty()
        stages = self.store.stageList(lst, False, False, q, lst)
        return stages.apply(0).stageId() if stages.length() else -1

    def baseline(self) -> None:
        self.first_job = self.last_job = self._last_job()
        self.final_stage = self._max_stage()

    def poll(self) -> None:
        with self.lock:
            lst, q = self._empty()
            stages = self.store.stageList(lst, False, False, q, lst)
            pending = []
            i, n = 0, stages.length()
            while i < n:
                s = stages.apply(i)
                i += 1
                sid = s.stageId()
                if sid <= self.final_stage:
                    break
                status = str(s.status())
                if status in ("ACTIVE", "PENDING"):
                    pending.append(sid)
                    continue
                self.tot["stages"] += 1
                if status == "COMPLETE":
                    self.tot["tasks"] += s.numCompleteTasks()
                    for f in self.FIELDS:
                        self.tot[f] += getattr(s, f)()
            top = stages.apply(0).stageId() if n else self.final_stage
            self.final_stage = (min(pending) - 1) if pending else max(top, self.final_stage)
            self.last_job = max(self.last_job, self._last_job())

    def run(self) -> None:
        while not self.stop_evt.wait(self.every_s):
            self.poll()

    def finish(self) -> dict[str, float]:
        self.stop_evt.set()
        if self.is_alive():
            self.join()
        self.poll()
        out = dict(self.tot)
        out["jobs"] = max(0, self.last_job - self.first_job)
        return out


def l1_backlog(catalog, load) -> int:
    """Live level-1 files over every table, read with the untraced ``load``."""
    from quackpipe_spark.plans.compactor import file_level
    from quackpipe_spark.plans.index import PartitionIndex

    n = 0
    for t in catalog.tables():
        for pdir in t.partition_dirs():
            n += sum(1 for f in load(PartitionIndex, pdir).files if file_level(f) == 1)
    return n


class BacklogSampler(threading.Thread):
    def __init__(self, catalog, load, every_s: float = 0.5):
        super().__init__(daemon=True, name="perfbench-backlog")
        self.catalog, self.load, self.every_s = catalog, load, every_s
        self.samples: list[int] = []
        self.stop_evt = threading.Event()

    def run(self) -> None:
        while not self.stop_evt.wait(self.every_s):
            try:
                self.samples.append(l1_backlog(self.catalog, self.load))
            except OSError:
                pass  # a partition swapped mid-listing: skip this sample

    def finish(self) -> float:
        self.stop_evt.set()
        self.join()
        return sum(self.samples) / len(self.samples) if self.samples else 0.0


def summarize(tracer: Tracer, c: Counters) -> dict[str, float]:
    """Engine-side per-layer metrics from the recorded spans/counters."""
    spans = tracer.spans
    st = self_times(spans)
    named = by_name(spans)
    cnt = lambda name: len(named.get(name, ()))  # noqa: E731
    dur = lambda name: sum(s.end - s.start for s in named.get(name, ()))  # noqa: E731
    n = c.n
    lines = n.get("lineproto.lines", 0.0)
    flushes = n.get("ingest.flushes", 0.0)
    sql_ms = [(s.end - s.start) * 1000 for s in named.get("query.sql", ())]
    hits, misses = n.get("query.plan_hits", 0.0), n.get("query.plan_misses", 0.0)
    merges_busy = [(s.start, s.end) for s in named.get("compactor.run_once", ())]
    query_iv = [(s.start, s.end) for s in (*named.get("query.sql", ()), *named.get("api.query.stream", ()))]
    q_total = sum(e - s for s, e in query_iv)
    acks = c.lists.get("ack_wait", [])
    flushed_bytes = n.get("writer.bytes_written", 0.0)
    return {
        "lineproto.lines": lines,
        "lineproto.busy_s": st.get("lineproto.parse_lines", 0.0),
        "lineproto.us_per_line": dur("lineproto.parse_lines") / lines * 1e6 if lines else 0.0,
        "lineproto.batches_per_request": (sum(c.lists["batches_per_request"]) / len(c.lists["batches_per_request"])
                                          if c.lists.get("batches_per_request") else 0.0),
        "ingest.validate_s": st.get("ingest.validate_schema", 0.0),
        "ingest.store_s": st.get("ingest.store", 0.0),
        "ingest.flushes": flushes,
        "ingest.flush_s": st.get("ingest.flush", 0.0),
        "ingest.rows_per_flush": n.get("ingest.rows_flushed", 0.0) / flushes if flushes else 0.0,
        "ingest.ack_wait_ms": median(acks) * 1000 if acks else 0.0,
        "ingest.size_flush_frac": n.get("ingest.size_flushes", 0.0) / flushes if flushes else 0.0,
        "writer.write_s": st.get("writer.write_columnar", 0.0),
        "writer.files_written": n.get("writer.files_written", 0.0),
        "writer.bytes_written": flushed_bytes,
        "writer.files_per_flush": n.get("writer.files_written", 0.0) / flushes if flushes else 0.0,
        "index.loads": cnt("index.load"),
        "index.load_s": st.get("index.load", 0.0),
        "index.saves": cnt("index.save"),
        "index.save_s": st.get("index.save", 0.0),
        "index.fsyncs": cnt("index.fsync"),
        "index.fsync_s": st.get("index.fsync", 0.0),
        "catalog.update_schema_s": st.get("catalog.update_schema", 0.0),
        "dialect.rewrite_s": st.get("dialect.rewrite_sql", 0.0),
        "query.sql_calls": cnt("query.sql"),
        "query.sql_s": st.get("query.sql", 0.0),
        "query.sql_ms_p50": median(sql_ms) if sql_ms else 0.0,
        "query.bounds_s": st.get("query.bounds", 0.0),
        "query.table_files_s": st.get("query.table_files", 0.0),
        "query.plan_cache_hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
        "query.files_scanned_ratio": (n.get("query.files_returned", 0.0) / n["query.files_live"]
                                      if n.get("query.files_live") else 0.0),
        "compactor.runs": cnt("compactor.run_once"),
        "compactor.busy_s": dur("compactor.run_once"),
        "compactor.merges": n.get("compactor.merges", 0.0),
        "compactor.promotions": n.get("compactor.promotions", 0.0),
        "compactor.bytes_rewritten": n.get("compactor.bytes_rewritten", 0.0),
        "compactor.write_amp": ((flushed_bytes + n.get("compactor.bytes_rewritten", 0.0)) / flushed_bytes
                                if flushed_bytes else 0.0),
        "compactor.overlap_query_frac": overlap(query_iv, merges_busy) / q_total if q_total else 0.0,
        "_api.ingest_lines_s": dur("api.ingest_lines"),
        "_api.ingest_lines_n": cnt("api.ingest_lines"),
        "_request_wait_s": sum(c.lists.get("request_wait", [])),
        "_query.sql_total_s": dur("query.sql"),
        "_query.stream_s": dur("api.query.stream"),
    }
