"""The engine process: ``get_spark`` + ``GigapiServer`` (or the SQL
registry), driven by JSON commands on stdin.

Replies go to stdout as one line each, prefixed with ``@@perfbench`` so
that anything else the JVM or Spark prints there is ignored. Started by
``run.py`` as ``python perfbench/engine.py <checkout> <workdir>``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor

MARK = "@@perfbench "


def send(obj) -> None:
    sys.stdout.write(MARK + json.dumps(obj, default=str) + "\n")
    sys.stdout.flush()


def _engine_tree() -> list[int]:
    """This process and every process below it (the JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        ppid = int(raw[raw.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _proc_comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mb() -> float:
    """VmHWM of this process plus every JVM below it, in MB."""
    total_kb = 0
    for p in _engine_tree():
        if p != os.getpid() and _proc_comm(p) != "java":
            continue
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def cpu_s() -> float:
    """User + system CPU seconds of the engine process tree. Time the
    hypervisor steals from the machine is not in it, unlike wall time."""
    ticks = 0
    for p in _engine_tree():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += int(fields[11]) + int(fields[12])  # utime, stime
    return ticks / os.sysconf("SC_CLK_TCK")


def _rows(df) -> list[list]:
    return [list(r) for r in df.collect()]


class Engine:
    def __init__(self, work: str):
        self.work = work
        from quackpipe_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.server = None
        self.tracer = self.counters = None
        self.fixture_layers: dict = {}
        self.threads: list = []
        self.poller = None

    # -- HTTP workloads -------------------------------------------------

    def _build_fixture(self, cfg) -> dict:
        """The static ``cpu`` table for serving, oldest hours first: one
        flush per hour (as compaction left them), then ``compact_hours``
        hours flushed twice each and merged by ``Compactor.run_once``, then
        the newest ``l1_hours`` hours as several L1 flush files each."""
        import pyarrow as pa
        import pyarrow.compute as pc

        from quackpipe_spark.api import GigapiServer
        from quackpipe_spark.plans.compactor import Compactor

        t0 = time.perf_counter()
        with pa.ipc.open_file(cfg["fixture"]) as f:
            table = f.read_all()
        ts = table["__timestamp"]
        srv = GigapiServer(self.spark, cfg["root"], port=0)
        hour = 3600 * 10**9
        start = cfg["t_start"]

        def load(lo, hi, files):
            """Rows in [lo, hi) as ``files`` flushes, each spanning every hour
            of the range: ``files`` files per hourly partition."""
            part = table.filter(pc.and_(pc.greater_equal(ts, lo), pc.less(ts, hi)))
            for k in range(files):
                srv.ingest.store("bench", "cpu", part.take(list(range(k, part.num_rows, files))).to_pydict())
                srv.ingest.flush()

        b1 = start + (cfg["hours"] - cfg["l1_hours"] - cfg["compact_hours"]) * hour
        b2 = b1 + cfg["compact_hours"] * hour
        load(start, b1, 1)
        load(b1, b2, 2)
        t1 = time.perf_counter()
        Compactor(self.spark, srv.catalog.get("bench", "cpu")).run_once([1])
        t2 = time.perf_counter()
        load(b2, start + cfg["hours"] * hour, cfg["l1_files_per_hour"])
        return {"fixture_s": time.perf_counter() - t0, "fixture_compact_s": t2 - t1}

    def setup(self, cfg) -> dict:
        from quackpipe_spark.api import GigapiServer
        from quackpipe_spark.ingest import ingest_lines

        self.spark.range(10).count()  # first-job JIT cost stays out of setup_s
        fixture = {}
        if cfg.get("fixture"):
            if cfg.get("trace"):
                # the compactor layer of a read-only workload: traced while
                # the fixture is flushed and compacted, before timing
                from perfbench import probes
                from perfbench.spans import Tracer

                tracer, counters = Tracer(), probes.Counters()
                probes.install(tracer, counters)
                tracer.enabled = True
                fixture = self._build_fixture(cfg)
                tracer.enabled = False
                tracer.unpatch()
                self.fixture_layers = {
                    k: v for k, v in probes.summarize(tracer, counters).items() if k.startswith("compactor.")
                }
            else:
                fixture = self._build_fixture(cfg)
        times = []
        for rep in range(cfg["setup_reps"]):
            root = cfg["root"] if cfg.get("fixture") else os.path.join(self.work, f"root{rep}")
            last = rep == cfg["setup_reps"] - 1
            t0 = time.perf_counter()
            srv = GigapiServer(self.spark, root, port=0, merge_timeout_s=cfg.get("merge_timeout_s"))
            if cfg.get("flush_rows"):
                srv.ingest.max_buffered_rows = cfg["flush_rows"]
            for name in cfg.get("time_ordered", ()):
                srv.catalog.get_or_create("bench", name, order_by=["time"])
            srv.start()
            if cfg.get("warm_body"):
                promises = ingest_lines(srv.ingest, cfg["warm_body"], db="warm")
                srv.ingest.flush()
                for p in promises:
                    p.result(60)
            srv.query.sql(cfg["warm_query"], db=cfg["warm_db"]).collect()
            times.append(time.perf_counter() - t0)
            if last:
                self.server = srv
            else:
                srv.stop()
        t0 = time.perf_counter()
        # fill the plan cache before timing, four at a time like the clients
        with ThreadPoolExecutor(4) as pool:
            list(pool.map(lambda text: self.server.query.sql(text, db="bench").collect(), cfg.get("prime", ())))
        prime_s = time.perf_counter() - t0
        srv = self.server
        policy = {  # as the server holds them, not as the benchmark asked
            "max_buffered_rows": srv.ingest.max_buffered_rows,
            "flush_timer_s": srv.ingest.save_timeout_s,
            "merges": srv.merges_enabled,
            "merge_timeout_s": srv.merge_timeout_s,
        }
        return {"port": srv._httpd.server_address[1], "setup_s": times, "prime_s": prime_s, "policy": policy,
                **fixture}

    def start(self, cfg) -> dict:
        self.cpu0 = cpu_s()
        if cfg.get("trace"):
            from perfbench import probes
            from perfbench.spans import Tracer

            self.tracer, self.counters = Tracer(), probes.Counters()
            probes.install(self.tracer, self.counters)
            self.poller = probes.SparkPoller(self.spark)
            self.poller.baseline()
            toggler = probes.Toggler(self.tracer, cfg["origin"], cfg["window_s"])
            backlog = probes.BacklogSampler(self.server.catalog, self.counters.raw_load)
            self.threads = [toggler, backlog]
            for t in (toggler, backlog, self.poller):
                t.start()
        return {"ok": True}

    def finish(self, cfg) -> dict:
        out: dict = {"engine_cpu_s": cpu_s() - self.cpu0}
        if self.tracer is not None:
            from perfbench import probes

            toggler, backlog = self.threads
            toggler.stop_evt.set()
            toggler.join()
            self.tracer.enabled = False
            spark_tot = self.poller.finish()
            out["l1_backlog_files"] = backlog.finish()
        self.server.stop()  # final flush; joins the merge ticker
        if self.tracer is not None:
            self.tracer.unpatch()
            out["layers"] = probes.summarize(self.tracer, self.counters)
            if not out["layers"]["compactor.runs"]:
                out["layers"].update(self.fixture_layers)
            out["spark"] = spark_tot
        qe, cat = self.server.query, self.server.catalog
        out["counts"] = {
            t.name: qe.sql(f"SELECT count(*) AS n FROM {t.name}", db="bench").collect()[0]["n"]
            for t in cat.tables("bench")
        }
        cpu = cat.get("bench", "cpu")
        out["cpu_files"] = qe.table_files(cpu) if cpu else []
        out["checks"] = [_rows(qe.sql(text, db="bench")) for text in cfg.get("check_queries", [])]
        from quackpipe_spark.plans.index import PartitionIndex

        files = rows = parts = nbytes = 0
        for t in cat.tables("bench"):
            for pdir in t.partition_dirs():
                idx = PartitionIndex.load(pdir)
                parts += 1
                files += len(idx.files)
                rows += sum(e.row_count for e in idx.files.values())
                nbytes += sum(e.size_bytes for e in idx.files.values())
        out["storage"] = {"files": files, "partitions": parts, "rows": rows, "bytes": nbytes}
        out["peak_rss_mb"] = peak_rss_mb()
        return out

    # -- SQL registry ---------------------------------------------------

    def registry(self, cfg) -> dict:
        import __spark_entry__ as entry
        from quackpipe_spark.workloads import all_prebuilds

        spark, sf = self.spark, cfg["data_dir"]
        qs, prebuilds = entry.queries(), all_prebuilds()
        names = cfg["names"]
        spark.range(10).count()
        tables = [os.path.join(sf, f) for f in sorted(os.listdir(sf)) if f.endswith(".parquet")]
        setup = []
        for _ in range(cfg["setup_reps"]):
            t0 = time.perf_counter()
            spark.catalog.clearCache()
            for p in tables:  # open every table: footer and schema reads
                spark.read.parquet(p).schema
            setup.append(time.perf_counter() - t0)
        cold_s = {}
        for n in names:  # first executions (JIT, Python workers) stay untimed
            t0 = time.perf_counter()
            spark.catalog.clearCache()
            if n in prebuilds:
                prebuilds[n](spark, sf)
            qs[n](spark, sf).count()
            cold_s[n] = time.perf_counter() - t0

        trace = cfg.get("trace")
        sc = spark.sparkContext
        poller = None
        if trace:
            from perfbench.probes import SparkPoller

            poller = SparkPoller(spark)
            poller.baseline()
            poller.start()
        times: dict[str, list[float]] = {n: [] for n in names}
        counts: dict[str, int] = {}
        actions = []  # (sweep, name, seconds, traced, job_ids)
        deadline = time.perf_counter() + cfg["seconds"]
        cpu0 = cpu_s()
        sweep = 0
        while sweep < cfg["min_sweeps"] or time.perf_counter() < deadline:
            for i, n in enumerate(names):
                # each query alternates traced/untraced from sweep to sweep,
                # half of them starting traced, so warm-up drift cancels
                traced = trace and (i + sweep) % 2 == 0
                spark.catalog.clearCache()
                if n in prebuilds:
                    prebuilds[n](spark, sf)
                group = f"pb{sweep}-{n}"
                if traced:
                    sc.setJobGroup(group, n)
                t0 = time.perf_counter()
                counts[n] = qs[n](spark, sf).count()
                dt = time.perf_counter() - t0
                times[n].append(dt)
                actions.append((sweep, n, dt, traced, list(sc.statusTracker().getJobIdsForGroup(group)) if traced else []))
                if traced:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            sweep += 1
        out = {"times": times, "counts": counts, "setup_s": setup, "cold_s": cold_s, "sweeps": sweep,
               "engine_cpu_s": cpu_s() - cpu0}
        if trace:
            from perfbench.spans import union_length

            out["spark"] = poller.finish()
            store = sc._jsc.sc().statusStore()
            covered = 0.0
            for _, _, dt, _, jobs in actions:
                iv = []
                for j in jobs:
                    jd = store.job(j)
                    s, e = jd.submissionTime(), jd.completionTime()
                    if s.isDefined() and e.isDefined():
                        iv.append((s.get().getTime() / 1000.0, e.get().getTime() / 1000.0))
                covered += min(dt, union_length(iv))
            out["job_covered_s"] = covered
            out["actions"] = [(n, dt, traced) for _, n, dt, traced, _ in actions]
            cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
            li = spark.read.parquet(os.path.join(sf, "lineitem.parquet"))
            shapes = {
                "empty_job": lambda: spark.range(10).count(),
                "parquet_count": lambda: li.count(),
                "one_exchange_agg": lambda: li.groupBy("l_orderkey").count().count(),
                "one_python_stage": lambda: spark.range(100_000).mapInPandas(lambda it: it, "id long").count(),
                "one_python_stage_shuffled": lambda: spark.range(100_000)
                .repartition(cpus)
                .mapInPandas(lambda it: it, "id long")
                .count(),
            }
            floor: dict[str, list[float]] = {k: [] for k in shapes}
            for _ in range(3):
                for k, fn in shapes.items():
                    t0 = time.perf_counter()
                    fn()
                    floor[k].append(time.perf_counter() - t0)
            out["floor"] = floor
        out["peak_rss_mb"] = peak_rss_mb()
        return out

    def info(self) -> dict:
        import duckdb
        import pyspark

        return {
            "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "default_parallelism": self.spark.sparkContext.defaultParallelism,
            "master": self.spark.sparkContext.master,
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
        }


def main() -> int:
    root, work = sys.argv[1], sys.argv[2]
    sys.path[0] = root  # not perfbench/: its module names must not shadow others
    os.chdir(work)
    eng = Engine(work)
    send({"ready": True, **eng.info()})
    for line in sys.stdin:
        cmd = json.loads(line)
        name = cmd.pop("cmd")
        if name == "exit":
            break
        try:
            send(getattr(eng, name)(cmd))
        except Exception as e:  # report, then let the generator decide
            import traceback

            traceback.print_exc()
            send({"error": f"{type(e).__name__}: {e}"})
    if eng.server is not None and eng.server._httpd is not None:
        eng.server.stop()
    eng.spark.stop()
    shutil.rmtree(os.path.join(work, "spark-local"), ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
