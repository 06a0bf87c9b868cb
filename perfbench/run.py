"""Lakehouse benchmark: one command, four workloads, checked outputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The engine runs in its own process
(``perfbench/engine.py``: ``get_spark`` + ``GigapiServer``, or the SQL
registry); this process generates every input from ``--seed`` before
timing starts, drives the load with at most ``nproc`` threads and
connections, checks the answers, and prints the metrics. The last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). Lines before it are a human-readable report. See
``perfbench/README.md`` for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import http.client
import json
import math
import os
import random
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[0] = os.path.dirname(HERE)  # the checkout root, not perfbench/

from perfbench import gen  # noqa: E402
from perfbench.metrics import END_TO_END, FLOOR_SHAPES, PER_LAYER, REGISTRY_QUERIES  # noqa: E402
from perfbench.stats import latency_summary, median, percentile  # noqa: E402

MARK = "@@perfbench "
NPROC = len(os.sched_getaffinity(0))
TRACE_WINDOW_S = 1.0
DRIVER_MEM = "2g"
# the first rep carries one-off JIT work; the median of four is the mean
# of the middle two, so neither it nor one slow rep sets the figure
SETUP_REPS = 4
RUN_TIMEOUT_S = 130  # the contract allows 180 s per run; closing takes up to ~50 s

# Workload shapes. ``scale`` (tests only) shrinks the data, not the run.
WORKLOADS = {
    "lp_ingest": dict(
        why="write path only: parse, buffer, flush and index publish; the query layer idles",
        # four clients: each vCPU's speed drifts by up to 1.8x for seconds
        # at a time, and with one handler thread a run's latency followed
        # the one vCPU it ran on (five-seed spread 0.24). Four threads take
        # turns at the interpreter lock on all four vCPUs, which averages
        # them (spread 0.10 on the same seeds)
        clients=4, lines_per_body=1000, body_span_min=3, pool=500, merges="off",
    ),
    "ts_serve": dict(
        why="read path only: rewrite, pruning, index loads, plan cache and Spark execution",
        # four clients, not the design's two: twice the ad-hoc samples for
        # their median, and planning spread over all four vCPUs (ad-hoc
        # median spread 0.14 against 0.23 with two, five seeds each)
        clients=4, adhoc_every=5, adhoc_pool=600,
        hours=16, rows_per_hour=6000, compact_hours=3, l1_hours=3, l1_files_per_hour=3, merges="off",
    ),
    "ingest_serve_compact": dict(
        why="writes beside reads with the merge ticker on: flushes churn file lists, compaction takes CPU",
        writers=2, writer_interval_s=1.0, lines_per_body=2500, body_span_min=15,
        dash_clients=2, merges="on", merge_timeout_s=0.5, pool=40,
    ),
    "sql_registry": dict(
        why="operators and workloads modules: registry queries, count action, clearCache per rep, interleaved sweeps",
        queries=sum(len(v) for v in REGISTRY_QUERIES.values()),
        # op_ms takes each query's best rep; slow runs that stopped after two
        # sweeps read about 20% higher than runs with three
        min_sweeps=3,
    ),
}


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat: how much CPU the hypervisor
    took from this machine, reported so slow runs can be told apart."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def die(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# --- engine process ----------------------------------------------------


class EngineProc:
    def __init__(self, root: str, work: str, env: dict):
        self.log = open(os.path.join(work, "engine.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine.py"), root, work],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            env=env, text=True, start_new_session=True,
        )

    def recv(self, timeout: float = 170.0) -> dict:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(f"engine exited (rc={self.proc.poll()}); see engine.log")
            if line.startswith(MARK):
                reply = json.loads(line[len(MARK):])
                if "error" in reply:
                    raise RuntimeError(f"engine: {reply['error']}")
                return reply
        raise TimeoutError("engine did not answer")

    def call(self, cmd: str, **cfg) -> dict:
        self.proc.stdin.write(json.dumps({"cmd": cmd, **cfg}) + "\n")
        self.proc.stdin.flush()
        return self.recv()

    def close(self) -> None:
        """Stop the engine and every process below it, and wait for them."""
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write(json.dumps({"cmd": "exit"}) + "\n")
                self.proc.stdin.flush()
                self.proc.wait(30)
        except (OSError, subprocess.TimeoutExpired, ValueError):
            pass
        pgid = self.proc.pid
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                break
            for _ in range(50):
                if not _group_alive(pgid):
                    break
                time.sleep(0.1)
        try:
            self.proc.wait(10)
        except subprocess.TimeoutExpired:
            pass
        self.log.close()


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            fields = raw[raw.rindex(")") + 2:].split()
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def engine_env(root: str, work: str, workload: str) -> dict:
    """The pinned engine environment: cores, driver memory, local dirs and
    temp dirs inside the checkout, UI off, merges per workload, and the
    checkout importable by Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(NPROC),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_UI="0",
        SPARK_GRAFT_CONF=(
            # the serial collector sizes the heap by live data, so peak RSS
            # follows the program; G1 grows it with GC time, which follows
            # the machine's load (runs differed by 40%)
            f"spark.driver.extraJavaOptions=-XX:+UseSerialGC -Djava.io.tmpdir={tmp} -XX:-UsePerfData;"
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"
        ),
        TMPDIR=tmp,
        TZ="UTC",
        PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        PYTHONHASHSEED="0",
    )
    env.pop("NO_MERGES", None)
    env.pop("MERGE_TIMEOUT_S", None)
    if WORKLOADS[workload].get("merges") == "off":
        env["NO_MERGES"] = "1"
    return env


# --- HTTP load -----------------------------------------------------------


class Op:
    __slots__ = ("kind", "t0", "t1", "due", "ok", "rows")

    def __init__(self, kind, t0, t1, ok, due=None, rows=0):
        self.kind, self.t0, self.t1, self.ok, self.due, self.rows = kind, t0, t1, ok, due, rows

    @property
    def latency(self) -> float:
        return self.t1 - (self.due if self.due is not None else self.t0)


def post(port: int, path: str, body: bytes, ctype: str) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("POST", path, body=body, headers={"Content-Type": ctype})
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def query_ok(status: int, body: bytes) -> bool:
    if status != 200:
        return False
    try:
        doc = json.loads(body)
    except ValueError:
        return False
    return isinstance(doc, dict) and "results" in doc and "error" not in doc


class Load:
    """The load threads of one HTTP workload; ``ops`` collects every request."""

    def __init__(self, port: int, t_start: float, seconds: float):
        self.port, self.t_start, self.t_stop = port, t_start, t_start + seconds
        self.ops: list[Op] = []
        self.lock = threading.Lock()
        self.threads: list[threading.Thread] = []
        self.next_body = 0
        self.acked: list[int] = []  # body indexes acked 2xx

    def add(self, target, *args) -> None:
        self.threads.append(threading.Thread(target=target, args=args, daemon=True))

    def _record(self, op: Op) -> None:
        with self.lock:
            self.ops.append(op)

    def _wait_start(self) -> None:
        time.sleep(max(0.0, self.t_start - time.monotonic()))

    def closed_writer(self, bodies) -> None:
        self._wait_start()
        while time.monotonic() < self.t_stop:
            with self.lock:
                k = self.next_body
                self.next_body += 1
            body = bodies[k % len(bodies)]
            t0 = time.monotonic()
            status, _ = post(self.port, "/write?db=bench", body.text, "text/plain")
            ok = 200 <= status < 300
            self._record(Op("write", t0, time.monotonic(), ok, rows=body.lines if ok else 0))
            if ok:
                with self.lock:
                    self.acked.append(k % len(bodies))

    def open_writer(self, bodies, interval_s: float, offset_s: float, stride: int, first: int) -> None:
        """Sends request i when it is due (t_start + offset + i·interval);
        latency counts from the due time, so a stall shows on later requests."""
        i = 0
        while True:
            due = self.t_start + offset_s + i * interval_s
            if due >= self.t_stop:
                return
            time.sleep(max(0.0, due - time.monotonic()))
            k = first + i * stride
            body = bodies[k % len(bodies)]
            t0 = time.monotonic()
            status, _ = post(self.port, "/write?db=bench", body.text, "text/plain")
            ok = 200 <= status < 300
            self._record(Op("write", t0, time.monotonic(), ok, due=due, rows=body.lines if ok else 0))
            if ok:
                with self.lock:
                    self.acked.append(k % len(bodies))
            i += 1

    def query_client(self, dash, adhoc, adhoc_every: int, seed: int, adhoc_next) -> None:
        """Closed loop: every ``adhoc_every``-th request is the next ad-hoc
        text (0: never), the others a seeded draw from the dashboard set."""
        rng = random.Random(seed)
        self._wait_start()
        i = 0
        while time.monotonic() < self.t_stop:
            i += 1
            if adhoc_every and i % adhoc_every == 0:
                q = adhoc[adhoc_next() % len(adhoc)]
            else:
                q = dash[rng.randrange(len(dash))]
            t0 = time.monotonic()
            status, body = post(self.port, "/query?db=bench", json.dumps({"query": q.text}).encode(), "application/json")
            self._record(Op(q.kind, t0, time.monotonic(), query_ok(status, body)))

    def run(self) -> None:
        for t in self.threads:
            t.start()
        for t in self.threads:
            t.join()


# --- checks --------------------------------------------------------------


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def same_rows(a: list[list], b: list[list]) -> bool:
    """Order-insensitive row equality; numbers compare within 1e-6 relative."""
    if len(a) != len(b):
        return False
    key = lambda r: tuple((x is None, round(x, 6) if isinstance(x, float) else str(x)) for x in r)  # noqa: E731
    for ra, rb in zip(sorted(([_norm(x) for x in r] for r in a), key=key),
                      sorted(([_norm(x) for x in r] for r in b), key=key)):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, (int, float)) and isinstance(y, (int, float)) and not isinstance(x, bool):
                if not math.isclose(float(x), float(y), rel_tol=1e-6, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


def duck_check(files: list[str], queries, results) -> list[bool]:
    import duckdb

    con = duckdb.connect()
    if files:
        con.execute(f"CREATE VIEW cpu AS SELECT * FROM read_parquet({json.dumps(files)}, union_by_name=true)")
    out = []
    for q, got in zip(queries, results):
        try:
            want = [list(r) for r in con.execute(q.duck).fetchall()]
        except Exception as e:  # an empty table has no view: nothing to compare
            print(f"# duckdb: {type(e).__name__}: {e}", file=sys.stderr)
            out.append(False)
            continue
        out.append(same_rows(got, want))
    return out


# --- workloads ------------------------------------------------------------


class Result:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.checks_failed: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.report: dict[str, object] = {}
        self.phases: dict[str, float] = {}
        self._t = time.monotonic()
        self._steal = cpu_steal_ticks()

    def mark(self, phase: str) -> None:
        """Wall seconds since the previous mark, reported as ``phase_s``."""
        now = time.monotonic()
        self.phases[phase] = now - self._t
        self._t = now

    def steal_frac(self) -> float:
        steal, total = cpu_steal_ticks()
        return (steal - self._steal[0]) / max(1, total - self._steal[1])

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.checks_failed.append(name)


def window_of(t: float, origin: float) -> int:
    return int((t - origin) // TRACE_WINDOW_S)


def trace_split(ops, origin: float):
    """Ops wholly inside a traced (even) or an untraced (odd) window."""
    on, off = [], []
    for op in ops:
        w0, w1 = window_of(op.t0, origin), window_of(op.t1, origin)
        if w0 == w1:
            (on if w0 % 2 == 0 else off).append(op)
    return on, off


def run_http(name: str, args, eng: EngineProc, work: str, res: Result) -> None:
    cfg = WORKLOADS[name]
    seed, scale = args.seed, args.scale
    setup: dict = {"setup_reps": SETUP_REPS, "warm_db": "warm", "warm_query": "SELECT count(*) AS n FROM cpu"}
    warm = gen.lp_bodies(seed + 1, 1, 40, start_ns=gen.T0 - 30 * gen.HOUR)[0].text.decode()
    if name == "ts_serve":
        import pyarrow as pa

        rows = max(50, int(cfg["rows_per_hour"] * scale))
        fixture = gen.cpu_fixture(seed, cfg["hours"], rows)
        path = os.path.join(work, "fixture.arrow")
        with pa.ipc.new_file(path, fixture.schema) as w:
            w.write_table(fixture)
        t_end = gen.T0 + cfg["hours"] * gen.HOUR
        dash = gen.dashboard_queries(t_end)
        adhoc = gen.adhoc_queries(seed, cfg["adhoc_pool"], gen.T0, t_end)
        setup.update(fixture=path, root=os.path.join(work, "serve_root"), t_start=gen.T0, hours=cfg["hours"],
                     compact_hours=cfg["compact_hours"], l1_hours=cfg["l1_hours"],
                     l1_files_per_hour=cfg["l1_files_per_hour"], warm_db="bench", warm_query=dash[0].text,
                     prime=[q.text for q in dash])
    else:
        dash, adhoc = [], []
        lines = max(20, int(cfg["lines_per_body"] * scale))
        bodies = gen.lp_bodies(seed, cfg["pool"], lines, body_span_ns=cfg["body_span_min"] * gen.MIN)
        setup.update(warm_body=warm, merge_timeout_s=cfg.get("merge_timeout_s"))
        if name == "lp_ingest":
            # size trigger: clients x the smallest per-table share of a
            # request (mem and app are a quarter each); buffers are per table
            setup["flush_rows"] = cfg["clients"] * (lines // 4)
            # partitioned by the line-protocol timestamp, so a run spans
            # many hourly partitions (the default table is partitioned by
            # arrival time)
            setup["time_ordered"] = list(gen.MEASUREMENTS)
        else:
            span = 2 * int(args.seconds / cfg["writer_interval_s"] + 1) * cfg["body_span_min"] * gen.MIN
            dash = gen.dashboard_queries(gen.T0 + span, tcol="time")
    res.report["query_texts"] = {"dash": len(dash), "adhoc": len(adhoc)}
    res.mark("generate")
    info = eng.recv()  # engine ready (JVM started while inputs were generated)
    res.mark("engine_start")
    res.report["engine"] = info
    s = eng.call("setup", trace=bool(args.trace), **setup)
    res.mark("setup")
    res.report["setup_s"] = s["setup_s"]
    res.report["setup_detail"] = {k: v for k, v in s.items() if k not in ("port", "setup_s")}
    port = s["port"]
    t_start = time.monotonic() + 0.2
    eng.call("start", trace=bool(args.trace), origin=t_start, window_s=TRACE_WINDOW_S)
    load = Load(port, t_start, args.seconds)
    if name == "lp_ingest":
        for _ in range(cfg["clients"]):
            load.add(load.closed_writer, bodies)
    else:
        counter = iter(range(10**9))
        nxt = lambda: next(counter)  # noqa: E731  (shared across query clients)
        if name == "ts_serve":
            for c in range(cfg["clients"]):
                load.add(load.query_client, dash, adhoc, cfg["adhoc_every"], seed * 100 + c, nxt)
        else:
            w = cfg["writers"]
            for i in range(w):
                load.add(load.open_writer, bodies, cfg["writer_interval_s"], i * cfg["writer_interval_s"] / w, w, i)
            for c in range(cfg["dash_clients"]):
                load.add(load.query_client, dash, [], 0, seed * 100 + c, nxt)
    load.run()
    t_done = time.monotonic()
    res.mark("load")

    rng = random.Random(seed + 5)
    check_qs = (rng.sample(dash, 4) if dash else []) + (rng.sample(adhoc[:50], 4) if adhoc else [])
    fin = eng.call("finish", check_queries=[q.text for q in check_qs])
    res.mark("finish")

    ops = load.ops
    res.attempted += len(ops)
    res.failed += sum(1 for op in ops if not op.ok)
    window = [op for op in ops if op.t0 < load.t_stop]
    writes = [op for op in window if op.kind == "write" and op.ok]
    queries = [op for op in window if op.kind in ("dash", "adhoc") and op.ok]
    dash_ops = [op for op in queries if op.kind == "dash"]

    # correctness: counts read back through QueryEngine equal the acked rows
    if name != "ts_serve":
        want: dict[str, int] = {}
        for k in load.acked:
            for m, n in bodies[k].rows.items():
                want[m] = want.get(m, 0) + n
        for m, n in want.items():
            res.check(f"count:{m}", fin["counts"].get(m) == n)
        res.report["acked_rows"] = want
        res.report["read_back_rows"] = fin["counts"]
    if check_qs:
        for q, ok in zip(check_qs, duck_check(fin["cpu_files"], check_qs, fin["checks"])):
            res.check(f"duckdb:{q.kind}:{q.shape}", ok)

    st = fin["storage"]
    lat = lambda xs: [op.latency for op in xs]  # noqa: E731
    if name == "lp_ingest":
        main_ops = writes
        rate = sum(op.rows for op in writes if op.t1 <= load.t_stop) / args.seconds
        res.report["ingest_rows_per_s"] = rate
        per_s = [0] * math.ceil(args.seconds)
        for op in writes:
            if op.t1 <= load.t_stop:
                per_s[int(op.t1 - t_start)] += op.rows
        res.report["acked_rows_by_second"] = per_s
        res.report["ingest_ack"] = latency_summary(lat(writes))
    elif name == "ts_serve":
        main_ops = queries
        rate = sum(1 for op in queries if op.t1 <= load.t_stop) / args.seconds
        res.report["queries_per_s"] = rate
        res.report["dash_query"] = latency_summary(lat(dash_ops))
        res.report["adhoc_query"] = latency_summary(lat([op for op in queries if op.kind == "adhoc"]))
    else:
        main_ops = dash_ops
        rate = sum(1 for op in dash_ops if op.t1 <= load.t_stop) / args.seconds
        res.report["queries_per_s"] = rate
        res.report["dash_query"] = latency_summary(lat(dash_ops))
        res.report["ingest_ack"] = latency_summary(lat(writes))
        res.report["gen_late_p95_ms"] = (percentile([(op.t0 - op.due) * 1000 for op in writes], 95)
                                         if writes else 0.0)
    if st["rows"]:
        res.report["stored_bytes_per_row"] = st["bytes"] / st["rows"]
    res.report["storage"] = st
    res.report["peak_rss_mb"] = fin["peak_rss_mb"]
    if not main_ops:
        raise RuntimeError("no successful operation in the timed window")
    ms = [x * 1000 for x in lat(main_ops)]
    n_ok = sum(1 for op in ops if op.ok)
    res.report.update(op_p50_ms=percentile(ms, 50), op_p95_ms=percentile(ms, 95), throughput_per_s=rate)
    op_ms = percentile(ms, 50)
    if name == "ts_serve":
        # cache hits and misses are two modes about 4x apart: a pooled
        # median would sit in the hit mode and hide the ad-hoc path. The
        # mean counts each query by its time, so ad-hoc texts (1 in 5
        # requests) carry about 45% of it. It is also steadier than either
        # class's median: how four clients split their time between the
        # classes varies from run to run, the total does not (eight seeds:
        # spread 0.03, against 0.09 for the dashboard and 0.11 for the
        # ad-hoc median)
        op_ms = sum(ms) / len(ms)
    res.e2e = {
        "setup_s": median(s["setup_s"]),
        "op_ms": op_ms,
        "cpu_ms_per_op": fin["engine_cpu_s"] * 1000 / n_ok,
        "peak_rss_mb": fin["peak_rss_mb"],
    }
    res.report["op_samples"] = len(ms)
    res.report["window_s"] = t_done - t_start
    if args.trace:
        http_layers(res, fin, ops, t_start, st, name)


def http_layers(res: Result, fin: dict, ops, origin: float, st: dict, name: str) -> None:
    L = dict(fin["layers"])
    on, off = trace_split([op for op in ops if op.ok], origin)
    on_w = [op for op in on if op.kind == "write"]
    on_q = [op for op in on if op.kind != "write"]
    started_on = [op for op in ops if op.ok and window_of(op.t0, origin) % 2 == 0]
    mean = lambda xs: sum(xs) / len(xs) if xs else 0.0  # noqa: E731
    n_il = L.pop("_api.ingest_lines_n")
    il_s, wait_s = L.pop("_api.ingest_lines_s"), L.pop("_request_wait_s")
    sql_s, stream_s = L.pop("_query.sql_total_s"), L.pop("_query.stream_s")
    n_sql = L["query.sql_calls"]
    out = {
        **L,
        "api.write.requests": len(on_w),
        "api.query.requests": len(on_q),
        "api.write.overhead_ms": ((mean([op.t1 - op.t0 for op in on_w]) - (il_s + wait_s) / n_il) * 1000
                                  if on_w and n_il else 0.0),
        "api.query.exec_stream_ms": ((mean([op.t1 - op.t0 for op in on_q]) - sql_s / n_sql) * 1000
                                     if on_q and n_sql else 0.0),
        "compactor.live_files_per_partition": st["files"] / st["partitions"] if st["partitions"] else 0.0,
        "compactor.l1_backlog_files": fin.get("l1_backlog_files", 0.0),
    }
    n_ops = max(1, len([op for op in ops if op.ok and op.t0 < origin + res.report["window_s"]]))
    spark_layers(out, fin["spark"], n_ops)
    # trace cost: the main op's median latency in traced vs untraced windows
    main = "write" if name == "lp_ingest" else "dash"
    a = [op.latency for op in on if op.kind == main]
    b = [op.latency for op in off if op.kind == main]
    out["trace.overhead_frac"] = median(a) / median(b) - 1.0 if a and b else 0.0
    wall = sum(op.t1 - op.t0 for op in started_on)
    res.report["attribution_s"] = {"client_wall": wall, "ingest_lines": il_s, "promise_wait": wait_s,
                                   "query_sql": sql_s, "query_stream": stream_s}
    out["trace.unattributed_frac"] = max(0.0, 1.0 - (il_s + wait_s + sql_s + stream_s) / wall) if wall else 0.0
    out["gen.late_p95_ms"] = res.report.get("gen_late_p95_ms", 0.0)
    out["storage.bytes_per_row"] = res.report.get("stored_bytes_per_row", 0.0)
    res.layers.update(out)


def spark_layers(out: dict, sp: dict, n_ops: int) -> None:
    out.update({
        "spark.jobs_per_op": sp.get("jobs", 0) / n_ops,
        "spark.stages_per_op": sp.get("stages", 0) / n_ops,
        "spark.tasks_per_op": sp.get("tasks", 0) / n_ops,
        "spark.executor_run_s": sp.get("executorRunTime", 0) / 1000.0,
        "spark.executor_cpu_s": sp.get("executorCpuTime", 0) / 1e9,
        "spark.input_bytes": sp.get("inputBytes", 0),
        "spark.shuffle_read_bytes": sp.get("shuffleReadBytes", 0),
        "spark.shuffle_write_bytes": sp.get("shuffleWriteBytes", 0),
        "spark.spill_bytes": sp.get("memoryBytesSpilled", 0) + sp.get("diskBytesSpilled", 0),
    })


def run_registry(args, eng: EngineProc, work: str, res: Result) -> None:
    import duckdb

    data = os.path.join(work, "registry_data")
    gen.registry_tables(args.seed, data, scale=args.scale)
    names = [n for group in REGISTRY_QUERIES.values() for n in group]
    # the expected counts: DuckDB's count of each query's oracle SQL, taken
    # while the engine's JVM starts, so it takes no CPU from the timed part
    from quackpipe_spark.workloads import all_oracle_sql

    oracle = all_oracle_sql()
    con = duckdb.connect()
    for f in os.listdir(data):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data, f)}'")
    want = {n: con.execute(f"SELECT count(*) FROM ({oracle[n]})").fetchone()[0] for n in names}
    con.close()
    res.mark("generate")
    res.report["engine"] = eng.recv()
    res.mark("engine_start")
    r = eng.call("registry", data_dir=data, names=names, seconds=args.seconds, setup_reps=SETUP_REPS,
                 min_sweeps=WORKLOADS["sql_registry"]["min_sweeps"], trace=bool(args.trace))

    res.mark("registry")
    for n in names:
        res.check(f"oracle:{n}", r["counts"][n] == want[n])
    times = r["times"]
    per_query = {n: median(ts) for n, ts in times.items()}
    all_ms = [t * 1000 for ts in times.values() for t in ts]
    busy = sum(sum(ts) for ts in times.values())
    res.attempted += len(all_ms)
    total = sum(per_query.values())
    res.report.update(registry_total_s=total, sweeps=r["sweeps"], cold_s=r["cold_s"], setup_s=r["setup_s"],
                      per_query_s=per_query, peak_rss_mb=r["peak_rss_mb"])
    # a pooled percentile over a handful of queries jumps from one
    # query's latency to the next; a per-query figure averaged over the
    # queries moves smoothly with every query. Per query, the best rep:
    # CPU steal and stalls only ever add time, and with a few reps a run
    # often has one or two slowed ones
    best = {n: min(ts) for n, ts in times.items()}
    res.report.update(slowest_query_ms=max(per_query.values()) * 1000, actions_per_busy_s=len(all_ms) / busy,
                      best_query_s=best)
    res.e2e = {
        "setup_s": median(r["setup_s"]),
        "op_ms": sum(best.values()) / len(best) * 1000,
        "cpu_ms_per_op": r["engine_cpu_s"] * 1000 / len(all_ms),
        "peak_rss_mb": r["peak_rss_mb"],
    }
    res.report["op_samples"] = len(all_ms)
    if args.trace:
        out: dict = {f"registry.{mod}_s": sum(per_query[n] for n in group) for mod, group in REGISTRY_QUERIES.items()}
        out["registry.total_s"] = total
        out.update({f"registry.q.{n}_s": per_query[n] for n in names})
        out.update({f"floor.{k}_s": median(r["floor"][k]) for k in FLOOR_SHAPES})
        spark_layers(out, r["spark"], len(all_ms))
        # per query: its traced reps against its untraced reps
        on: dict[str, list[float]] = {}
        off: dict[str, list[float]] = {}
        for n, dt, traced in r["actions"]:
            (on if traced else off).setdefault(n, []).append(dt)
        ratios = [median(on[n]) / median(off[n]) for n in on if n in off]
        out["trace.overhead_frac"] = median(ratios) - 1.0 if ratios else 0.0
        traced_wall = sum(dt for _, dt, traced in r["actions"] if traced)
        out["trace.unattributed_frac"] = 1.0 - r["job_covered_s"] / traced_wall if traced_wall else 0.0
        res.layers.update(out)


# --- output ----------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="data size multiplier (tests use a small one)")
    ap.add_argument("--out", help="also write the full report as JSON to this path")
    args = ap.parse_args(argv)

    root = os.getcwd()
    for need in ("quackpipe_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(root, need)):
            die(f"run from the root of a checkout: {need} is missing")
    work = os.path.join(root, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    res = Result()
    eng = EngineProc(root, work, engine_env(root, work, args.workload))

    def _overdue(*_):
        raise TimeoutError(f"no result after {RUN_TIMEOUT_S} s")

    # a hung engine must not hang the benchmark: leave time to stop it
    signal.signal(signal.SIGALRM, _overdue)
    signal.alarm(RUN_TIMEOUT_S)
    try:
        if args.workload == "sql_registry":
            run_registry(args, eng, work, res)
        else:
            run_http(args.workload, args, eng, work, res)
    except Exception as e:
        signal.alarm(0)
        eng.close()
        die(f"{args.workload} failed: {type(e).__name__}: {e}", 1)
    signal.alarm(0)
    eng.close()
    res.mark("close")

    cfg = WORKLOADS[args.workload]
    res.report.update(workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
                      shape={k: v for k, v in cfg.items() if k != "why"}, checks_failed=res.checks_failed,
                      failed_frac=res.failed / max(1, res.attempted), phase_s=res.phases,
                      cpu_steal_frac=res.steal_frac())
    for k, v in res.report.items():
        print(f"# {k}: {json.dumps(v, default=str)}")
    if args.trace:
        metrics = {name: {"value": float(res.layers.get(name, 0.0)), "unit": unit} for name, unit in PER_LAYER}
    else:
        metrics = {name: {"value": float(res.e2e[name]), "unit": unit} for name, unit, _ in END_TO_END}
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"report": res.report, "metrics": metrics}, f, indent=1, default=str)
    print(json.dumps({
        "correct": not res.checks_failed,
        "attempted": max(1, res.attempted),
        "failed": res.failed,
        "metrics": metrics,
    }))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
