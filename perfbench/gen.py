"""Seeded input generators: line-protocol request bodies, the serving
fixture, dashboard and ad-hoc query texts (each with a DuckDB twin for the
output check), and the tables the SQL registry runs on.

Everything here is a pure function of its arguments and the seed; the
engine only ever sees the bytes these functions produce.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from datetime import datetime, timezone

NS = 1_000_000_000
MIN = 60 * NS
HOUR = 3600 * NS
T0 = int(datetime(2024, 3, 1, tzinfo=timezone.utc).timestamp()) * NS

MEASUREMENTS = ("cpu", "mem", "app")
REGIONS = ("us-east-1", "us-west-2", "eu-west-1", "eu-central-1", "ap-south-1", "sa-east-1")
DCS = tuple(f"dc{i}" for i in range(8))
SERVICES = ("api", "web", "auth", "billing", "search", "queue")
LEVELS = ("info", "warn", "error", "debug")
# tag values that need line-protocol escapes (space, comma, equals sign):
# they force the parser off its fast path
ESCAPED = {
    "service": ("checkout\\ v2", "batch\\,jobs", "ml\\=infer"),
    "dc": ("dc\\ 9", "dc\\,10"),
}


def host_region(h: int) -> str:
    return REGIONS[h % len(REGIONS)]


# --- line protocol ------------------------------------------------------


@dataclass
class Body:
    text: bytes
    rows: dict[str, int]  # measurement → lines in this body

    @property
    def lines(self) -> int:
        return sum(self.rows.values())


def lp_bodies(
    seed: int,
    n_bodies: int,
    lines_per_body: int,
    start_ns: int = T0,
    body_span_ns: int = 3 * MIN,
    hosts: int = 1000,
    escaped_frac: float = 0.05,
    new_field_every: int = 50,
) -> list[Body]:
    """Request bodies for the ``cpu``, ``mem`` and ``app`` measurements.

    Each body holds one block of lines per measurement (half cpu, a
    quarter each mem and app), timestamps advancing ``body_span_ns`` per
    body. About ``escaped_frac`` of lines carry an escaped tag value, and
    one body in ``new_field_every`` adds a cpu field no earlier body had.
    """
    rng = random.Random(seed)
    offset = rng.randrange(new_field_every)
    out = []
    n_cpu = lines_per_body // 2
    n_mem = lines_per_body // 4
    n_app = lines_per_body - n_cpu - n_mem
    for k in range(n_bodies):
        base = start_ns + k * body_span_ns
        step = max(1, body_span_ns // lines_per_body)
        extra = f",ext_{k}={rng.random():.3f}" if (k + offset) % new_field_every == 0 else ""
        lines = []
        ts = base
        for _ in range(n_cpu):
            h = rng.randrange(hosts)
            dc = DCS[h % len(DCS)]
            if rng.random() < escaped_frac:
                dc = rng.choice(ESCAPED["dc"])
            u, s = rng.random() * 100, rng.random() * 20
            lines.append(
                f"cpu,host=h{h:04d},region={host_region(h)},dc={dc} "
                f"usage_user={u:.3f},usage_system={s:.3f},usage_idle={100 - u:.3f},"
                f"cores={4 << (h % 4)}i{extra} {ts + rng.randrange(step)}"
            )
            ts += step
        for _ in range(n_mem):
            h = rng.randrange(hosts)
            used = rng.randrange(1 << 20, 1 << 34)
            lines.append(
                f"mem,host=h{h:04d},region={host_region(h)} used={used}i,"
                f"free={(1 << 35) - used}i,used_pct={used / (1 << 35) * 100:.4f},"
                f"swapping={'true' if rng.random() < 0.1 else 'false'} {ts + rng.randrange(step)}"
            )
            ts += step
        for _ in range(n_app):
            h = rng.randrange(hosts)
            svc = rng.choice(SERVICES)
            if rng.random() < escaped_frac:
                svc = rng.choice(ESCAPED["service"])
            status = rng.choice((200, 200, 200, 201, 404, 500))
            lines.append(
                f"app,host=h{h:04d},service={svc},level={rng.choice(LEVELS)} "
                f"latency_ms={rng.expovariate(1 / 40):.3f},status={status}i,"
                f'msg="GET /v1/items/{rng.randrange(10000)} {status}",ok={str(status < 400).lower()} '
                f"{ts + rng.randrange(step)}"
            )
            ts += step
        out.append(Body(("\n".join(lines) + "\n").encode(), {"cpu": n_cpu, "mem": n_mem, "app": n_app}))
    return out


# --- serving fixture ----------------------------------------------------


def cpu_fixture(seed: int, hours: int, rows_per_hour: int, hosts: int = 1000, start_ns: int = T0):
    """Columnar ``cpu`` rows covering ``hours`` hourly partitions, as a
    pyarrow Table sorted by time (the same columns line protocol yields)."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n = hours * rows_per_hour
    ts = start_ns + np.sort(rng.integers(0, hours * HOUR, n, dtype=np.int64))
    h = rng.integers(0, hosts, n)
    u = np.round(rng.random(n) * 100, 3)
    return pa.table(
        {
            "host": pa.array([f"h{x:04d}" for x in h]),
            "region": pa.array([REGIONS[x % len(REGIONS)] for x in h]),
            "dc": pa.array([DCS[x % len(DCS)] for x in h]),
            "usage_user": pa.array(u),
            "usage_system": pa.array(np.round(rng.random(n) * 20, 3)),
            "usage_idle": pa.array(np.round(100 - u, 3)),
            "cores": pa.array((4 << (h % 4)).astype(np.int64)),
            "__timestamp": pa.array(ts),
        }
    )


# --- query texts --------------------------------------------------------


@dataclass
class Query:
    kind: str  # "dash" or "adhoc"
    text: str  # engine dialect (ClickHouse functions, epoch_ns literals)
    duck: str  # DuckDB over the same files, same column names and order
    shape: str = ""


def _lit(ns: int, iso: bool) -> str:
    """A bound literal: raw ns or the reference's epoch_ns('…'::TIMESTAMP)."""
    if not iso or ns % NS:
        return str(ns)
    dt = datetime.fromtimestamp(ns // NS, tz=timezone.utc)
    return f"epoch_ns('{dt:%Y-%m-%d %H:%M:%S}'::TIMESTAMP)"


def _range(lo: int, hi: int, iso: bool, tcol: str = "__timestamp") -> tuple[str, str]:
    return (
        f"{tcol} >= {_lit(lo, iso)} AND {tcol} < {_lit(hi, iso)}",
        f"{tcol} >= {lo} AND {tcol} < {hi}",
    )


def dashboard_queries(t_end: int, tcol: str = "__timestamp") -> list[Query]:
    """The fixed dashboard set: 12 texts, all plan-cacheable. ``tcol`` is
    the time column the windows filter: ``__timestamp`` (the partition
    and index column) or ``time`` (the line-protocol timestamp of a table
    partitioned by arrival)."""

    def q(text, duck, shape):
        return Query("dash", text.replace("__timestamp", tcol), duck.replace("__timestamp", tcol), shape)

    r = lambda span, iso=True: _range(t_end - span, t_end, iso)  # noqa: E731
    out = []
    w, d = r(HOUR)
    out.append(q(f"SELECT count(*) AS n FROM cpu WHERE {w}", f"SELECT count(*) AS n FROM cpu WHERE {d}", "count_1h"))
    w, d = r(6 * HOUR)
    out.append(q(
        f"SELECT region, avg(usage_user) AS u FROM cpu WHERE {w} GROUP BY region ORDER BY region",
        f"SELECT region, avg(usage_user) AS u FROM cpu WHERE {d} GROUP BY region ORDER BY region",
        "avg_region_6h"))
    w, d = r(3 * HOUR, False)
    out.append(q(
        f"SELECT dc, max(usage_system) AS m FROM cpu WHERE {w} GROUP BY dc ORDER BY dc",
        f"SELECT dc, max(usage_system) AS m FROM cpu WHERE {d} GROUP BY dc ORDER BY dc",
        "max_dc_3h"))
    w, d = r(12 * HOUR)
    out.append(q(
        f"SELECT epoch_ns(toStartOfHour(from_epoch_ns(__timestamp))) AS b, count() AS n "
        f"FROM cpu WHERE {w} GROUP BY b ORDER BY b",
        f"SELECT (__timestamp // {HOUR}) * {HOUR} AS b, count(*) AS n FROM cpu WHERE {d} GROUP BY b ORDER BY b",
        "hourly_12h"))
    w, d = r(HOUR, False)
    out.append(q(
        f"SELECT host, avg(usage_user) AS u FROM cpu WHERE {w} GROUP BY host ORDER BY u DESC, host LIMIT 10",
        f"SELECT host, avg(usage_user) AS u FROM cpu WHERE {d} GROUP BY host ORDER BY u DESC, host LIMIT 10",
        "top_hosts_1h"))
    w, d = r(HOUR)
    out.append(q(
        f"SELECT epoch_ns(toStartOfFiveMinutes(from_epoch_ns(__timestamp))) AS b, avg(usage_user) AS u "
        f"FROM cpu WHERE {w} GROUP BY b ORDER BY b",
        f"SELECT (__timestamp // {5 * MIN}) * {5 * MIN} AS b, avg(usage_user) AS u FROM cpu WHERE {d} GROUP BY b ORDER BY b",
        "five_min_1h"))
    w, d = r(24 * HOUR)
    out.append(q(f"SELECT count(DISTINCT host) AS hosts FROM cpu WHERE {w}",
                 f"SELECT count(DISTINCT host) AS hosts FROM cpu WHERE {d}", "hosts_24h"))
    w, d = r(2 * HOUR)
    out.append(q(
        f"SELECT region, sum(cores) AS c FROM cpu WHERE {w} GROUP BY region ORDER BY region",
        f"SELECT region, CAST(sum(cores) AS BIGINT) AS c FROM cpu WHERE {d} GROUP BY region ORDER BY region",
        "cores_2h"))
    w, d = r(48 * HOUR)
    out.append(q(f"SELECT min(usage_idle) AS lo, max(usage_idle) AS hi FROM cpu WHERE {w}",
                 f"SELECT min(usage_idle) AS lo, max(usage_idle) AS hi FROM cpu WHERE {d}", "idle_48h"))
    w, d = r(30 * MIN)
    out.append(q(
        f"SELECT region, dc, avg(usage_user) AS u FROM cpu WHERE {w} GROUP BY region, dc ORDER BY region, dc",
        f"SELECT region, dc, avg(usage_user) AS u FROM cpu WHERE {d} GROUP BY region, dc ORDER BY region, dc",
        "avg_region_dc_30m"))
    w, d = r(6 * HOUR, False)
    out.append(q(
        f"SELECT region, count(*) AS hot FROM cpu WHERE {w} AND usage_user > 90 GROUP BY region ORDER BY region",
        f"SELECT region, count(*) AS hot FROM cpu WHERE {d} AND usage_user > 90 GROUP BY region ORDER BY region",
        "hot_6h"))
    lo, hi = t_end - 2 * HOUR, t_end - HOUR
    out.append(q(
        f"SELECT dc, avg(usage_idle) AS i FROM cpu WHERE __timestamp BETWEEN {_lit(lo, True)} AND {_lit(hi, True)} "
        f"GROUP BY dc ORDER BY dc",
        f"SELECT dc, avg(usage_idle) AS i FROM cpu WHERE __timestamp BETWEEN {lo} AND {hi} GROUP BY dc ORDER BY dc",
        "idle_prev_hour"))
    return out


_AGGS = (("avg", "usage_user"), ("max", "usage_system"), ("min", "usage_idle"), ("sum", "cores"), ("count", "*"))


def _agg(fn: str, col: str, duck: bool) -> str:
    if fn == "count":
        return "count(*)" if duck else "count()"
    if fn == "sum" and duck:
        return f"CAST(sum({col}) AS BIGINT)"
    return f"{fn}({col})"


def adhoc_queries(seed: int, n: int, t_lo: int, t_hi: int) -> list[Query]:
    """Seeded one-off texts: window 5 min–12 h, grouping key and aggregate
    drawn per query; shapes include ClickHouse time functions, an OR of
    ranges and a CTE self-join. Distinct texts far outnumber the cache."""
    rng = random.Random(seed * 7919 + 17)
    shapes = ("group", "group", "bucket", "hour_of_day", "or_ranges", "cte_self_join", "top_hosts")
    out = []
    spans = (5 * MIN, 15 * MIN, 45 * MIN, 2 * HOUR, 5 * HOUR, 12 * HOUR)
    for i in range(n):
        # the window ladder cycles (co-prime with the shapes) so every seed
        # runs the same mix of costs; only where the window sits is drawn
        span = spans[i % len(spans)]
        lo = t_lo + rng.randrange(max(1, (t_hi - t_lo - span) // NS)) * NS
        hi = lo + span
        iso = rng.random() < 0.5
        fn, col = rng.choice(_AGGS)
        key = rng.choice(("region", "dc"))
        shape = shapes[i % len(shapes)]  # the same mix of shapes for every seed
        w, d = _range(lo, hi, iso)
        a, ad = _agg(fn, col, False), _agg(fn, col, True)
        if shape == "group":
            text = f"SELECT {key}, {a} AS v FROM cpu WHERE {w} GROUP BY {key} ORDER BY {key}"
            duck = f"SELECT {key}, {ad} AS v FROM cpu WHERE {d} GROUP BY {key} ORDER BY {key}"
        elif shape == "bucket":
            width, chf = rng.choice(((5 * MIN, "toStartOfFiveMinutes"), (15 * MIN, "toStartOfFifteenMinutes"), (HOUR, "toStartOfHour")))
            text = (f"SELECT epoch_ns({chf}(from_epoch_ns(__timestamp))) AS b, {a} AS v FROM cpu "
                    f"WHERE {w} GROUP BY b ORDER BY b")
            duck = f"SELECT (__timestamp // {width}) * {width} AS b, {ad} AS v FROM cpu WHERE {d} GROUP BY b ORDER BY b"
        elif shape == "hour_of_day":
            text = (f"SELECT toHour(from_epoch_ns(__timestamp)) AS h, {a} AS v FROM cpu "
                    f"WHERE {w} GROUP BY h ORDER BY h")
            duck = f"SELECT CAST((__timestamp // {HOUR}) % 24 AS INTEGER) AS h, {ad} AS v FROM cpu WHERE {d} GROUP BY h ORDER BY h"
        elif shape == "or_ranges":
            gap = span + rng.randrange(1, 6) * HOUR
            lo2 = lo - gap if lo - gap >= t_lo else lo + gap
            hi2 = lo2 + span
            text = (f"SELECT {key}, {a} AS v FROM cpu WHERE (__timestamp BETWEEN {_lit(lo, iso)} AND {_lit(hi, iso)} "
                    f"OR __timestamp BETWEEN {_lit(lo2, iso)} AND {_lit(hi2, iso)}) GROUP BY {key} ORDER BY {key}")
            duck = (f"SELECT {key}, {ad} AS v FROM cpu WHERE (__timestamp BETWEEN {lo} AND {hi} "
                    f"OR __timestamp BETWEEN {lo2} AND {hi2}) GROUP BY {key} ORDER BY {key}")
        elif shape == "cte_self_join":
            w2, d2 = _range(lo - span, lo, iso)
            body = "WITH cur AS (SELECT {k}, avg(usage_user) AS u FROM cpu WHERE {w} GROUP BY {k}), " \
                   "prev AS (SELECT {k}, avg(usage_user) AS u FROM cpu WHERE {w2} GROUP BY {k}) " \
                   "SELECT cur.{k}, cur.u - prev.u AS delta FROM cur JOIN prev ON cur.{k} = prev.{k} ORDER BY cur.{k}"
            text = body.format(k=key, w=w, w2=w2)
            duck = body.format(k=key, w=d, w2=d2)
        else:  # top_hosts
            text = (f"SELECT host, {a} AS v FROM cpu WHERE {w} GROUP BY host "
                    f"ORDER BY v DESC, host LIMIT 5")
            duck = f"SELECT host, {ad} AS v FROM cpu WHERE {d} GROUP BY host ORDER BY v DESC, host LIMIT 5"
        out.append(Query("adhoc", text, duck, shape))
    return out


# --- SQL registry tables --------------------------------------------------

_WORDS = (
    "a the data query table row column value key join group sort filter scan merge batch stream "
    "window order line part customer spark agg hash vector fast slow big small"
).split()


def registry_tables(seed: int, out_dir: str, scale: float = 1.0) -> dict[str, int]:
    """The ten tables the registry queries read (TPC-H-like star schema,
    ``events``, ``documents``, ``embeddings``), written as one parquet
    file each. ``scale=1`` is about 60k lineitem rows. Returns row counts."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    r = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = lambda base: max(5, int(base * scale))  # noqa: E731
    day = np.timedelta64(1, "D")
    d95 = np.datetime64("1995-01-01", "us")

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    n_cust, n_part, n_supp, n_ord, n_li = n(1500), n(2000), max(10, n(100)), n(15000), n(60000)
    n_ev, n_doc, n_emb = n(10000), max(50, n(500)), max(50, n(500))
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999, 9999, n_cust),
            "c_mktsegment": [r.choice(("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")) for _ in range(n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999, 9999, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [
                r.choice(("red", "blue", "old", "small", "new", "hot", "large", "cold", "green")) + " "
                + r.choice(("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"))
                for _ in range(n_part)
            ],
            "p_brand": [f"Brand#{r.randint(1, 25)}" for _ in range(n_part)],
            "p_type": [r.choice(("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")) for _ in range(n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [r.choice("OFP") for _ in range(n_ord)],
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": pa.array(d95 + rng.integers(0, 2404, n_ord) * day),
            "o_orderpriority": [r.choice(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")) for _ in range(n_ord)],
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(float),
            "l_extendedprice": money(900, 105000, n_li),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
            "l_returnflag": [r.choice("ANR") for _ in range(n_li)],
            "l_linestatus": [r.choice("OF") for _ in range(n_li)],
            "l_shipdate": pa.array(np.datetime64("1995-01-02", "us") + rng.integers(0, 2498, n_li) * day),
        }),
        "events": pa.table({
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
            "event_type": [r.choice(("click", "signup", "error", "view", "purchase")) for _ in range(n_ev)],
            "value": money(0.01, 490, n_ev),
            "props": [f'{{"k": {r.randrange(100)}}}' for _ in range(n_ev)],
        }),
    }
    docs = []
    for i in range(n_doc):
        if i > 10 and r.random() < 0.1:  # exact duplicate
            docs.append(docs[r.randrange(len(docs))])
        elif i > 10 and r.random() < 0.1:  # near duplicate: one word changed
            words = docs[r.randrange(len(docs))].split()
            words[r.randrange(len(words))] = r.choice(_WORDS)
            docs.append(" ".join(words))
        else:
            docs.append(" ".join(r.choice(_WORDS) for _ in range(r.randint(8, 90))))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": docs,
        "lang": [r.choice(("en", "en", "en", "es", "de", "fr", "zh")) for _ in range(n_doc)],
        "source": [f"src{r.randrange(20)}" for _ in range(n_doc)],
        "n_chars": pa.array([len(t) for t in docs], pa.int64()),
    })
    emb = rng.normal(0, 0.12, (n_emb, 64)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
