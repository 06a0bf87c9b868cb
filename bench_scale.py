"""Scale-run harness (round 10): turn the 100TB story from plan-shape
argument into measurement.

Modes:

  python bench_scale.py compare SMALL.json SCALED.json AMP
      Join two bench.py outputs (same query set, AMP× data) into one
      JSON line: per-query seconds at both scales, the scaled/small
      ratio, and the WORK ratio (time ratio / AMP — <1 means the query
      is cheaper per row at scale, i.e. the sf0.1 number was fixed
      per-action floor; >1 means superlinear growth worth diagnosing).

  python bench_scale.py prune-stress [N_FILES]
      Build a real hive store with N_FILES flushed files (default
      1500), then measure: per-partition index resolution time, a
      narrow time-bounded query (should touch ~1 file), and the same
      query with pruning disabled — the thousands-of-files pruner
      claim, measured instead of argued.
"""

from __future__ import annotations

import json
import statistics
import sys
import time


def compare(small_path: str, scaled_path: str, amp: float) -> dict:
    with open(small_path) as f:
        small = json.load(f)
    with open(scaled_path) as f:
        scaled = json.load(f)
    qs = sorted(set(small["queries"]) & set(scaled["queries"]))
    missing = sorted(
        set(small["queries"]) ^ set(scaled["queries"])
    )
    rows = {}
    for q in qs:
        s, g = small["queries"][q], scaled["queries"][q]
        ratio = round(g / s, 2) if s > 0 else None
        rows[q] = {
            "small_s": s,
            "scaled_s": g,
            "ratio": ratio,
            "work_ratio": round(ratio / amp, 3) if ratio is not None else None,
        }
    superlinear = sorted(
        (q for q, r in rows.items() if r["ratio"] is not None and r["ratio"] > amp),
        key=lambda q: -rows[q]["ratio"],
    )
    out = {
        "metric": "scale_ratio",
        "amp": amp,
        "unit": "sec",
        "small_total": small["value"],
        "scaled_total": scaled["value"],
        "total_ratio": round(scaled["value"] / small["value"], 2),
        "queries": rows,
        "superlinear": superlinear,
    }
    if missing:
        out["not_compared"] = missing
    for k in ("failures", "partial_reps"):
        for name, src in (("small", small), ("scaled", scaled)):
            if src.get(k):
                out[f"{name}_{k}"] = src[k]
    return out


def prune_stress(n_files: int) -> dict:
    import tempfile

    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.ingest import IngestService
    from quackpipe_spark.query import QueryEngine
    from quackpipe_spark.session import get_spark

    spark = get_spark(app_name="quackpipe_prune_stress")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="prune_stress_")
    cat = Catalog(root)
    svc = IngestService(spark, cat, save_timeout_s=3600)
    NS = 10**9
    t0_ns = 1_700_000_000 * NS
    rows_per_file = 2_000
    t_build0 = time.perf_counter()
    for i in range(n_files):
        # one file per HOUR bucket → n_files distinct hive partitions,
        # each with its own metadata.json — the worst resolution shape
        base = t0_ns + i * 3600 * NS
        svc.store(
            "d",
            "ev",
            {
                "v": list(range(rows_per_file)),
                "__timestamp": [base + j * 1000 for j in range(rows_per_file)],
            },
        )
        svc.flush()
    build_s = time.perf_counter() - t_build0
    qe = QueryEngine(spark, cat)
    tbl = cat.get("d", "ev")

    t0 = time.perf_counter()
    all_files = qe.table_files(tbl)
    resolve_all_s = time.perf_counter() - t0
    assert len(all_files) == n_files, (len(all_files), n_files)

    lo = t0_ns + (n_files // 2) * 3600 * NS
    hi = lo + 3600 * NS - 1
    t0 = time.perf_counter()
    pruned_files = qe.table_files(tbl, lo, hi)
    resolve_pruned_s = time.perf_counter() - t0

    q = f"SELECT count(*) AS n, sum(v) AS s FROM ev WHERE __timestamp BETWEEN {lo} AND {hi}"

    def _run(disable_prune: bool) -> float:
        ts = []
        for _ in range(5):
            qe._plan_cache.clear()
            qe._judgments.clear()
            if disable_prune:
                import quackpipe_spark.query as Q

                orig = Q.extract_time_bounds_per_table
                Q.extract_time_bounds_per_table = lambda *a, **k: {}
                try:
                    t0 = time.perf_counter()
                    r = qe.sql(q, db="d").collect()
                finally:
                    Q.extract_time_bounds_per_table = orig
            else:
                t0 = time.perf_counter()
                r = qe.sql(q, db="d").collect()
            assert r[0]["n"] == rows_per_file
            ts.append(time.perf_counter() - t0)
        return statistics.median(ts)

    pruned_s = _run(False)
    unpruned_s = _run(True)
    # plan-cache repeat over the big store
    qe.sql(q, db="d").collect()
    t0 = time.perf_counter()
    qe.sql(q, db="d").collect()
    cached_s = time.perf_counter() - t0
    spark.stop()
    return {
        "metric": "prune_stress",
        "n_files": n_files,
        "rows_per_file": rows_per_file,
        "build_s": round(build_s, 1),
        "resolve_all_files_s": round(resolve_all_s, 4),
        "resolve_pruned_files_s": round(resolve_pruned_s, 4),
        "files_pruned_to": len(pruned_files),
        "narrow_query_pruned_s": round(pruned_s, 3),
        "narrow_query_unpruned_s": round(unpruned_s, 3),
        "prune_speedup": round(unpruned_s / pruned_s, 1),
        "repeat_query_cached_s": round(cached_s, 3),
    }


def growth(
    small_dir: str, big_dir: str, reps: int = 2, only: list[str] | None = None
) -> dict:
    """Single-session 100×-vs-200× growth probe over the FULL registry
    (VERDICT r11 #2): every query timed at both scales in interleaved
    sweeps (rep 1 of everything at scale A, then scale B, then rep 2 …)
    with medians, so cold-page-cache first reads and host-noise bursts
    can't masquerade as superlinear growth (the r11 lesson: cross-window
    comparisons of separate bench runs showed phantom 2.5-3.7× growths
    that were page-cache state, not plan behavior). Growth on 2× data
    under 2.0 = sublinear; queries over 2.0 are listed for diagnosis.

    ``only`` restricts to a query subset — the re-probe path: a 2-rep
    full-sweep flag is a HYPOTHESIS on this box (multi-second host-noise
    bursts poison a 2-rep median; r12 flagged 7 queries that all cleared
    at reps 4-6), so flagged queries get a deeper targeted rerun:
    ``python bench_scale.py growth scaledata/sf10 scaledata/sf20 6 q1,q2``."""
    import glob
    import os

    from quackpipe_spark.session import get_spark
    from quackpipe_spark.workloads import all_prebuilds

    import __spark_entry__ as entrymod

    spark = get_spark(app_name="bench_growth")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    if only:
        unknown = sorted(set(only) - set(qs))
        if unknown:
            raise SystemExit(f"unknown queries: {unknown}")
        qs = {k: v for k, v in qs.items() if k in set(only)}
    prebuilds = all_prebuilds()
    # page-cache warm: full read of every table at both scales, plus the
    # Python worker pool, so rep 1 isn't charged for cold I/O
    for d in (small_dir, big_dir):
        for t in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            spark.read.parquet(t).count()
    spark.range(1000).repartition(32).mapInPandas(lambda it: it, "id long").count()

    times: dict[str, dict[str, list[float]]] = {
        q: {small_dir: [], big_dir: []} for q in qs
    }
    failures: dict[str, str] = {}
    for _ in range(reps):
        for d in (small_dir, big_dir):
            for name in sorted(qs):
                key = f"{name}@{os.path.basename(d.rstrip('/'))}"
                if key in failures:
                    continue
                spark.catalog.clearCache()
                pb = prebuilds.get(name)
                try:
                    if pb is not None:
                        pb(spark, d)  # index build/load is NOT the query
                    t0 = time.perf_counter()
                    # plain statement, NOT an assert: python -O strips
                    # asserts, which would silently time only lazy plan
                    # construction and report an all-sublinear fiction
                    n = qs[name](spark, d).count()
                    times[name][d].append(time.perf_counter() - t0)
                    if n < 0:  # pragma: no cover - count() can't go negative
                        raise RuntimeError(f"{name}: negative count {n}")
                except Exception as e:
                    failures[key] = f"{type(e).__name__}: {e}"[:200]
    rows = {}
    for name, by_dir in sorted(times.items()):
        s_small, s_big = by_dir[small_dir], by_dir[big_dir]
        if not s_small or not s_big:
            continue
        ms, mb = statistics.median(s_small), statistics.median(s_big)
        rows[name] = {
            "s100": round(ms, 3),
            "s200": round(mb, 3),
            "growth_2x_data": round(mb / ms, 2) if ms > 0 else None,
            # raw reps: lets a reader separate host-noise bursts from real
            # growth without rerunning
            "s100_all": [round(x, 3) for x in s_small],
            "s200_all": [round(x, 3) for x in s_big],
        }
    over = sorted(
        (q for q, r in rows.items() if (r["growth_2x_data"] or 0) > 2.0),
        key=lambda q: -rows[q]["growth_2x_data"],
    )
    out = {
        "metric": "growth_probe_full_registry" if not only else "growth_probe_subset",
        "unit": "sec",
        "reps": reps,
        "small_dir": small_dir,
        "big_dir": big_dir,
        "queries": rows,
        "superlinear_growth": over,
    }
    if failures:
        out["failures"] = failures
    spark.stop()
    return out


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "compare"
    if mode == "compare":
        print(json.dumps(compare(sys.argv[2], sys.argv[3], float(sys.argv[4]))))
    elif mode == "prune-stress":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 1500
        print(json.dumps(prune_stress(n)))
    elif mode == "growth":
        small = sys.argv[2] if len(sys.argv) > 2 else "scaledata/sf10"
        big = sys.argv[3] if len(sys.argv) > 3 else "scaledata/sf20"
        reps = int(sys.argv[4]) if len(sys.argv) > 4 else 2
        only = sys.argv[5].split(",") if len(sys.argv) > 5 else None
        print(json.dumps(growth(small, big, reps, only)))
    else:
        raise SystemExit(f"unknown mode {mode!r}")


if __name__ == "__main__":
    main()
