"""Kill-the-writer crash soak across the process boundary (VERDICT r13 #2).

The last architectural claim without a cross-process proof: crash
recovery. tests/test_soak_two_process.py proves concurrent
discovery/tombstoning between live processes; this soak proves the
CRASH story end to end:

- the writer+compactor runs as a subprocess (tests/soak_writer.py) and
  is SIGKILLed at a randomized point in each of >=5 cycles — mid-flush,
  mid-index-swap, mid-compaction, mid-journaled-publish, wherever the
  kill lands (the loop body is almost entirely those windows);
- the INDEPENDENT querier (this process, its own SparkSession/Catalog/
  QueryEngine) reads throughout, including across every kill, and must
  never observe a torn prefix: every (count, sum) equals a recorded
  pre-flush snapshot line, sums match the closed form n(n-1)/2, and
  counts never go backwards;
- each restarted writer recovers from DISK ALONE — Catalog discovery +
  PartitionIndex atomic-save semantics for the hive store,
  journal.recover (publish-journal roll-forward/sweep, plans/journal.py)
  for the journaled flat dir — verifies
  its resume state is an exact prefix, and continues the sequence;
- a final clean-exit incarnation converges the store, and the parent
  re-verifies both stores independently.

Parity target: the reference's writer container can be OOM-killed or
restarted at any time while the querier container keeps serving from
the shared filesystem (README.md:41-52, docker-compose.yml).
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import threading
import time

from quackpipe_spark.catalog import Catalog
from quackpipe_spark.query import QueryEngine

from tests.soak_writer import _snapshots, _tri

KILL_CYCLES = int(os.environ.get("SPARK_GRAFT_KILL_CYCLES", "5"))


def test_kill_writer_crash_soak(spark, tmp_path):
    root = str(tmp_path / "gigadata")
    flatdir = str(tmp_path / "flatidx")
    snap_path = str(tmp_path / "snap.txt")
    flat_snap_path = str(tmp_path / "flat_snap.txt")
    status_path = str(tmp_path / "status.jsonl")
    log_path = str(tmp_path / "writer_log.txt")

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {
        **os.environ,
        "SPARK_GRAFT_CPUS": "8",
        "SPARK_GRAFT_DRIVER_MEM": "4g",
        "PYTHONPATH": repo_root + os.pathsep + os.environ.get("PYTHONPATH", ""),
    }
    log_f = open(log_path, "ab")  # files, not pipes (pipe-wedge, review r13)

    def spawn(final_batches: int, ready_path: str) -> subprocess.Popen:
        return subprocess.Popen(
            [
                sys.executable,
                os.path.join(os.path.dirname(__file__), "soak_writer.py"),
                root,
                flatdir,
                snap_path,
                flat_snap_path,
                status_path,
                ready_path,
                "600",
                str(final_batches),
            ],
            cwd=str(tmp_path),
            env=env,
            stdout=log_f,
            stderr=subprocess.STDOUT,
        )

    # ---- independent querier: this process, reading across every kill ----
    catalog = Catalog(root)
    qe = QueryEngine(spark, catalog)
    qstats = {"reads": 0, "last_n": 0, "distinct": set()}
    errors: list[str] = []
    stop = threading.Event()

    def querier() -> None:
        try:
            while not stop.is_set():
                if catalog.get("d", "soak") is None:
                    catalog.rediscover()
                    time.sleep(0.05)
                    continue
                # query FIRST, then snapshots: a result's snapshot line is
                # fsynced before the state it describes can exist
                row = qe.sql(
                    "SELECT count(*) AS n, coalesce(sum(v), 0.0) AS s FROM soak",
                    db="d",
                ).collect()[0]
                n, s = int(row["n"]), float(row["s"])
                snaps = _snapshots(snap_path)
                if n not in snaps:
                    raise AssertionError(f"count {n} is no flush prefix")
                if s != snaps[n] or s != _tri(n):
                    raise AssertionError(f"sum {s} wrong at n={n}")
                if n < qstats["last_n"]:
                    raise AssertionError(
                        f"count went backwards {qstats['last_n']} -> {n}"
                    )
                qstats["last_n"] = n
                qstats["reads"] += 1
                qstats["distinct"].add(n)
                time.sleep(0.1)
        except Exception as e:  # pragma: no cover - failure reporting
            errors.append(f"querier: {type(e).__name__}: {e}")

    qthread = threading.Thread(target=querier, name="kill-soak-querier")
    qthread.start()
    rng = random.Random(0x14C1)  # deterministic kill schedule
    proc: subprocess.Popen | None = None
    try:
        for cycle in range(KILL_CYCLES):
            ready = str(tmp_path / f"ready_{cycle}")
            proc = spawn(0, ready)
            t_wait = time.time() + 240
            while not os.path.exists(ready):
                assert proc.poll() is None, (
                    f"writer died during startup (cycle {cycle}): "
                    f"{open(log_path, 'rb').read().decode(errors='replace')[-2000:]}"
                )
                assert time.time() < t_wait, f"writer never ready (cycle {cycle})"
                assert not errors, errors[:3]
                time.sleep(0.1)
            # let it work, then kill -9 at a randomized point: the loop
            # body is flush -> journal-append -> compact, so the kill
            # lands inside one of the dangerous windows
            time.sleep(rng.uniform(0.8, 5.0))
            proc.kill()
            proc.wait(timeout=60)
            assert not errors, errors[:3]

        # final incarnation: recover once more, write 3 batches, exit clean
        ready = str(tmp_path / "ready_final")
        proc = spawn(3, ready)
        rc = proc.wait(timeout=600)
        assert rc == 0, (
            f"final writer rc={rc}: "
            f"{open(log_path, 'rb').read().decode(errors='replace')[-2000:]}"
        )
    finally:
        stop.set()
        qthread.join(timeout=120)
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait(timeout=60)
        log_f.close()
    assert not qthread.is_alive(), "querier thread stuck"
    assert not errors, errors[:3]

    # ---- every incarnation resumed from an exact disk prefix ----
    with open(status_path) as f:
        records = [json.loads(line) for line in f if line.strip()]
    fatals = [r for r in records if "fatal" in r]
    assert not fatals, fatals
    resumes = [r for r in records if "resumed_n" in r]
    assert len(resumes) == KILL_CYCLES + 1, resumes
    ns = [r["resumed_n"] for r in resumes]
    nfs = [r["resumed_flat"] for r in resumes]
    assert ns == sorted(ns) and nfs == sorted(nfs), (ns, nfs)
    assert ns[-1] > 0 and nfs[-1] > 0, "restarts never saw prior data"
    clean = [r for r in records if r.get("clean_exit")]
    assert len(clean) == 1, records[-3:]
    # compaction really ran across lifetimes (kills landed around it)
    assert any(r.get("compacted") for r in records) or clean[0][
        "compactions"
    ], "no compaction ever executed"
    # the querier watched the store grow across kills
    assert qstats["reads"] >= 10, qstats
    assert len(qstats["distinct"]) >= 3, qstats

    # ---- final convergence, verified by THIS process from disk ----
    final_n, final_nf = clean[0]["n"], clean[0]["nf"]
    catalog.rediscover()
    row = qe.sql(
        "SELECT count(*) AS n, coalesce(sum(v), 0.0) AS s FROM soak", db="d"
    ).collect()[0]
    assert int(row["n"]) == final_n == max(_snapshots(snap_path))
    assert float(row["s"]) == _tri(final_n)
    assert final_n >= (KILL_CYCLES + 3) * 50  # real work happened

    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    tbl = ds.dataset(flatdir, format="parquet").to_table()
    assert tbl.num_rows == final_nf == max(_snapshots(flat_snap_path))
    assert float(pc.sum(tbl.column("v")).as_py()) == _tri(final_nf)
    # no journal debris survived the final recover+compact cycles
    leftover = [x for x in os.listdir(flatdir) if x.startswith(".journal-")]
    assert leftover == [], leftover
