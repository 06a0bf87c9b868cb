"""Writer-process half of the kill-the-writer crash soak (VERDICT r13 #2).

Launched — and kill -9ed, repeatedly — by tests/test_soak_kill_writer.py.
Each incarnation is a FULL writer process: its own SparkSession, Catalog,
IngestService, table Compactor, plus a journaled flat parquet dir
(the incremental-index shape) it appends to and compacts. Recovery on
startup uses ONLY the public crash seams the architecture claims are
sufficient:

- hive store: Catalog disk discovery + PartitionIndex atomic-save/.bak
  semantics (a kill anywhere must leave the indexed store an exact
  flushed-batch prefix);
- flat dir: journal.recover (publish-journal roll-forward/sweep,
  plans/journal.py) + unlinking its own uncommitted ``.part-tmp-*``
  appends.

Determinism contract shared with the parent: hive rows are v=float(i)
for i in [0, n) → sum == n(n-1)/2 exactly (float64 integer sums are
exact below 2^53); flat rows likewise over [0, nf). Snapshot lines
"<count> <sum>" are appended + fsynced BEFORE the state they describe
can be observed, so every store state a reader or a restart sees must
match a recorded line.

argv:
  1 root            gigadata root (hive store)
  2 flatdir         journaled flat parquet dir
  3 snap_path       hive snapshot lines (append-only across restarts)
  4 flat_snap_path  flat-dir snapshot lines
  5 status_path     JSON-lines status (resume/exit records), appended
  6 ready_path      touched once recovery checks passed and writing begins
  7 max_s           hard wall-clock deadline
  8 final_batches   0 = run until killed; N = write N batches, exit 0
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

NS = 10**9
T0 = 1_700_000_000 * NS  # one hour partition, same as the two-process soak
BATCH = 50
FLAT_BATCH = 10


def _snapshots(path: str) -> dict[int, float]:
    snaps = {0: 0.0}
    try:
        with open(path) as f:
            for line in f:
                parts = line.split()
                if len(parts) == 2:
                    snaps[int(parts[0])] = float(parts[1])
    except FileNotFoundError:
        pass
    return snaps


def _tri(n: int) -> float:
    """sum(range(n)) — exact in float64 for every n this soak reaches."""
    return float(n * (n - 1) // 2)


def main() -> int:
    root, flatdir, snap_path, flat_snap_path, status_path, ready_path = sys.argv[1:7]
    max_s = float(sys.argv[7])
    final_batches = int(sys.argv[8])

    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.ingest import IngestService, ingest_lines
    from quackpipe_spark.plans import journal
    from quackpipe_spark.plans.compactor import Compactor, compact_parquet_dir
    from quackpipe_spark.query import QueryEngine
    from quackpipe_spark.session import get_spark

    status = open(status_path, "a")

    def put(rec: dict) -> None:
        status.write(json.dumps(rec) + "\n")
        status.flush()
        os.fsync(status.fileno())

    spark = get_spark(
        app_name="soak-killed-writer", extra_conf={"spark.ui.enabled": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    catalog = Catalog(root)

    # ---- crash recovery through the public seams only ----
    os.makedirs(flatdir, exist_ok=True)
    for name in os.listdir(flatdir):
        if name.startswith(".part-tmp-"):
            # this writer's own uncommitted append from a previous life
            try:
                os.unlink(os.path.join(flatdir, name))
            except FileNotFoundError:
                pass
    journal.recover(flatdir, writer=True)  # roll forward / sweep stages

    qe = QueryEngine(spark, catalog)
    n = 0
    if catalog.get("d", "soak") is not None:
        row = qe.sql(
            "SELECT count(*) AS n, coalesce(sum(v), 0.0) AS s FROM soak", db="d"
        ).collect()[0]
        n, s = int(row["n"]), float(row["s"])
        snaps = _snapshots(snap_path)
        if n not in snaps or s != snaps[n] or s != _tri(n):
            put({"fatal": f"hive resume not a flush prefix: n={n} s={s}"})
            return 1

    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    nf = 0
    if any(e.name.endswith(".parquet") for e in os.scandir(flatdir)):
        tbl = ds.dataset(flatdir, format="parquet").to_table()
        nf = tbl.num_rows
        sf = float(pa.compute.sum(tbl.column("v")).as_py() or 0.0)
        fsnaps = _snapshots(flat_snap_path)
        if nf not in fsnaps or sf != fsnaps[nf] or sf != _tri(nf):
            put({"fatal": f"flat resume not an append prefix: nf={nf} sf={sf}"})
            return 1

    put({"resumed_n": n, "resumed_flat": nf})
    with open(ready_path, "w"):
        pass

    svc = IngestService(spark, catalog, save_timeout_s=3600)  # manual flush
    comp: Compactor | None = None
    snapf = open(snap_path, "a")
    fsnapf = open(flat_snap_path, "a")
    deadline = time.time() + max_s
    batches = 0
    compactions = 0
    while time.time() < deadline and (final_batches == 0 or batches < final_batches):
        # hive batch: snapshot durable BEFORE the flush can publish
        lines = "\n".join(
            f"soak,src=s{i % 3} v={float(i)} {T0 + i % 3_000 * NS // 1000}"
            for i in range(n, n + BATCH)
        )
        promises = ingest_lines(svc, lines, db="d")
        n += BATCH
        snapf.write(f"{n} {_tri(n)}\n")
        snapf.flush()
        os.fsync(snapf.fileno())
        svc.flush()
        for p in promises:
            assert p.result(60)

        # flat append: snapshot, then atomic tmp+rename publish
        vals = [float(x) for x in range(nf, nf + FLAT_BATCH)]
        nf += FLAT_BATCH
        fsnapf.write(f"{nf} {_tri(nf)}\n")
        fsnapf.flush()
        os.fsync(fsnapf.fileno())
        tmp = os.path.join(flatdir, f".part-tmp-{uuid.uuid4().hex}")
        pq.write_table(pa.table({"v": vals}), tmp)
        os.replace(tmp, os.path.join(flatdir, f"part-{uuid.uuid4().hex}.parquet"))

        batches += 1
        # maintenance EVERY batch so kills land mid-compaction too
        if comp is None:
            t = catalog.get("d", "soak")
            if t is not None:
                comp = Compactor(spark, t, drop_delay_s=2.0)
        c = 0
        if comp is not None:
            c += len(comp.run_once(levels=[1, 2, 3]))
        c += len(compact_parquet_dir(spark, flatdir, order_by=["v"]))
        if c:
            compactions += c
            put({"compacted": compactions, "n": n})

    if final_batches:
        put(
            {
                "clean_exit": True,
                "n": n,
                "nf": nf,
                "batches": batches,
                "compactions": compactions,
            }
        )
        spark.stop()
        return 0
    put({"deadline": True, "n": n})  # parent expected to kill us first
    return 0


if __name__ == "__main__":
    sys.exit(main())
