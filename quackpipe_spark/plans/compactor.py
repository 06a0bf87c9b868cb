"""Size-tiered LSM-style compaction (SURVEY §2A A16-A20).

Parity with the reference's merge pipeline:

- levels ``.1 → .4`` encode compaction generation (README.md:97-110),
- per level, files sort by size desc and greedy bin-pack into plans
  capped at {100MB, 400MB, 4GB, 4GB} (GetFilesToMerge/PlanMerge,
  merge_service_fs.go:42-106),
- level cadences are {T, 10T, 100T, 420T} with T=MERGE_TIMEOUT_S=10
  (merge_tree_service.go:332-362),
- a merge reads its inputs, sorts by the table's order-by, writes ONE
  output file at level+1, then tombstones the inputs with a delayed
  delete (mergeFirstIteration / mergeMany / cleanup,
  merge_service_fs.go:202-278,241-252).

Spark-first: the sorted rewrite is ``read.parquet(files).sort(order_by)
.coalesce(1)`` — Catalyst's ExternalSorter spills for the 4GB tier, and the
same job covers both the reference's L1 full-sort and the L2+ k-way merge
of sorted runs (no special merge primitive needed; SURVEY §4). Plans run
concurrently from a driver thread pool (≤10, matching doMerge's errgroup
cap, merge_service_fs.go:361-380) — each plan is an independent Spark job,
so cluster executors stay busy across plans.
"""

from __future__ import annotations

import os
import re
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from quackpipe_spark.catalog import Table
from quackpipe_spark.plans import journal
from quackpipe_spark.plans.index import FileEntry, PartitionIndex, locked_index

MAX_LEVEL = 4
# level (1-based) → max merged output size, merge_service_fs.go:81-106.
MAX_SIZES = {1: 100 << 20, 2: 400 << 20, 3: 4 << 30, 4: 4 << 30}
# level → cadence multiplier over MERGE_TIMEOUT_S, merge_tree_service.go:336-344.
CADENCE = {1: 1, 2: 10, 3: 100, 4: 420}
MERGE_TIMEOUT_S = 10

_LEVEL_RE = re.compile(r"\.(\d+)\.parquet$")


@dataclass
class MergePlan:
    partition_dir: str
    level: int  # input level; output is min(level+1, MAX_LEVEL)
    files: list[str]  # file names within partition_dir
    promote: bool = False  # single-file rename-promotion, no rewrite

    @property
    def out_level(self) -> int:
        return min(self.level + 1, MAX_LEVEL)


def file_level(name: str) -> int | None:
    m = _LEVEL_RE.search(name)
    return int(m.group(1)) if m else None


def plan_merges(
    partition_dir: str,
    levels: list[int] | None = None,
    idx: "PartitionIndex | None" = None,
) -> list[MergePlan]:
    """Greedy size-desc bin-packing per level (PlanMerge parity,
    merge_service_fs.go:81-106).

    Single-file bins: a lone file LARGER than cap/2 can never pack at
    this level (any same-or-larger partner overflows the cap), so it is
    rename-promoted to the next level where the bigger cap applies — the
    reference's rename path. Without promotion, steady ~60 MB flushes
    each strand in their own level-1 bin forever and the partition's
    file count grows without bound. Lone files ≤ cap/2 stay put: they
    can still pack with future arrivals, and promoting them early just
    churns names. ``idx`` lets run_once reuse the index it already loaded
    for the drop-queue probe — 2 JSON parses per partition per 10 s tick
    across thousands of hourly partitions was pure wasted driver I/O
    (review r12); file membership can't change between the two reads that
    matters here (a racing swap is re-checked under locked_index at
    execution)."""
    idx = idx if idx is not None else PartitionIndex.load(partition_dir)
    by_level: dict[int, list[tuple[str, int]]] = {}
    for entry in idx.files.values():
        lv = file_level(entry.name)
        if lv is not None:
            by_level.setdefault(lv, []).append((entry.name, entry.size_bytes))
    plans: list[MergePlan] = []
    for lv in levels or sorted(by_level):
        if lv > MAX_LEVEL:
            continue  # MAX_LEVEL itself self-merges (out_level clamps to 4):
        # the reference's 4th tier runs at 420T and re-packs level-4 files
        # among themselves, bounding the terminal level's file count
        plans.extend(_pack_level(partition_dir, lv, by_level.get(lv, [])))
    return plans


def _pack_level(
    partition_dir: str, lv: int, entries: list[tuple[str, int]]
) -> list[MergePlan]:
    """The ONE greedy size-desc bin-packer (PlanMerge parity), shared by
    the index-backed planner (plan_merges) and the flat-dir planner
    (plan_dir_merges) so cap/promotion tweaks can never diverge between
    them. ``entries`` = (name, size_bytes)."""
    entries = sorted(entries, key=lambda t: -t[1])
    cap = MAX_SIZES[lv]
    sizes = dict(entries)
    plans: list[MergePlan] = []

    def close_bin(bin_files: list[str]) -> None:
        if len(bin_files) > 1:
            plans.append(MergePlan(partition_dir, lv, bin_files))
        elif bin_files and lv < MAX_LEVEL and sizes[bin_files[0]] > cap // 2:
            plans.append(MergePlan(partition_dir, lv, bin_files, promote=True))

    bin_files: list[str] = []
    bin_size = 0
    for name, sz in entries:
        if bin_files and bin_size + sz > cap:
            close_bin(bin_files)
            bin_files, bin_size = [], 0
        bin_files.append(name)
        bin_size += sz
    close_bin(bin_files)
    return plans


class Compactor:
    def __init__(self, spark, table: Table, drop_delay_s: float = 30.0, max_workers: int = 10):
        self.spark = spark
        self.table = table
        self.drop_delay_s = drop_delay_s
        self.max_workers = max_workers
        self._last_run: dict[int, float] = {}

    def due_levels(self, now: float | None = None, timeout_s: float = MERGE_TIMEOUT_S) -> list[int]:
        """Levels whose cadence elapsed ({T,10T,100T,420T})."""
        now = now if now is not None else time.time()
        due = []
        for lv, mult in CADENCE.items():  # includes the 420T level-4 self-merge
            if now - self._last_run.get(lv, 0.0) >= timeout_s * mult:
                due.append(lv)
                self._last_run[lv] = now
        return due

    def run_once(self, levels: list[int] | None = None) -> list[str]:
        """Plan + execute all merges for this table; returns output files.

        Also reaps any due tombstones (delayed deletes from earlier
        merges) so cleanup happens on the ticker cadence even for
        partitions with nothing left to merge, and sweeps STALE entries
        out of the table's tmp/ staging dir (a crashed distributed write
        or failed merge leaves its uuid stage dir there forever — nothing
        else ever cleans tmp/, so repeated failures accumulated unbounded
        disk; review r14). The age guard keeps the sweep clear of any
        live writer's in-flight staging."""
        _sweep_tmp(self.table.tmp_dir())
        plans: list[MergePlan] = []
        for pdir in self.table.partition_dirs():
            idx = PartitionIndex.load(pdir)  # one load per partition/tick:
            # the drop-queue probe and the planner share it (reap mutates
            # only the on-disk drop queue under its own locked reload,
            # never the live-file membership the planner reads)
            if idx.drop_queue:
                with locked_index(pdir) as li:
                    li.reap()
            plans.extend(plan_merges(pdir, levels, idx=idx))
        if not plans:
            return []
        with ThreadPoolExecutor(max_workers=self.max_workers) as pool:
            return [f for f in pool.map(self._execute, plans) if f]

    def _promote(self, plan: MergePlan) -> str | None:
        """Rename-promotion of a lone unpackable file to the next level —
        metadata-only, no rewrite. Hard-link + tombstone (not a bare
        rename): a reader that just listed the old name from the index
        must still be able to open it until the drop delay elapses."""
        old = plan.files[0]
        src = os.path.join(plan.partition_dir, old)
        if not os.path.exists(src):
            return None
        newname = f"{uuid.uuid4().hex}.{plan.out_level}.parquet"
        dst = os.path.join(plan.partition_dir, newname)
        try:
            os.link(src, dst)
        except OSError:
            import shutil

            shutil.copy2(src, dst)  # filesystems without hardlinks
        with locked_index(plan.partition_dir) as idx:
            e = idx.files.get(old)
            if e is None:  # lost a race with another writer's swap
                os.unlink(dst)
                return None
            idx.add(
                FileEntry(
                    name=newname,
                    size_bytes=e.size_bytes,
                    row_count=e.row_count,
                    min_time=e.min_time,
                    max_time=e.max_time,
                )
            )
            idx.remove([old], drop_delay_s=self.drop_delay_s)
        return dst

    def _execute(self, plan: MergePlan) -> str | None:
        """One sorted rewrite: inputs → tmp single file → rename →
        index swap → delayed delete of inputs."""
        if plan.promote:
            return self._promote(plan)
        paths = [os.path.join(plan.partition_dir, f) for f in plan.files]
        paths = [p for p in paths if os.path.exists(p)]
        if len(paths) < 2:
            return None
        tcol = self.table.order_by[0] if self.table.order_by else "__timestamp"
        df = (
            self.spark.read.option("mergeSchema", "true")  # union_by_name parity,
            # merge_service_fs.go:215 (dynamic schema across runs)
            .parquet(*paths)
            .sort(*self.table.order_by)
            .coalesce(1)
        )
        stage_dir = os.path.join(self.table.tmp_dir(), f"merge-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(stage_dir)
        part = next(
            f for f in os.listdir(stage_dir) if f.endswith(".parquet")
        )
        newname = f"{uuid.uuid4().hex}.{plan.out_level}.parquet"
        dst = os.path.join(plan.partition_dir, newname)
        # data blocks durable BEFORE the fsync-hardened index durably
        # references the file (the flat-dir journal's _fsync_file lesson;
        # the index save fsyncs metadata.json + the dir, covering the
        # rename's dentry — review r14)
        _fsync_file(os.path.join(stage_dir, part))
        os.replace(os.path.join(stage_dir, part), dst)
        import shutil

        shutil.rmtree(stage_dir, ignore_errors=True)

        import pyarrow.parquet as pq

        from quackpipe_spark.writer import _footer_min_max

        # the merged file COMMITS at the index swap: any failure between
        # the rename above and the save must roll the rename back —
        # otherwise the full-size orphan stays visible in the live dir,
        # the inputs stay indexed, and the merge ticker re-plans the same
        # merge every tick, writing ANOTHER orphan each time (review
        # r14). Only when the failure provably preceded the save
        # (body_done False — locked_index skips save on body exceptions):
        # unlinking after a possibly-committed save would delete
        # referenced data.
        body_done = False
        try:
            meta = pq.read_metadata(dst)
            tmin, tmax = _footer_min_max(meta, tcol)
            # the index swap is the only critical section — the heavy
            # sorted rewrite above ran outside the lock, so concurrent
            # flushes to the same partition serialize only on this
            # metadata update
            with locked_index(plan.partition_dir) as idx:
                idx.add(
                    FileEntry(
                        name=newname,
                        size_bytes=os.path.getsize(dst),
                        row_count=meta.num_rows,
                        min_time=tmin,
                        max_time=tmax,
                    )
                )
                idx.remove(plan.files, drop_delay_s=self.drop_delay_s)
                idx.reap()
                body_done = True
        except BaseException:
            if not body_done:
                _unlink_quiet(dst)
            raise
        return dst


# --- flat parquet-dir compaction (index append dirs) ------------------------
# The incremental index workflows (dedup.append_to_minhash_index,
# repeated postings builds) append Spark part-files to plain parquet
# directories with no catalog Table or PartitionIndex behind them. After a
# year of daily increments a bands dir is hundreds of file-groups and probe
# scan-planning degrades. The SAME greedy size-desc bin-packing applies —
# these dirs are exactly the planner's input shape — just keyed off a
# directory listing instead of metadata.json. Spark-written part files
# (no .N.parquet suffix) count as level 1; compaction outputs carry the
# usual <uuid>.<level>.parquet names so later runs re-pack them at their
# own tier and the terminal level self-merges (file count stays bounded,
# big outputs are rarely rewritten).
#
# Concurrency contract: unlike the Table path there is no tombstone index,
# so inputs are unlinked as the output lands (one journal commit, inputs
# first: a scan in that window may miss the bin's rows). Run compaction from
# the index's single writer between probe cycles (the incremental-dedup
# loop is sequential by construction: probe → append → [compact]); a scan
# that already listed a deleted input would fail and re-run.

_PART_FILE_RE = re.compile(r"\.parquet$")


def _dir_file_sizes(path: str) -> dict[str, int]:
    return {
        e.name: e.stat().st_size
        for e in os.scandir(path)
        if e.is_file() and _PART_FILE_RE.search(e.name) and not e.name.startswith((".", "_"))
    }


def plan_dir_merges(path: str) -> list[MergePlan]:
    """plan_merges for a plain parquet directory: level from the file name
    (Spark part files = level 1), greedy size-desc bin-pack per level with
    the standard caps, lone >cap/2 files rename-promoted."""
    sizes = _dir_file_sizes(path)
    by_level: dict[int, list[tuple[str, int]]] = {}
    for name, sz in sizes.items():
        lv = file_level(name) or 1
        if lv <= MAX_LEVEL:
            by_level.setdefault(lv, []).append((name, sz))
    plans: list[MergePlan] = []
    for lv in sorted(by_level):
        plans.extend(_pack_level(path, lv, by_level[lv]))
    return plans


# the shared fsync idiom (plans/index.py). _fsync_dir has no caller here
# (flat-dir publishes go through plans/journal.py) but keeps its name:
# perfbench/probes.py wraps both names to count fsyncs
from quackpipe_spark.plans.index import fsync_dir as _fsync_dir  # noqa: F401
from quackpipe_spark.plans.index import fsync_file as _fsync_file

# staging entries older than this are provably not a live write's
# (flushes stage for seconds; bulk writes for minutes)
_TMP_SWEEP_AGE_S = 3600.0


def _tree_newest_mtime(path: str, cutoff: float) -> float:
    """Newest mtime anywhere under ``path`` (the path itself included),
    short-circuiting as soon as anything newer than ``cutoff`` is found.
    A Spark job staging under tmp/<uuid>/ writes inside nested
    _temporary/ partition subdirs WITHOUT touching the top dir's mtime,
    so the top-level stat alone reads a live multi-hour bulk write as
    idle (ADVICE r15)."""
    try:
        newest = os.lstat(path).st_mtime
    except OSError:
        return 0.0
    if newest >= cutoff:
        return newest
    for root, dirs, files in os.walk(path):
        for name in dirs + files:
            try:
                m = os.lstat(os.path.join(root, name)).st_mtime
            except OSError:
                continue
            if m > newest:
                newest = m
                if newest >= cutoff:
                    return newest
    return newest


def _sweep_tmp(tmp_dir: str, max_age_s: float = _TMP_SWEEP_AGE_S) -> int:
    """Remove tmp/ staging entries (uuid stage dirs, orphaned .parquet
    stage files) whose ENTIRE tree is older than ``max_age_s`` — the
    leftovers of crashed or failed writes/merges. A dir with ANY recent
    write anywhere inside it is a live staging job and is left alone
    (deleting a live stage mid-job fails the write). Returns entries
    removed."""
    import shutil as _shutil

    removed = 0
    try:
        entries = list(os.scandir(tmp_dir))
    except OSError:
        return 0
    cutoff = time.time() - max_age_s
    for e in entries:
        try:
            if _tree_newest_mtime(e.path, cutoff) >= cutoff:
                continue
            if e.is_dir():
                _shutil.rmtree(e.path, ignore_errors=True)
            else:
                os.unlink(e.path)
            removed += 1
        except OSError:
            continue
    return removed


def _unlink_quiet(p: str) -> None:
    try:
        os.unlink(p)
    except FileNotFoundError:
        pass


# driver-local Arrow merge gate: a bin at or under this size merges in
# the driver process (multi-threaded pyarrow read, C++ sort/encode —
# measured 2.9× the single-Spark-task rewrite on the 768-file append
# shape: 2.6 s vs 7.5 s for 49 MB/4M rows, where the Spark task's
# parquet encode alone was ~3 s). The planner caps L1→L2 bins at 100 MB
# (LEVEL_CAPS), so the append-storm shape this exists for always
# qualifies; bigger bins (upper-level cascades up to 4 GB) stay on the
# executor path — pulling those through the driver is the anti-pattern.
_ARROW_MERGE_MAX_BYTES = 256 << 20


def _merge_bin_arrow(paths: list[str], out: str, order_by) -> None:
    """Driver-local sorted merge of one small bin: read → union-by-name
    (permissive promotion ≈ Spark mergeSchema) → sort → ONE parquet.
    Same output contract as the Spark path; 1M-row groups keep min/max
    stats usable for probe-side row-group pruning (the single-task Spark
    write landed everything in one group at these sizes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tables = [pq.read_table(p) for p in paths]
    # unify to an ALL-NULLABLE schema and null-fill missing columns
    # explicitly. concat_tables(promote_options=...) is NOT safe here:
    # it keeps a generation's `not null` field declaration (and its
    # Spark row-metadata) on a column it null-fills, and downstream
    # readers then decode those nulls as zeros — silent data corruption,
    # caught by test_arrow_and_spark_bin_merges_identical. Building the
    # schema fresh also drops the per-generation Spark metadata, which
    # would otherwise lie about the unified schema.
    uni = pa.unify_schemas([t.schema for t in tables], promote_options="permissive")
    schema = pa.schema([pa.field(f.name, f.type, nullable=True) for f in uni])
    parts = []
    for t in tables:
        cols = [
            t[f.name].cast(f.type)
            if f.name in t.column_names
            else pa.nulls(t.num_rows, f.type)
            for f in schema
        ]
        parts.append(pa.Table.from_arrays(cols, schema=schema))
    tbl = parts[0] if len(parts) == 1 else pa.concat_tables(parts)
    if order_by:
        # null_placement matches Spark's ascending default (NULLS FIRST);
        # pyarrow's own default is nulls-last, which would cluster a
        # schema-evolved null-filled key differently per merge path
        tbl = tbl.sort_by(
            [(c, "ascending") for c in order_by], null_placement="at_start"
        )
    pq.write_table(tbl, out, compression="snappy", row_group_size=1 << 20)


def compact_parquet_dir(
    spark, path: str, order_by: list[str] | None = None
) -> list[str]:
    """Execute all planned merges for one flat parquet dir: each bin is a
    single sorted rewrite (read inputs → sort → ONE output file at
    level+1) and the inputs are removed. ``order_by`` sorts the merged
    output so parquet row-group min/max stats prune later scans (e.g.
    bands by (band, bh): a probe's hash-join build side filter skips
    whole row groups). Returns the new file paths.

    Small bins (≤ _ARROW_MERGE_MAX_BYTES) merge driver-locally via
    pyarrow — one output file per bin either way, so a single executor
    task is the alternative, and the Arrow kernel beats it ~3× on the
    tiny-file append shape; any Arrow-side failure falls back to the
    Spark rewrite so exotic schema merges can't brick maintenance.

    Each bin publishes as one plans.journal commit (output moved in,
    inputs deleted), so a crash anywhere leaves the dir pre-merge or
    rolls forward to merged — never inputs and output both live. This is
    the dir's single writer: it runs the writer-side recovery first."""
    journal.recover(path, writer=True)
    out: list[str] = []
    for plan in plan_dir_merges(path):
        paths = [os.path.join(path, f) for f in plan.files]
        paths = [p for p in paths if os.path.exists(p)]
        if len(paths) < (1 if plan.promote else 2):
            continue
        final = f"{uuid.uuid4().hex}.{plan.out_level}.parquet"
        c = journal.begin(path)
        staged = c.staged(final)
        if plan.promote:
            try:
                os.link(paths[0], staged)
            except OSError:
                import shutil

                shutil.copy2(paths[0], staged)  # filesystems without hardlinks
        else:
            merged = False
            if sum(os.path.getsize(p) for p in paths) <= _ARROW_MERGE_MAX_BYTES:
                try:
                    _merge_bin_arrow(paths, staged, order_by)
                    merged = True
                except Exception:
                    pass  # a partial output stays in the stage, never moved
            if not merged:
                df = spark.read.option("mergeSchema", "true").parquet(*paths)
                if order_by:
                    df = df.sort(*order_by)
                df.coalesce(1).write.parquet(c.staged("spark"))
                part = next(
                    f for f in os.listdir(c.staged("spark")) if f.endswith(".parquet")
                )
                staged = c.staged("spark", part)
        c.move(staged, final)
        c.deletes.extend(plan.files)
        journal.commit(c)
        out.append(os.path.join(path, final))
    return out


def compact_parquet_tree(
    spark, root: str, order_by: list[str] | None = None
) -> list[str]:
    """compact_parquet_dir over every directory under ``root`` — the
    hive-partitioned layout (e.g. postings partitioned by term_bucket,
    IVF postings by cell). Partition columns live in the directory names,
    so per-leaf rewrites preserve them. Dot-dirs (journal stages) are
    never entered: their files were never published."""
    out: list[str] = []
    for dirpath, dirnames, _files in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(".")]
        out.extend(compact_parquet_dir(spark, dirpath, order_by))
    return out
