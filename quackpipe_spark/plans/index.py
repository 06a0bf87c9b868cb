"""Per-partition file index — metadata.json compat artifact (SURVEY §2A A15).

The reference keeps a JSON index per hive partition listing every live
parquet file with size, row count, and min/max of the order-by key, plus a
drop queue for deferred deletes (json_index.go:16-47,312-416; written
atomically via bak+rename). Spark itself relies on parquet footer stats and
partition pruning — this artifact exists for (a) query-time file pruning by
time range without touching footers, and (b) on-disk compatibility with the
reference's layout. Shape is approximated from the reference's described
behavior, not copied.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field, fields

# Per-partition-dir locks serializing every index read-modify-write in
# this process: the ingest flush thread, the merge ticker's plan/execute,
# and any concurrent MergePlans in one partition all mutate the same
# metadata.json — unserialized, the last save() wins and silently drops
# the other writer's entries (files become invisible to every query).
# The engine is single-process like the reference, so a threading lock is
# the right scope; a multi-writer deployment would move the index into a
# transactional store. READS (query-time table_files) stay lock-free:
# save() is atomic tmp+rename, so readers always see a complete index.
_DIR_LOCKS: dict[str, threading.Lock] = {}
_DIR_LOCKS_GUARD = threading.Lock()


def _dir_lock(partition_dir: str) -> threading.Lock:
    key = os.path.abspath(partition_dir)
    with _DIR_LOCKS_GUARD:
        return _DIR_LOCKS.setdefault(key, threading.Lock())


def fsync_dir(path: str) -> None:
    """Best-effort directory fsync: a rename (or a new directory entry)
    is durable only once its PARENT directory's entry is — shared by the
    index save and the publish journal (plans/journal.py) so the subtle
    idiom can't drift between copies."""
    try:
        fd = os.open(path, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
    except OSError:
        pass


def fsync_file(path: str) -> None:
    """Best-effort file fsync — the data half of the durability pair:
    without it a rename (and the fsync-hardened index save that follows)
    can be durable before the file's DATA blocks under delayed
    allocation, so a power loss leaves a durable index entry pointing at
    a truncated parquet. Same one-shared-copy rationale as fsync_dir
    (the publish journal and both Table publish paths all need the
    identical idiom — review r14)."""
    try:
        fd = os.open(path, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
    except OSError:
        pass


def norm_index_path(path: str) -> str:
    """Strip a ``file:`` scheme down to the plain OS path. Every public
    on-disk-index entry point (FTS postings, minhash bands) normalizes
    FIRST: the os.* machinery would otherwise take the URI string
    verbatim (os.makedirs('file:///x') creates a junk cwd-relative
    'file:' tree, open() raises FileNotFoundError on markers) while
    Spark resolves the real path — stats/markers and data silently land
    in different places (ADVICE r15: the minhash pending marker broke
    file:// appends that previously worked through Spark). Plain local
    paths and true remote schemes pass through."""
    if path.startswith("file://"):
        rest = path[7:]
        if not rest.startswith("/"):
            # file://HOST/p (RFC 8089): only the local forms are
            # meaningful here — proceeding would silently operate under
            # a /HOST/... tree, the exact misplacement this helper
            # exists to prevent. localhost maps to the path; anything
            # else is rejected loudly.
            host, _, tail = rest.partition("/")
            if host != "localhost":
                raise ValueError(
                    f"unsupported file:// host {host!r} in index path {path!r}"
                )
            rest = "/" + tail
        return rest
    if path.startswith("file:"):
        return path[5:]
    return path


@contextmanager
def locked_index(partition_dir: str):
    """load → mutate → save as one critical section. Every WRITER of a
    partition index must go through this (writer flush, compaction,
    tombstone reap); the index is re-loaded under the lock so no writer
    ever saves a stale copy."""
    with _dir_lock(partition_dir):
        idx = PartitionIndex.load(partition_dir)
        yield idx
        idx.save()


@dataclass
class FileEntry:
    name: str
    size_bytes: int
    row_count: int
    min_time: int | None = None
    max_time: int | None = None


@dataclass
class PartitionIndex:
    """Index of one hive partition directory (…/date=D/hour=H)."""

    path: str  # partition dir
    files: dict[str, FileEntry] = field(default_factory=dict)
    drop_queue: dict[str, float] = field(default_factory=dict)  # name → drop-after unix ts

    INDEX_NAME = "metadata.json"

    @classmethod
    def load(cls, partition_dir: str) -> "PartitionIndex":
        p = os.path.join(partition_dir, cls.INDEX_NAME)
        idx = cls(path=partition_dir)
        if os.path.exists(p):
            with open(p) as f:
                raw = json.load(f)
            # tolerate UNKNOWN entry fields (a metadata.json written by a
            # newer engine version, or the reference's richer json_index
            # entries): strict FileEntry(**v) made one extra field crash
            # every reader AND writer of the partition with the parquet
            # fully intact (review r12). Unknown fields are dropped on
            # the next rewrite — membership and min/max are what this
            # engine is authoritative for.
            known = {f.name for f in fields(FileEntry)}
            idx.files = {
                k: FileEntry(**{a: b for a, b in v.items() if a in known})
                for k, v in raw.get("files", {}).items()
            }
            idx.drop_queue = raw.get("drop_queue", {})
        return idx

    def save(self) -> None:
        """Atomic + durable write: tmp + fsync + rename + dir fsync
        (parity with the bak-rename dance, json_index.go:335-414). The
        index IS the partition's authoritative live-file list — a rename
        made durable before the tmp file's data blocks (delayed
        allocation) could survive a power loss as an EMPTY metadata.json,
        and table_files would then silently serve zero rows from a
        partition whose parquet is all still on disk."""
        p = os.path.join(self.path, self.INDEX_NAME)
        tmp = p + ".tmp"
        payload = {
            "files": {k: asdict(v) for k, v in self.files.items()},
            "drop_queue": self.drop_queue,
        }
        try:
            with open(tmp, "w") as f:
                json.dump(payload, f)
                f.flush()
                # a FAILED fsync must ABORT, not proceed (review r13):
                # Linux clears the dirty state after reporting EIO, so
                # renaming anyway publishes a file whose data blocks may
                # never reach disk — the exact empty-index-after-power-
                # loss hazard this dance exists to prevent. Keeping the
                # OLD index is always safe (it lists a consistent,
                # slightly stale live set).
                os.fsync(f.fileno())
        except OSError:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise
        os.replace(tmp, p)
        fsync_dir(self.path)

    def add(self, entry: FileEntry) -> None:
        self.files[entry.name] = entry

    def remove(self, names: list[str], drop_delay_s: float = 30.0) -> None:
        """Move files to the drop queue (delayed delete — tombstone cleanup
        parity, merge_service_fs.go:241-252)."""
        now = time.time()
        for n in names:
            self.files.pop(n, None)
            self.drop_queue[n] = now + drop_delay_s

    def reap(self) -> list[str]:
        """Delete queue entries whose delay elapsed; returns deleted names.

        Failure-isolated per file: reap runs inside callers' locked_index
        swaps, where an escaping OSError would abort the context manager
        BEFORE save() — discarding the just-committed add/remove and
        leaving the merged output invisible while the merge re-runs every
        tick. An undeletable file simply stays queued and retries."""
        now = time.time()
        gone = []
        for n, due in list(self.drop_queue.items()):
            if due <= now:
                fp = os.path.join(self.path, n)
                try:
                    if os.path.exists(fp):
                        os.remove(fp)
                except OSError:
                    continue  # keep queued; retried next cadence
                del self.drop_queue[n]
                gone.append(n)
        return gone

    def time_range(self) -> tuple[int | None, int | None]:
        mins = [f.min_time for f in self.files.values() if f.min_time is not None]
        maxs = [f.max_time for f in self.files.values() if f.max_time is not None]
        return (min(mins) if mins else None, max(maxs) if maxs else None)
