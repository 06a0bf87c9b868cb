"""The one crash-safe publish protocol of the index layer.

Every file the on-disk indexes publish goes through this module: a
flat-dir merge or promotion (``plans.compactor.compact_parquet_dir``), a
minhash-index append (``operators.dedup.append_to_minhash_index``), an FTS
postings append and the FTS stats row (``operators.fts``).

Commit shape
    A commit is a dot-hidden stage dir inside the journal root
    (``.journal-stage-<id>``), an ordered list of ``(src, dst)`` moves and
    a list of deletes, every path relative to the root. Every output is a
    move: a merged or hard-linked bin, staged Spark part files, a stats row
    that replaces the old one (an absolute value, so applying it twice is
    harmless) and, for a replay-idempotent append, a staged
    ``.applied-last`` holding the batch's ``write_id``, moved last.
    Dot-hidden names are invisible to Spark and pyarrow scans, so nothing
    staged is ever read as data.

Protocol (:func:`commit`)
    1. The caller stages its outputs under :meth:`Commit.staged` paths.
    2. The staged files are fsynced, then every directory from their
       parents up to the root. Roll-forward reads a missing src as
       "already moved", so a staged dentry must never be lost once the
       marker is durable.
    3. The marker (JSON: stage, moves, deletes) is written and fsynced as
       ``.journal-tmp-<id>``, renamed to ``.journal-commit-<id>`` and the
       root fsynced. That rename is the commit point. The two prefixes
       differ, so a committed marker is never mistaken for a tmp file,
       whatever the caller's ids look like.
    4. Roll forward: unlink the deletes, make the moves in order with
       ``os.replace``, fsync every touched directory and its parent, drop
       the marker, fsync the root, remove the stage.

Crash contract
    A crash before the commit point leaves every visible file, the stats
    row and ``.applied-last`` as they were. A crash after it is finished
    by the next :func:`recover`, reader or writer: the published files
    equal the never-crashed result. Stages and tmp markers without a
    committed marker are debris that only the writer's :func:`recover`
    removes, leaving exactly the never-crashed tree. A ``write_id`` append is
    exactly-once: the id lands in ``.applied-last`` in the same commit as
    the data, and callers skip an id :func:`applied_last` returns.

Race contract
    Readers call ``recover(root, writer=False)``. It rolls committed
    markers forward and never removes an uncommitted stage, which may be
    a live writer's. Every roll-forward step is idempotent and quiet on
    FileNotFoundError, so readers and the writer may roll one marker
    forward at the same time. Each staged file can be moved only once, so
    a late roll-forward of a finished marker is a no-op: it never moves
    ``.applied-last`` or the stats row back to an older value. Only the
    root's single writer calls ``recover(root, writer=True)``, at its
    entry and before it commits, so a root holds at most one marker.

    A roll-forward of a commit with deletes (a merge) that finds a move
    with neither src nor dst present, while its marker still exists,
    raises before it deletes anything, so inputs are never deleted for an
    output that is gone. In a commit without deletes (an append) such a
    move was made and its output since merged away by a compaction, so it
    counts as done and the rest of the commit still publishes. (The
    index compactions recover the index root before they merge, so they
    finish a pending append first.) Markers of the per-caller protocols
    this module replaced raise a RuntimeError naming the file.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass, field

from quackpipe_spark.plans.index import fsync_dir, fsync_file

STAGE = ".journal-stage-"
MARKER = ".journal-commit-"
TMP = ".journal-tmp-"
APPLIED = ".applied-last"
_OLD_MARKERS = (".append-pending-", ".append-commit-", ".compact-commit-")


@dataclass
class Commit:
    """A commit being staged: ``stage`` is the stage dir's name in
    ``root``; ``moves`` and ``deletes`` are relative to ``root``."""

    root: str
    stage: str
    moves: list[tuple[str, str]] = field(default_factory=list)
    deletes: list[str] = field(default_factory=list)

    @property
    def id(self) -> str:
        return self.stage[len(STAGE):]

    def staged(self, *parts: str) -> str:
        """Absolute path of ``parts`` inside the stage dir."""
        return os.path.join(self.root, self.stage, *parts)

    def move(self, src: str, dst: str) -> None:
        """Publish the staged file ``src`` (absolute) as ``dst``
        (relative to the root)."""
        self.moves.append((os.path.relpath(src, self.root), dst))


def begin(root: str) -> Commit:
    """A new commit with an empty stage dir inside ``root``."""
    c = Commit(root, f"{STAGE}{uuid.uuid4().hex}")
    os.makedirs(c.staged())
    return c


def commit(c: Commit, write_id: str | None = None) -> None:
    """Make ``c`` durable and publish it (see the module docstring);
    with ``write_id``, record it as the root's applied id in the same
    commit."""
    moves = list(c.moves)
    if write_id is not None:
        with open(c.staged(APPLIED), "w") as f:
            json.dump({"write_id": write_id}, f)
        moves.append((os.path.join(c.stage, APPLIED), APPLIED))
    dirs: set[str] = set()
    for src, _dst in moves:
        fsync_file(os.path.join(c.root, src))
        d = os.path.dirname(src)
        while d:
            dirs.add(d)
            d = os.path.dirname(d)
    for d in sorted(dirs, reverse=True):  # children before parents
        fsync_dir(os.path.join(c.root, d))
    fsync_dir(c.root)  # the stage's own dentry
    tmp = os.path.join(c.root, f"{TMP}{c.id}")
    with open(tmp, "w") as f:
        json.dump({"stage": c.stage, "moves": moves, "deletes": c.deletes}, f)
        f.flush()
        os.fsync(f.fileno())  # a failed fsync aborts before the commit point
    os.replace(tmp, os.path.join(c.root, f"{MARKER}{c.id}"))
    fsync_dir(c.root)
    _roll_forward(c.root, f"{MARKER}{c.id}")


def _roll_forward(root: str, name: str) -> None:
    marker = os.path.join(root, name)
    try:
        with open(marker) as f:
            j = json.load(f)
    except FileNotFoundError:
        return  # a racing recover finished it
    # a move with neither src nor dst was made and its output since
    # merged away: harmless when nothing is deleted (an append), fatal
    # for a merge, whose inputs must outlive its output
    for src, dst in j["moves"] if j["deletes"] else ():
        if os.path.exists(os.path.join(root, src)) or os.path.exists(
            os.path.join(root, dst)
        ):
            continue
        if not os.path.exists(marker):
            return  # finished by a racing recover; dst since merged away
        raise RuntimeError(
            f"journal marker {marker}: neither {src!r} nor {dst!r} exists, "
            "so the commit cannot be rolled forward; its deletes were not "
            "applied"
        )
    touched: set[str] = set()
    for rel in j["deletes"]:
        p = os.path.join(root, rel)
        try:
            os.unlink(p)
        except FileNotFoundError:
            pass
        touched.add(os.path.dirname(p))
    for src, dst in j["moves"]:
        d = os.path.join(root, dst)
        os.makedirs(os.path.dirname(d), exist_ok=True)
        try:
            os.replace(os.path.join(root, src), d)
        except FileNotFoundError:
            pass  # already moved, by an earlier or a racing run
        touched.update((os.path.dirname(d), os.path.dirname(os.path.dirname(d))))
    for d in sorted(touched):
        fsync_dir(d)
    try:
        os.unlink(marker)
    except FileNotFoundError:
        pass
    fsync_dir(root)
    shutil.rmtree(os.path.join(root, j["stage"]), ignore_errors=True)


def recover(root: str, writer: bool) -> None:
    """Roll committed markers in ``root`` forward; with ``writer``, also
    remove uncommitted stages and tmp markers. One listdir when clean."""
    try:
        names = sorted(os.listdir(root))
    except (FileNotFoundError, NotADirectoryError):
        return
    for n in names:
        if n.startswith(_OLD_MARKERS):
            raise RuntimeError(
                f"{os.path.join(root, n)} is a commit marker of an older "
                "publish protocol: finish or roll back its write with the "
                "version that made it, or rebuild the index, then delete "
                "the file"
            )
    for n in names:
        if n.startswith(MARKER):
            _roll_forward(root, n)
    if not writer:
        return
    for n in names:
        if n.startswith(TMP):
            try:
                os.unlink(os.path.join(root, n))
            except FileNotFoundError:
                pass
        elif n.startswith(STAGE):
            shutil.rmtree(os.path.join(root, n), ignore_errors=True)


def recover_tree(root: str, writer: bool) -> None:
    """:func:`recover` on ``root`` and every non-hidden dir below it."""
    for d, subdirs, _files in os.walk(root):
        subdirs[:] = [s for s in subdirs if not s.startswith(".")]
        recover(d, writer)


def applied_last(root: str) -> str | None:
    """The ``write_id`` of the root's last applied append, or None. One
    id is enough: Structured Streaming replays only the last uncommitted
    batch."""
    try:
        with open(os.path.join(root, APPLIED)) as f:
            return json.load(f)["write_id"]
    except (OSError, ValueError, KeyError):
        return None
